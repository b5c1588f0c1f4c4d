"""Large-scale document deduplication operators.

These go beyond the reference (which has no dedup stage) — they are the
training-data-pipeline operators a 100 TB corpus needs before any IE runs.
All hash material is md5-derived so every value is engine-portable
(DuckDB oracles reproduce them bit-for-bit) and deterministic across
sessions — no seed state, no Python in the hot path.

Scale design:
  * exact dedup          — one hash aggregation (map-side combinable).
  * MinHash signatures   — explode shingles → groupBy(doc).min(hash_k):
                           shuffle size = shingles, combiner shrinks it to
                           one row per (doc, partition) before the exchange.
  * LSH candidate pairs  — band the signatures, self-join per (band, key)
                           bucket: only same-bucket docs ever meet, so the
                           join is |bucket|² per bucket instead of n² —
                           THE near-dup shape that survives 10⁹ docs.
  * SimHash              — per-token md5 bit votes, majority per bit; one
                           explode + one agg, fingerprint is a compact int.
  * n-gram Jaccard pairs — char-shingle verify step for LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _hash32(col, seed: int):
    """Deterministic 32-bit value from md5 — portable across engines."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"seed{seed}|"), col)),
                              1, 8), 16, 10).cast("long")


def token_shingles(text_col, k: int = 3):
    """Distinct k-token shingles of a whitespace-tokenized document."""
    toks = F.split(text_col, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k))))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 8,
                       shingle_k: int = 3) -> DataFrame:
    """(id, minhash_0..minhash_{n-1}) via explode + min-agg."""
    exploded = docs.select(
        id_col, F.explode(token_shingles(F.col(text_col), shingle_k))
        .alias("shingle"))
    aggs = [F.min(_hash32(F.col("shingle"), k)).alias(f"minhash_{k}")
            for k in range(num_hashes)]
    return exploded.groupBy(id_col).agg(*aggs)


def _banded(signatures: DataFrame, id_col: str, num_hashes: int,
            band_size: int) -> DataFrame:
    """(id, band, band_key) rows: the signature split into
    ``num_hashes // band_size`` bands, keyed by the concatenated hashes."""
    n_bands = num_hashes // band_size
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"minhash_{b * band_size + j}")
                               for j in range(band_size)]).alias("band_key"))
        for b in range(n_bands)])
    return (signatures
            .select(F.col(id_col), F.explode(bands).alias("bk"))
            .select(id_col, "bk.band", "bk.band_key"))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 8, band_size: int = 2) -> DataFrame:
    """Band the signature and self-join per (band, band_key) bucket.

    Docs sharing ANY band collide; output is the distinct (a_id < b_id)
    candidate set.  The bucket join is a plain shuffle hash join on the
    band key — skewed mega-buckets (boilerplate docs) are exactly what
    AQE skew-join splitting handles.
    """
    banded = _banded(signatures, id_col, num_hashes, band_size)
    a = banded.select(F.col(id_col).alias("a_id"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("b_id"), "band", "band_key")
    return (a.join(b, ["band", "band_key"])
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id").distinct())


def minhash_dedup_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", num_hashes: int = 8,
                        band_size: int = 2, shingle_k: int = 3,
                        threshold: float = 0.5,
                        round_decimals: int = 6) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline:
    signatures → banded candidate pairs → exact shingle-Jaccard verify.

    The verify join re-attaches each doc's distinct shingle set (array
    column, no explosion) and computes Jaccard JVM-side — only candidate
    pairs pay it, never n².
    """
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, band_size)
    shingled = docs.select(F.col(id_col),
                           token_shingles(F.col(text_col), shingle_k)
                           .alias("shingles"))
    a = shingled.select(F.col(id_col).alias("a_id"),
                        F.col("shingles").alias("a_sh"))
    b = shingled.select(F.col(id_col).alias("b_id"),
                        F.col("shingles").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size(F.array_union("a_sh", "b_sh"))
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return (cands.join(a, "a_id").join(b, "b_id")
            .select("a_id", "b_id",
                    F.round(jac, round_decimals).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def incremental_dedup(base: DataFrame, new: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 8, band_size: int = 2,
                      shingle_k: int = 3, threshold: float = 0.5,
                      round_decimals: int = 6) -> DataFrame:
    """Dedupe a NEW document batch against an existing BASE corpus — the
    snapshot-over-snapshot shape of a recurring crawl: the base is
    already deduped, so it must never be re-paired against itself (no
    base² work, only new×base).

    One row per new doc: (id, dup_exact, near_dup_of, jaccard)

      * ``dup_exact``   — the doc's text hash exists in base (semi-join
        against the distinct base fingerprint set — at 100 TB the base
        fingerprints are a compact table the join shuffles by hash; a dup
        survives a re-crawl byte-identically, so md5(text) is the key).
      * ``near_dup_of`` — the best-matching base doc id: MinHash bands of
        NEW joined against bands of BASE (bucket cost |new_b|×|base_b|),
        verified by exact shingle Jaccard ≥ ``threshold``, ranked by
        rounded Jaccard DESC then base id ASC (the repo's deterministic
        tie-break).  NULL (with NULL ``jaccard``) when nothing matches —
        the doc is genuinely new.

    Keep-set = NOT dup_exact AND near_dup_of IS NULL.
    """
    new_fp = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("_fp"))
    base_fp = (base.select(F.md5(F.col(text_col)).alias("_fp")).distinct()
               .withColumn("_in_base", F.lit(True)))
    exact = (new_fp.join(base_fp, "_fp", "left")
             .select(id_col, F.coalesce("_in_base", F.lit(False))
                     .alias("dup_exact")))

    sig_new = minhash_signatures(new, id_col, text_col, num_hashes, shingle_k)
    sig_base = minhash_signatures(base, id_col, text_col, num_hashes,
                                  shingle_k)
    bn = _banded(sig_new, id_col, num_hashes, band_size) \
        .select(F.col(id_col).alias("n_id"), "band", "band_key")
    bb = _banded(sig_base, id_col, num_hashes, band_size) \
        .select(F.col(id_col).alias("b_id"), "band", "band_key")
    cand = bn.join(bb, ["band", "band_key"]).select("n_id", "b_id").distinct()

    sh_new = new.select(F.col(id_col).alias("n_id"),
                        token_shingles(F.col(text_col), shingle_k)
                        .alias("n_sh"))
    sh_base = base.select(F.col(id_col).alias("b_id"),
                          token_shingles(F.col(text_col), shingle_k)
                          .alias("b_sh"))
    inter = F.size(F.array_intersect("n_sh", "b_sh"))
    union = F.size(F.array_union("n_sh", "b_sh"))
    jac = F.round(F.when(union == 0, F.lit(1.0)).otherwise(inter / union),
                  round_decimals)
    from pyspark.sql import Window
    verified = (cand.join(sh_new, "n_id").join(sh_base, "b_id")
                .select("n_id", "b_id", jac.alias("jaccard"))
                .where(F.col("jaccard") >= threshold))
    best = (verified
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy("n_id")
                .orderBy(F.col("jaccard").desc(), F.col("b_id").asc())))
            .where(F.col("_rn") == 1)
            .select(F.col("n_id").alias(id_col),
                    F.col("b_id").alias("near_dup_of"), "jaccard"))
    return (exact.join(best, id_col, "left")
            .select(id_col, "dup_exact", "near_dup_of", "jaccard"))


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per distinct token, md5-derived bit votes;
    majority per bit position sets the fingerprint bit.

    One explode + one agg; the vote sums are map-side combinable.  Hamming
    distance between fingerprints then approximates token-set similarity.
    """
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    exploded = docs.select(id_col, F.explode(toks).alias("token"))
    h = _hash32(F.col("token"), 0)
    votes = [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << k)) != 0, 1).otherwise(-1))
        .alias(f"v{k}")
        for k in range(bits)
    ]
    voted = exploded.groupBy(id_col).agg(*votes)
    fp = None
    for k in range(bits):
        bit = F.when(F.col(f"v{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return voted.select(id_col, fp.cast("long").alias("simhash"))


def simhash_neardup_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", bits: int = 32,
                          band_bits: int = 8,
                          max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: (a_id, b_id, hamming ≤ ``max_hamming``).

    The fingerprint is cut into ``bits // band_bits`` contiguous bit
    bands; docs sharing ANY band meet in a bucket join (the same
    LSH-banding shape as MinHash), then the exact Hamming distance is
    verified with one xor+bit_count — pure codegen, only candidate
    pairs pay it.

    Pigeonhole guarantee: a pair at Hamming distance d < n_bands has at
    least one band with NO differing bit, so banding has FULL recall
    for ``max_hamming ≤ n_bands − 1`` — at the defaults (32 bits, 4
    bands, distance ≤ 3) this operator is EXACT, not approximate
    (16-bit fingerprints saturate on homogeneous corpora — nearly half
    of all pairs land within distance 3 — so 32 is the floor).  At
    corpus scale use bits=64/band_bits=16: same guarantee, buckets
    2⁸× sparser; skewed buckets (boilerplate) are AQE skew-join food
    like every other band join here.
    """
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    fp = simhash(docs, id_col=id_col, text_col=text_col, bits=bits)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                 .bitwiseAND(F.lit(mask)).alias("key"))
        for b in range(n_bands)])
    banded = (fp.select(id_col, "simhash", F.explode(bands).alias("bk"))
              .select(id_col, "simhash", "bk.band", "bk.key"))
    a = banded.select(F.col(id_col).alias("a_id"),
                      F.col("simhash").alias("a_fp"), "band", "key")
    b = banded.select(F.col(id_col).alias("b_id"),
                      F.col("simhash").alias("b_fp"), "band", "key")
    cand = (a.join(b, ["band", "key"])
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", "a_fp", "b_fp").distinct())
    ham = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    return (cand.select("a_id", "b_id", ham.cast("int").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        bucket_col=None, threshold: float = 0.5,
                        round_decimals: int = 6) -> DataFrame:
    """Char-n-gram Jaccard near-dup pairs within a blocking bucket.

    ``bucket_col`` is the blocking key (default: length(text) DIV 50) —
    near-dups have near-equal lengths, so blocking kills the n² while
    keeping recall; at corpus scale this is the poor-man's LSH for char
    similarity.
    """
    bucket = bucket_col if bucket_col is not None \
        else (F.length(text_col) / 50).cast("int")
    padded = F.concat(F.lit("#" * (n - 1)), F.lower(F.col(text_col)),
                      F.lit("#" * (n - 1)))
    idx = F.sequence(F.lit(1), F.length(padded) - (n - 1))
    grams = F.array_distinct(F.transform(idx, lambda i: padded.substr(i, F.lit(n))))
    g = docs.select(F.col(id_col), bucket.alias("_bucket"), grams.alias("grams"))
    a = g.select(F.col(id_col).alias("a_id"), "_bucket",
                 F.col("grams").alias("a_g"))
    b = g.select(F.col(id_col).alias("b_id"), "_bucket",
                 F.col("grams").alias("b_g"))
    inter = F.size(F.array_intersect("a_g", "b_g"))
    union = F.size(F.array_union("a_g", "b_g"))
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return (a.join(b, "_bucket")
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", F.round(jac, round_decimals).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def embedding_neardup_pairs(embeddings: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95,
                            round_decimals: int = 4,
                            method: str = "auto",
                            max_exact_rows: int = 2_000_000) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``.

    method:
      * "exact" — distributed block-partitioned matmul
        (similarity_search.block_matmul_pairs); exact but O(N²) flops, so
        it is guarded at ``max_exact_rows``.
      * "lsh"   — multi-table random-hyperplane buckets + exact verify per
        bucket (similarity_search.lsh_bucketed_pairs); approximate, the
        path that survives 10⁹ vectors.
      * "auto"  — exact below ``max_exact_rows``, LSH above.

    Neither path ever collects the vector table to the driver.
    """
    from palladian_spark.operators.similarity_search import (
        block_matmul_pairs, lsh_bucketed_pairs)
    n = None
    if method == "auto":
        n = embeddings.count()
        method = "exact" if n <= max_exact_rows else "lsh"
    if method == "exact":
        # pass the already-known count so the guard doesn't re-scan
        return block_matmul_pairs(embeddings, id_col=id_col, vec_col=vec_col,
                                  threshold=threshold,
                                  round_decimals=round_decimals,
                                  max_rows=max_exact_rows, n_rows=n)
    return lsh_bucketed_pairs(embeddings, id_col=id_col, vec_col=vec_col,
                              threshold=threshold,
                              round_decimals=round_decimals)
