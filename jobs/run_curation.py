"""spark-submit entry point for the corpus-curation pipeline.

Cluster usage (same deployment shape as jobs/run_kg.py):

    python tools/package.py                      # builds dist/palladian_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/palladian_spark.zip \\
        jobs/run_curation.py \\
        --input  <documents parquet dir> \\
        --output <output dir> \\
        [--base <prior survivors dir>]  [--min-quality 0.3]
        [--near-dup-threshold 0.2]

One-shot mode curates the whole input (PII scrub → quality gate →
repetition gates → exact dedup → near-dup representatives,
operators/curation.curate_corpus_full) and writes ``survivors/`` plus
the per-language ``report/`` funnel.  With ``--base`` it ALSO dedupes
the curated survivors against a prior corpus snapshot
(operators/dedup.incremental_dedup — exact semi-join + LSH new×base
only) before writing, recording per-doc decisions under ``decisions/``
— the recurring-crawl shape.

All cluster config (AQE, Arrow, shuffle partitions) comes from
spark-submit conf; this entry point only sets what the pipeline owns.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None, stop: bool = True) -> int:
    """``stop=False`` leaves the (shared) SparkSession running — for
    in-process tests; spark-submit always stops it."""
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="documents parquet dir with (doc_id, text, ...)")
    p.add_argument("--output", required=True,
                   help="output dir for survivors/ + report/ [+ decisions/]")
    p.add_argument("--base", default=None,
                   help="prior survivors parquet dir to dedupe against")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--near-dup-threshold", type=float, default=0.2)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F
    spark = SparkSession.builder.appName("palladian-curation").getOrCreate()

    from palladian_spark.operators.curation import (curate_corpus_full,
                                                    curation_report)
    from palladian_spark.operators.dedup import incremental_dedup

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    kept = curate_corpus_full(
        docs, min_quality=args.min_quality,
        near_dup_threshold=args.near_dup_threshold,
        id_col=args.id_col, text_col=args.text_col)
    survivors = docs.join(kept.select(args.id_col), args.id_col, "left_semi")

    n_vs_base = 0
    if args.base:
        base = spark.read.parquet(args.base)
        dec = incremental_dedup(base, survivors, id_col=args.id_col,
                                text_col=args.text_col,
                                threshold=args.near_dup_threshold)
        dec.write.mode("overwrite").parquet(f"{args.output}/decisions")
        new_ids = dec.where(~F.col("dup_exact")
                            & F.col("near_dup_of").isNull()) \
            .select(args.id_col)
        before = survivors.count()
        survivors = survivors.join(new_ids, args.id_col, "left_semi")
        n_vs_base = before - survivors.count()

    survivors.write.mode("overwrite").parquet(f"{args.output}/survivors")
    curation_report(docs, min_quality=args.min_quality,
                    near_dup_threshold=args.near_dup_threshold,
                    id_col=args.id_col, text_col=args.text_col) \
        .write.mode("overwrite").parquet(f"{args.output}/report")

    print(json.dumps({"docs_in": docs.count(),
                      "survivors": survivors.count(),
                      "dropped_vs_base": n_vs_base,
                      "seconds": round(time.time() - t0, 1)}))
    if stop:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
