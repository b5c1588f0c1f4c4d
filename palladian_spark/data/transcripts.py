"""Deterministic synthetic transcript tables.

The input contract (BASELINE.json input_hint) is an Iceberg/parquet table
    (conv_id:string, turn_idx:int32, role:string, text:string,
     tool:string, ts:timestamp)
of multi-turn conversation / agent transcripts.  Two generators:

  * ``synthetic_transcripts_pdf`` — small, pandas-side, dense turn_idx,
    embeds the StringTagger golden sentences; used by correctness tests.
    Gold mentions/triples are derivable from the templates.

  * ``generate_transcripts_df`` — DISTRIBUTED generator: every column is a
    deterministic JVM-side expression of ``spark.range`` ids (no Python in
    the loop), so a 5M-turn bench table materializes at shuffle-free scan
    speed and the same recipe would make a 10^12-turn table on a cluster.
    A configurable fraction of rows lands in one "hot" conversation to
    exercise skew handling.

  * ``tpch_transcripts_df`` — derives transcript text deterministically
    from the driver-provided TPC-H tables (lineitem⋈orders⋈customer,
    lineitem⋈supplier, supplier⋈nation), which makes expected mentions and
    triples analytically computable by a SQL oracle.
"""

from __future__ import annotations

from typing import List, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

# --- deterministic entity vocabulary (seeded by construction) --------------

PERSONS = [
    "Alice Johnson", "Bob Miller", "Carol Davis", "David Wilson", "Emma Moore",
    "Frank Taylor", "Grace Anderson", "Henry Thomas", "Irene Jackson",
    "James White", "Karen Harris", "Leo Martin", "Mona Thompson",
    "Nathan Garcia", "Olivia Martinez", "Paul Robinson", "Quinn Clark",
    "Rachel Rodriguez", "Samuel Lewis", "Tina Walker",
]
ORGS = [
    "Acme Corporation", "Globex Corporation", "Initech Systems",
    "Umbrella Industries", "Stark Industries", "Wayne Enterprises",
    "Wonka Factory", "Cyberdyne Systems", "Tyrell Corporation",
    "Aperture Science", "Vandelay Industries", "Hooli Holdings",
    "Dunder Mifflin", "Sterling Cooper", "Massive Dynamic",
]
LOCS = [
    "Berlin", "Paris", "London", "Madrid", "Vienna", "Dublin", "Lisbon",
    "Prague", "Warsaw", "Budapest", "Amsterdam", "Brussels",
]

# relation sentence templates: (template, [(subj_slot, pred, obj_slot), ...])
# slots: P=person, O=org, L=loc
TEMPLATES: List[Tuple[str, List[Tuple[str, str, str]]]] = [
    ("{P} works for {O} in {L}.",
     [("P", "works_for", "O"), ("O", "located_in", "L")]),
    ("{P} met {P2} in {L}.",
     [("P", "met", "P2")]),
    ("{O} is based in {L}.",
     [("O", "located_in", "L")]),
    ("{P} visited {L} last week.",
     [("P", "visited", "L")]),
]

FILLER = [
    "the report was finished on time and nothing else happened.",
    "please run the pipeline again with the new settings.",
    "results look fine to me, let's ship the change tomorrow.",
]

# a few StringTagger golden sentences for realism (mention-only turns)
GOLDEN_SENTENCES = [
    "the United States of America (USA) are often called the USA.",
    "Dolce & Gabana as well as S&P are companies.",
    "the Republic of Ireland, and Return of King Arthur.",
    "A Short History of L’Arc de Triomphe.",
]


def entity_dictionary_pdf() -> pd.DataFrame:
    """The canonical-entity dictionary (CONCEPT###ENTITY shape,
    PalladianNer.java:279-296) as a small pandas frame."""
    rows = ([(p, "PER") for p in PERSONS] + [(o, "ORG") for o in ORGS]
            + [(l, "LOC") for l in LOCS])
    return pd.DataFrame(rows, columns=["surface", "concept"])


def _pick(lst, i):
    return lst[i % len(lst)]


def synthetic_transcripts_pdf(n_convs: int = 10, turns_per_conv: int = 12,
                              hot_conv_turns: int = 0, seed: int = 7):
    """Small deterministic transcripts + gold triples (pandas).

    Returns (transcripts_pdf, gold_triples_pdf).  Text is template-driven;
    gold triples follow from the templates analytically (no tagging run).
    """
    t_rows = []
    g_rows = []
    counter = seed

    def add_turn(conv_id: str, turn_idx: int) -> None:
        nonlocal counter
        counter += 1
        i = counter
        kind = i % 6
        role = "user" if turn_idx % 2 == 0 else "assistant"
        ts = pd.Timestamp("2026-01-01") + pd.Timedelta(minutes=i % 100000)
        if kind < 4:
            template, rels = TEMPLATES[kind]
            slots = {
                "P": _pick(PERSONS, i), "P2": _pick(PERSONS, i * 7 + 3),
                "O": _pick(ORGS, i * 3 + 1), "L": _pick(LOCS, i * 5 + 2),
            }
            text = template.format(**slots)
            t_rows.append((conv_id, turn_idx, role, text, None, ts))
            for subj_slot, pred, obj_slot in rels:
                g_rows.append((conv_id, turn_idx, slots[subj_slot], pred,
                               slots[obj_slot]))
        elif kind == 4:
            t_rows.append((conv_id, turn_idx, role, _pick(GOLDEN_SENTENCES, i),
                           None, ts))
        else:
            t_rows.append((conv_id, turn_idx, "tool", _pick(FILLER, i),
                           "search", ts))

    for c in range(n_convs):
        for t in range(turns_per_conv):
            add_turn(f"conv-{c:04d}", t)
    for t in range(hot_conv_turns):
        add_turn("conv-hot", t)

    transcripts = pd.DataFrame(
        t_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    gold = pd.DataFrame(
        g_rows, columns=["conv_id", "turn_idx", "subj", "pred", "obj"])
    gold["turn_idx"] = gold["turn_idx"].astype("int32")
    return transcripts, gold


# ---------------------------------------------------------------------------
# distributed generator — all columns are JVM-side expressions of the row id
# ---------------------------------------------------------------------------

def generate_transcripts_df(spark: SparkSession, n_turns: int,
                            n_convs: int | None = None,
                            hot_fraction: float = 0.0) -> DataFrame:
    """n_turns rows, entirely via Catalyst expressions (zero Python per row).

    conv_id = id % n_convs (or the single hot conversation for the first
    ``hot_fraction`` of the id space), turn_idx = id / n_convs — stable and
    deterministic.  Text rotates through the relation templates with
    entities chosen by id arithmetic, so gold triples are computable from
    the same arithmetic (see ``generated_gold_triples_df``).
    """
    n_convs = n_convs or max(1, n_turns // 50)
    df = spark.range(n_turns)  # id: 0..n_turns-1

    person = _array_pick(PERSONS, F.col("id"))
    person2 = _array_pick(PERSONS, F.col("id") * 7 + 3)
    org = _array_pick(ORGS, F.col("id") * 3 + 1)
    loc = _array_pick(LOCS, F.col("id") * 5 + 2)

    kind = (F.col("id") % 6).cast("int")
    text = (
        F.when(kind == 0, F.concat(person, F.lit(" works for "), org,
                                   F.lit(" in "), loc, F.lit(".")))
        .when(kind == 1, F.concat(person, F.lit(" met "), person2,
                                  F.lit(" in "), loc, F.lit(".")))
        .when(kind == 2, F.concat(org, F.lit(" is based in "), loc, F.lit(".")))
        .when(kind == 3, F.concat(person, F.lit(" visited "), loc,
                                  F.lit(" last week.")))
        .when(kind == 4, _array_pick(GOLDEN_SENTENCES, F.col("id")))
        .otherwise(_array_pick(FILLER, F.col("id")))
    )

    hot = (F.col("id") < F.lit(int(n_turns * hot_fraction)))
    conv_id = F.when(hot, F.lit("conv-hot")).otherwise(
        F.concat(F.lit("conv-"), F.lpad((F.col("id") % n_convs).cast("string"), 8, "0")))
    turn_idx = F.when(hot, F.col("id")).otherwise(
        (F.col("id") / n_convs).cast("long")).cast("int")

    return df.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        F.when(F.col("id") % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")).alias("role"),
        text.alias("text"),
        F.when(kind == 5, F.lit("search")).alias("tool"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=(F.col("id") % 86400).cast("double"))).alias("ts"),
        F.col("id").alias("_gen_id"),
    )


def _array_pick(values: List[str], idx_col):
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (idx_col % len(values)).cast("int") + 1)


def generated_gold_triples_df(gen_df: DataFrame) -> DataFrame:
    """Expected (subj, pred, obj) for ``generate_transcripts_df`` output —
    the same id arithmetic, JVM-side, enabling triple-P/R evaluation at any
    scale without a Python oracle."""
    kind = (F.col("_gen_id") % 6).cast("int")
    person = _array_pick(PERSONS, F.col("_gen_id"))
    person2 = _array_pick(PERSONS, F.col("_gen_id") * 7 + 3)
    org = _array_pick(ORGS, F.col("_gen_id") * 3 + 1)
    loc = _array_pick(LOCS, F.col("_gen_id") * 5 + 2)

    triples = F.when(kind == 0, F.array(
        F.struct(person.alias("subj"), F.lit("works_for").alias("pred"), org.alias("obj")),
        F.struct(org.alias("subj"), F.lit("located_in").alias("pred"), loc.alias("obj")),
    )).when(kind == 1, F.array(
        F.struct(person.alias("subj"), F.lit("met").alias("pred"), person2.alias("obj")),
    )).when(kind == 2, F.array(
        F.struct(org.alias("subj"), F.lit("located_in").alias("pred"), loc.alias("obj")),
    )).when(kind == 3, F.array(
        F.struct(person.alias("subj"), F.lit("visited").alias("pred"), loc.alias("obj")),
    )).otherwise(F.array())

    return (gen_df
            .select("conv_id", "turn_idx", F.explode(triples).alias("t"))
            .select("conv_id", "turn_idx", "t.subj", "t.pred", "t.obj"))


# ---------------------------------------------------------------------------
# TPC-H-derived transcripts (driver testdata → oracle-checkable inputs)
# ---------------------------------------------------------------------------

def tpch_transcripts_df(spark: SparkSession, sf_dir: str,
                        two_sentences: bool = False) -> DataFrame:
    """Transcript turns derived deterministically from the driver's TPC-H
    parquet: one turn per lineitem, text
    'Customer C<ck> works for Supplier S<sk> in Nation N<nk>.'
    (capitalized-name shapes the StringTagger recognizes).  A DuckDB oracle
    can compute the expected mentions/triples analytically from the same
    join.  With ``two_sentences`` a second sentence
    'Supplier S<sk> is based in Nation N<nk>.' is appended so sentence
    segmentation has something to split."""
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    joined = (lineitem
              .join(orders, lineitem.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey))

    cust = F.concat(F.lit("Customer C"), F.col("o_custkey").cast("string"))
    supp = F.concat(F.lit("Supplier S"), F.col("s_suppkey").cast("string"))
    nat = F.concat(F.lit("Nation N"), F.col("s_nationkey").cast("string"))

    text = F.concat(cust, F.lit(" works for "), supp, F.lit(" in "), nat,
                    F.lit("."))
    if two_sentences:
        text = F.concat(text, F.lit(" "), supp, F.lit(" is based in "), nat,
                        F.lit("."))
    return joined.select(
        F.concat(F.lit("conv-"), F.col("l_orderkey").cast("string")).alias("conv_id"),
        F.col("l_linenumber").cast("int").alias("turn_idx"),
        F.when(F.col("l_linenumber") % 2 == 0, F.lit("assistant"))
         .otherwise(F.lit("user")).alias("role"),
        text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("l_shipdate").alias("ts"),
    )
