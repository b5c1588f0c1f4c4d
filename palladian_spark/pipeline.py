"""End-to-end KG-construction pipeline with lineage & checkpoint-resume.

    transcripts → (salted repartition) → ONE fused NER + relations +
    linking stage (broadcast model and dictionary) → dedup → triples
    parquet + per-bucket lineage/metrics table

Checkpoint design (replaces the reference's monolithic serialized model
file, PalladianNer.java:174-182): work is partitioned into ``n_buckets``
deterministic conv_id hash buckets; each completed bucket appends its
triples AND a lineage row (bucket, stage, row_count, checksum).  Resume =
anti-join the bucket list against completed lineage rows — only missing
buckets are recomputed.  At cluster scale buckets map 1:1 onto Iceberg
partitions; parquet subdirectories model that here.

Per run, the dictionary is collected and broadcast with the model ONCE
(relations.prepare_canonical_extraction); each bucket only applies the
prepared stage to its slice, so a bucket costs its extraction stage, its
write and one driver-local lineage row.  A bucket's lineage row_count and
checksum are observed on its triples write (``DataFrame.observe``): one
pass, no cached copy, and the lineage describes exactly the rows written.
The lineage row is built on the driver (session.local_frame), so writing
it runs no Python task.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from palladian_spark.data.transcripts import entity_dictionary_pdf
from palladian_spark.ner.model import NerModel
from palladian_spark.ner.train import build_annotation_dictionary, build_entity_dictionary
from palladian_spark.relations import (
    DEFAULT_PATTERNS, prepare_canonical_extraction,
)
from palladian_spark.session import local_frame
from palladian_spark.textproc.taggers import Annotation


def model_from_entity_dictionary(entries) -> NerModel:
    """Build a tagging model from a canonical-entity dictionary alone (the
    setEntityDictionary path, PalladianNer.java:279-296): the entity dict
    drives exact tag switches; the annotation dictionary (char-5-grams over
    the surfaces) generalizes to unseen-but-similar forms.

    ``entries``: iterable of (surface, concept).
    """
    annotations = [Annotation(0, surface, concept) for surface, concept in entries]
    model = NerModel()
    model.entity_dictionary = build_entity_dictionary(annotations)
    model.annotation_dictionary = build_annotation_dictionary(annotations)
    return model


def default_model() -> NerModel:
    pdf = entity_dictionary_pdf()
    return model_from_entity_dictionary(zip(pdf["surface"], pdf["concept"]))


@dataclass
class PipelineResult:
    triples: DataFrame
    lineage: Optional[DataFrame]
    buckets_computed: int
    seconds: float


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 model: Optional[NerModel] = None,
                 entity_dict: Optional[DataFrame] = None,
                 patterns: Sequence = tuple(DEFAULT_PATTERNS),
                 output_dir: Optional[str] = None,
                 n_buckets: int = 16,
                 min_link_sim: Optional[float] = None,
                 drop_unlinked: bool = False) -> PipelineResult:
    """Run the full pipeline.  With ``output_dir`` set, runs bucket-wise with
    lineage and resumes from completed buckets; without it, runs in one shot
    and returns the triples DataFrame lazily.

    The dictionary is collected and broadcast (with the model) once per
    run, not per bucket; each bucket then costs its extraction stage, its
    write and one driver-local lineage row (no Python task).  A bucket's
    lineage row_count and checksum are observed on that write
    (``DataFrame.observe``), so they describe exactly the rows written,
    with no cached copy and no extra pass."""
    t0 = time.time()
    model = model or default_model()
    if entity_dict is None:
        entity_dict = spark.createDataFrame(
            entity_dictionary_pdf().assign(
                entity_id=lambda d: d["concept"].str.lower() + ":" + d["surface"]))

    def prepare():
        # fused single-pass extraction+linking (the broadcastable-dict
        # default; extract_canonical_triples docstring has the trade-off
        # vs the staged mapping-first shape, which canonicalize_triples
        # keeps for huge alias dictionaries)
        return prepare_canonical_extraction(model, entity_dict,
                                            patterns=patterns,
                                            min_link_sim=min_link_sim,
                                            drop_unlinked=drop_unlinked)

    if output_dir is None:
        return PipelineResult(prepare()(transcripts), None, 0, time.time() - t0)

    triples_dir = os.path.join(output_dir, "triples")
    lineage_dir = os.path.join(output_dir, "lineage")

    done = set()
    if os.path.exists(lineage_dir):
        done = {r["bucket"]
                for r in spark.read.parquet(lineage_dir).select("bucket").collect()}

    bucketed = transcripts.withColumn(
        "_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"))
    todo = sorted(set(range(n_buckets)) - done)
    extract = prepare() if todo else None
    for bucket in todo:
        part = bucketed.where(F.col("_bucket") == bucket).drop("_bucket")
        obs = Observation()
        result = extract(part).observe(
            obs, F.count(F.lit(1)).alias("row_count"),
            F.sum(F.pmod(F.xxhash64("conv_id", "turn_idx", "subj", "pred",
                                    "obj"), F.lit(1_000_000_007)))
            .alias("checksum"))
        # each bucket OVERWRITES its own partition directory, so a crash
        # between the triples write and the lineage append cannot duplicate
        # rows on resume — the rerun replaces the orphan output (idempotent
        # at-least-once → effectively exactly-once per bucket; on Iceberg
        # this is a REPLACE PARTITION commit)
        result.write.mode("overwrite").parquet(
            os.path.join(triples_dir, f"bucket={bucket}"))
        metrics = obs.get
        lineage_row = local_frame(
            spark, [(bucket, "triples", metrics["row_count"],
                     metrics["checksum"] or 0, time.time())],
            "bucket int, stage string, row_count long, checksum long, finished_at double")
        lineage_row.write.mode("append").parquet(lineage_dir)

    triples = spark.read.parquet(triples_dir).drop("bucket")
    lineage = spark.read.parquet(lineage_dir)
    return PipelineResult(triples, lineage, len(todo), time.time() - t0)
