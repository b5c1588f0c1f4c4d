"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule deployment shape):

    python tools/package.py                      # builds dist/palladian_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/palladian_spark.zip \\
        jobs/run_kg.py \\
        --input  <transcripts table/parquet dir> \\
        --output <output dir>  [--buckets 64]

The job reads the transcripts table (conv_id, turn_idx, role, text, tool,
ts), runs the full pipeline (salted repartition → one fused NER +
relations + broadcast-linking stage → deduplicated canonical triples)
bucket-wise with lineage rows, and
is resumable: rerunning with the same --output anti-joins completed
buckets and only computes the rest.

All config (AQE, Arrow, shuffle partitions) comes from spark-submit conf /
cluster defaults — this entry point only sets what the pipeline owns.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="transcripts parquet dir (or table path)")
    p.add_argument("--output", required=True,
                   help="output dir for triples/ + lineage/")
    p.add_argument("--buckets", type=int, default=64,
                   help="lineage bucket count (checkpoint-resume units)")
    p.add_argument("--entity-dict", default=None,
                   help="optional parquet with (entity_id, surface, concept)")
    p.add_argument("--min-link-sim", type=float, default=None,
                   help="drop mapping entries below this link similarity")
    p.add_argument("--drop-unlinked", action="store_true",
                   help="drop triples whose subj/obj resolved to no entity")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("palladian-kg").getOrCreate()

    from palladian_spark.pipeline import default_model, run_pipeline
    from palladian_spark.pipeline import model_from_entity_dictionary

    transcripts = spark.read.parquet(args.input)
    entity_dict = None
    model = None
    if args.entity_dict:
        entity_dict = spark.read.parquet(args.entity_dict)
        entries = [(r["surface"], r["concept"])
                   for r in entity_dict.select("surface", "concept").collect()]
        model = model_from_entity_dictionary(entries)
    result = run_pipeline(spark, transcripts, model=model,
                          entity_dict=entity_dict,
                          output_dir=args.output,
                          n_buckets=args.buckets,
                          min_link_sim=args.min_link_sim,
                          drop_unlinked=args.drop_unlinked)
    n = result.triples.count()
    print(json.dumps({"triples": n,
                      "buckets_computed": result.buckets_computed,
                      "seconds": round(result.seconds, 1)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
