"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (north rule):

    zip -r chf_spark.zip concept_hierarchy_formation_in_property_graphs_spark
    spark-submit --master <cluster> --py-files chf_spark.zip \
        jobs/run_pipeline_job.py --pages <parquet-or-iceberg> \
        --workdir <checkpoint-dir> [--n-entities N] [--lang en]

The job reads the pages table, runs S1→S6 with checkpoint/resume, and
prints the stage metrics as one JSON line. Re-launching with the same
--workdir resumes from the last complete snapshot.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path or iceberg table")
    ap.add_argument("--workdir", required=True, help="checkpoint/snapshot dir")
    ap.add_argument("--n-entities", type=int, default=500)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--iceberg", action="store_true",
                    help="treat --pages as an Iceberg table name")
    ap.add_argument("--n-buckets", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
        run_pipeline,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.sources.tables import (
        read_pages,
    )

    # spark-submit owns master/memory/executor conf; just get the session
    spark = SparkSession.builder.appName("chf-kg-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    pages = (
        read_pages(spark, iceberg_table=args.pages)
        if args.iceberg
        else read_pages(spark, path=args.pages)
    )
    out = run_pipeline(spark, pages, args.workdir,
                       n_entities=args.n_entities, lang=args.lang,
                       n_buckets=args.n_buckets)
    n_triples = out["triples"].count()
    n_concepts = out["concepts"].count()
    print(json.dumps({
        "triples": n_triples,
        "concepts": n_concepts,
        "metrics": out["metrics"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
