"""spark-submit entrypoint: transcripts table → triples + entities tables.

Run on a cluster (the north-rule deployment shape; launch.py is a two-line
shim `from prove_spark.job import main; sys.exit(main(sys.argv[1:]))` —
job.py itself uses package-relative imports, so it ships inside the zip and
is entered through the shim, never passed to spark-submit directly):

    spark-submit --master <cluster> --py-files prove_spark.zip launch.py \
        --input  s3://lake/transcripts          # or a local parquet dir \
        --warehouse s3://lake/kg                 \
        --bucket-groups 8                        \
        --engine jvm

(tests/test_job.py runs exactly this shape end-to-end: zip + shim + a
neutral cwd with no repo on PYTHONPATH, asserting the submitted --master is
respected rather than overridden by the local builder.)

or locally:

    python -m prove_spark.job --sf-dir /root/testdata/sf0.01 --warehouse /tmp/kg

Resume: re-running with the same input + warehouse skips every bucket whose
latest manifest row carries that bucket's current input fingerprint
(pipeline/checkpoint.py); a crash mid-bucket-group is repaired by the
idempotent per-bucket overwrite on the next run, and a rerun over changed
input recomputes only the changed buckets.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts dir (conv_id, turn_idx, role, text, tool, ts)")
    src.add_argument("--sf-dir", help="testdata sf dir — synthesize transcripts from its documents table")
    p.add_argument(
        "--input-format",
        choices=["parquet", "jsonl"],
        default="parquet",
        help="format of --input; jsonl quarantines malformed lines to <warehouse>/quarantine",
    )
    p.add_argument("--warehouse", required=True, help="output table root (triples, entities, manifest)")
    p.add_argument("--bucket-groups", type=int, default=4, help="checkpoint commit units")
    p.add_argument("--engine", choices=["jvm", "arrow"], default="jvm")
    p.add_argument("--replicate", type=int, default=1, help="deterministic input fan-out (with --sf-dir)")
    args = p.parse_args(argv)

    from dataclasses import replace

    from pyspark.sql import SparkSession

    from .config import DEFAULT_CONFIG
    from .pipeline.checkpoint import run_checkpointed, stage_metrics
    from .pipeline.run import build_entities
    from .sources.tables import TableIO

    # under spark-submit the session is configured by the submitter; local
    # fallback uses our tuned builder
    spark = SparkSession.getActiveSession()
    if spark is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            # launched by spark-submit: the gateway JVM already carries the
            # submitter's conf (--master, memory, shuffle partitions) — a
            # builder.master() here would silently OVERRIDE the cluster
            # master and run the whole job on the driver. Only session-level
            # SQL confs that correctness depends on are set.
            spark = (
                SparkSession.builder.config(
                    "spark.sql.session.timeZone", "UTC"
                )
                .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                .getOrCreate()
            )
        else:
            from .session import get_spark

            spark = get_spark("prove-spark-job")

    config = replace(DEFAULT_CONFIG, engine=args.engine)
    n_quarantined = 0
    if args.input and args.input_format == "jsonl":
        from .sources.jsonl import stage_transcripts_jsonl

        # ONE pass over the raw feed: a lane-partitioned staging write
        # (good/corrupt) — the checkpointed pipeline re-reads its input per
        # bucket group (plus the lineage fingerprint pass), which against
        # raw JSONL would re-run from_json ~bucket_groups+2 times; against
        # the staged parquet each pass is a pruned columnar read.
        staging = args.warehouse.rstrip("/") + "/staging_transcripts"
        transcripts, corrupt = stage_transcripts_jsonl(spark, args.input, staging)
        # quarantine before the pipeline consumes the feed: malformed lines
        # are preserved for replay, never silently dropped (F11 at ingest).
        # The plain-text dir is the replay CONTRACT (grep/replay-able as-is);
        # the staging lane=corrupt partition it is derived from is internal.
        # Both the write and the count below are pruned columnar reads of
        # that partition, never re-reads of the raw feed.
        corrupt.write.mode("overwrite").text(args.warehouse.rstrip("/") + "/quarantine")
        n_quarantined = corrupt.count()
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        from .datagen import transcripts_df

        transcripts = transcripts_df(spark, args.sf_dir, replicate=args.replicate)

    t0 = time.time()
    triples = run_checkpointed(
        spark,
        transcripts,
        args.warehouse,
        config,
        bucket_groups=args.bucket_groups,
    )
    io = TableIO(spark, args.warehouse)
    # data-quality counters ride the WRITE action itself (DataFrame.observe:
    # an accumulator-backed aggregate evaluated while the rows stream to the
    # sink) — the entity count and null-label check cost zero extra passes,
    # where a .count() after the write would re-run the whole entity
    # aggregation or re-scan the table
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("entities_quality")
    entities = build_entities(spark, triples).observe(
        obs,
        F.count(F.lit(1)).alias("n_entities"),
        F.sum(F.when(F.col("label").isNull(), 1).otherwise(0)).alias(
            "null_labels"
        ),
        F.sum("n_subj_claims").alias("n_subj_claims"),
    )
    io.overwrite(entities, "entities")
    quality = obs.get

    n_triples = triples.count()
    n_entities = quality["n_entities"]
    metrics = stage_metrics(io)
    print(
        json.dumps(
            {
                "n_triples": n_triples,
                "n_entities": n_entities,
                "quality": {
                    "null_labels": int(quality["null_labels"] or 0),
                    "n_subj_claims": int(quality["n_subj_claims"] or 0),
                },
                "n_manifest_rows": metrics.count(),
                "n_quarantined": n_quarantined,
                "wall_sec": round(time.time() - t0, 2),
                "warehouse": args.warehouse,
                "engine": args.engine,
                "master": spark.sparkContext.master,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
