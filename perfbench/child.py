"""One measured run of the job path, in a fresh interpreter and JVM.

    python3 perfbench/child.py <spec.json> <result.json>

The spec names the workload kind ("build": `prove_spark.job.main` on a
transcripts parquet; "delta": `pipeline.checkpoint.incremental_update` on an
existing warehouse, then the entities table), the engine, the files, the
conversations whose triples are read back for the output check, and whether
the run is traced. The result holds the monotonic time at which set-up
ended, the job's wall time and what the job wrote, read back.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time


def main(spec_path: str, result_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    tracer = None
    if spec["trace"]:
        from perfbench.trace import Tracer

        tracer = Tracer()
    span = tracer.span if tracer else _no_span

    with span("setup"):
        with span("session.get_spark"):
            from prove_spark.session import get_spark

            spark = get_spark("perfbench")
        if tracer:
            tracer.sc = spark.sparkContext
        with span("setup.read_input"):
            transcripts = spark.read.parquet(spec["input"])
            changed = spark.read.parquet(spec["changed"]) if spec["kind"] == "delta" else None
    setup_end = time.monotonic()

    t0 = time.monotonic()
    if tracer:
        from perfbench.trace import instrument

        instrument(tracer)
    with span("job"):
        if spec["kind"] == "build":
            from prove_spark import job

            rc = job.main(["--input", spec["input"], "--warehouse", spec["warehouse"],
                           "--engine", spec["engine"], "--bucket-groups",
                           str(spec["bucket_groups"])])
            if rc != 0:
                raise RuntimeError(f"job.main returned {rc}")
        else:
            from dataclasses import replace

            from prove_spark.config import DEFAULT_CONFIG
            from prove_spark.pipeline.checkpoint import incremental_update
            from prove_spark.pipeline.run import build_entities
            from prove_spark.sources.tables import TableIO

            config = replace(DEFAULT_CONFIG, engine=spec["engine"])
            triples = incremental_update(spark, transcripts, changed, spec["warehouse"], config)
            TableIO(spark, spec["warehouse"]).overwrite(
                build_entities(spark, triples, config), "entities")
        with span("readback"):
            out = read_back(spark, spec["warehouse"], spec["sample"])
    job_s = time.monotonic() - t0

    result = {"setup_end": setup_end, "job_s": job_s,
              "k": spark.sparkContext.defaultParallelism, **out}
    if tracer:
        from perfbench.trace import attribute, fetch, python_metrics

        rest = fetch(spark.sparkContext.uiWebUrl)
        result["spans"] = tracer.spans
        result["executor"] = attribute(tracer.spans, rest["jobs"], rest["stages"])
        result["python"] = python_metrics(rest["sql"])
    with open(result_path, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


@contextlib.contextmanager
def _no_span(name):
    yield None


def read_back(spark, warehouse: str, sample: list[str]) -> dict:
    """Row counts of the three tables, the verdict mix, and the triples of
    the sampled conversations."""
    from pyspark.sql import functions as F

    def table(name):
        return spark.read.parquet(f"{warehouse}/{name}")

    triples = table("triples")
    mix = {r["verdict"]: r["n"] for r in
           triples.groupBy("verdict").agg(F.count("*").alias("n")).collect()}
    rows = triples.where(F.col("conv_id").isin(sample)).drop("bucket").collect()
    return {
        "verdicts": mix,
        "entities": table("entities").count(),
        "manifest": table("manifest").count(),
        "sample_rows": [r.asDict() for r in rows],
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
