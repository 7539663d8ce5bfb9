"""The checkpointed build with two bucket groups in flight: the output and
the manifest must not depend on how the groups interleave."""

from __future__ import annotations

import glob
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from prove_spark.pipeline.checkpoint import run_checkpointed
from prove_spark.sources.dims import session_dim
from prove_spark.sources.tables import TableIO


def _sorted(df):
    return (
        df.drop("bucket")
        .toPandas()
        .sort_values(["claim_id"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def one_group_wh(spark, spark_transcripts, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("one_group"))
    run_checkpointed(spark, spark_transcripts, wh, bucket_groups=1)
    return wh


@pytest.fixture(scope="module")
def one_group(spark, one_group_wh):
    return _sorted(TableIO(spark, one_group_wh).read("triples"))


def test_eight_groups_match_one_group(spark, spark_transcripts, tmp_path, one_group):
    wh = str(tmp_path / "eight")
    eight = _sorted(run_checkpointed(spark, spark_transcripts, wh, bucket_groups=8))
    assert len(one_group) > 0
    assert eight.equals(one_group)

    # the manifest: exactly one row per bucket, stats equal to the files
    io = TableIO(spark, wh)
    m = io.read("manifest").toPandas()
    assert sorted(m.bucket) == list(range(32))
    actual = {
        int(r.bucket): (r.n_rows, r.n_convs)
        for r in io.read("triples")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"), F.countDistinct("conv_id").alias("n_convs"))
        .collect()
    }
    for r in m.itertuples():
        assert (r.n_rows, r.n_convs) == actual.get(r.bucket, (0, 0)), r.bucket
    # one manifest file per commit
    assert len(glob.glob(f"{wh}/manifest/*.parquet")) == 8


def test_resume_after_failure_under_overlap(
    spark, spark_transcripts, tmp_path, one_group, one_group_wh
):
    wh = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated failure after 1 commits"):
        run_checkpointed(
            spark, spark_transcripts, wh, bucket_groups=8, fail_after_groups=1
        )
    io = TableIO(spark, wh)
    # exactly one group committed; the group in flight may have written
    # triples without a manifest row
    assert len(io.read("manifest").collect()) == 4
    # groups not started were cancelled (running all 8 would write every
    # bucket the full build writes)
    written = glob.glob(f"{wh}/triples/bucket=*")
    assert len(written) < len(glob.glob(f"{one_group_wh}/triples/bucket=*"))

    resumed = _sorted(run_checkpointed(spark, spark_transcripts, wh, bucket_groups=8))
    assert resumed.equals(one_group)
    assert sorted(r.bucket for r in io.read("manifest").collect()) == list(range(32))


def test_session_dim_builds_once_under_concurrency(spark):
    """More threads than cores, a short switch interval and a slow builder:
    without the lock, every thread finds the key absent and builds."""
    calls = []
    n = 8
    start = threading.Barrier(n, timeout=30)

    def builder(s):
        calls.append(1)
        time.sleep(0.2)  # wide window for a second builder to slip in
        return s.range(1)

    key = f"overlap-test-{time.monotonic_ns()}"
    got = []

    def worker():
        start.wait()
        got.append(session_dim(spark, key, builder))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(got) == n and all(df is got[0] for df in got)
