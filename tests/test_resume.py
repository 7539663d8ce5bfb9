"""Resume test (SURVEY.md §5 item 4): kill after k commit groups, rerun,
output table identical to an uninterrupted run."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from prove_spark.pipeline.checkpoint import (
    completed_buckets,
    input_fingerprint,
    run_checkpointed,
    stage_metrics,
)
from prove_spark.sources.tables import TableIO


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.drop(columns=["bucket"])
        .sort_values(["claim_id"])
        .reset_index(drop=True)
    )


def _latest_fingerprints(io: TableIO) -> dict[int, str]:
    m = io.read("manifest").toPandas()
    latest = m.sort_values("completed_ts", kind="stable").groupby("bucket").tail(1)
    return dict(zip(latest.bucket, latest.input_fingerprint))


def test_resume_after_failure(spark, spark_transcripts, tmp_path):
    full_wh = str(tmp_path / "full")
    resume_wh = str(tmp_path / "resumed")

    full = run_checkpointed(spark, spark_transcripts, full_wh).toPandas()

    with pytest.raises(RuntimeError, match="simulated failure"):
        run_checkpointed(
            spark, spark_transcripts, resume_wh, fail_after_groups=2
        )
    io = TableIO(spark, resume_wh)
    fps = input_fingerprint(spark_transcripts, 32)
    done_before = completed_buckets(io, fps)
    assert 0 < len(done_before) < 32  # partial progress was checkpointed

    resumed = run_checkpointed(spark, spark_transcripts, resume_wh).toPandas()
    assert _canon(resumed).equals(_canon(full))

    # lineage: every bucket has metrics, each row pinned to its bucket's
    # input fingerprint
    m = stage_metrics(io).toPandas()
    assert set(m.bucket) == set(range(32))
    assert (m.input_fingerprint == m.bucket.map(fps)).all()
    assert m.n_rows.sum() == len(full)


def test_resume_noop_when_complete(spark, spark_transcripts, tmp_path):
    wh = str(tmp_path / "wh")
    first = run_checkpointed(spark, spark_transcripts, wh).toPandas()
    io = TableIO(spark, wh)
    n_manifest_rows = io.read("manifest").count()
    again = run_checkpointed(spark, spark_transcripts, wh).toPandas()
    assert _canon(again).equals(_canon(first))
    # no new manifest rows: everything was skipped
    assert io.read("manifest").count() == n_manifest_rows


def test_fingerprint_changes_with_input(spark, spark_transcripts):
    fp1 = input_fingerprint(spark_transcripts, 32)
    fp2 = input_fingerprint(
        spark_transcripts.withColumn(
            "text", F.concat(F.col("text"), F.lit(" x"))
        ),
        32,
    )
    assert fp1 != fp2


def test_changed_input_wipes_stale_buckets(spark, spark_transcripts, tmp_path):
    """Rerunning a warehouse against DIFFERENT input must not mix snapshots:
    buckets that produced rows under the old input but none under the new
    one have to disappear (code-review finding: dynamic partition overwrite
    only replaces buckets present in the new output)."""
    wh = str(tmp_path / "wh_changed")
    run_checkpointed(spark, spark_transcripts, wh)
    io = TableIO(spark, wh)
    old_buckets = {r.bucket for r in io.read("triples").select("bucket").distinct().collect()}
    assert old_buckets  # baseline produced data

    # new input: a single conversation → most buckets now empty
    one_conv = spark_transcripts.where(
        F.col("conv_id") == spark_transcripts.select("conv_id").first().conv_id
    )
    out = run_checkpointed(spark, one_conv, wh).toPandas()
    new_buckets = {r.bucket for r in io.read("triples").select("bucket").distinct().collect()}
    assert len(new_buckets) <= 1  # ONLY the new input's bucket survives
    # the latest row of every bucket carries the new input's fingerprint
    assert _latest_fingerprints(io) == input_fingerprint(one_conv, 32)
    # and the triples are exactly the single conversation's
    assert set(out.conv_id.unique()) == {one_conv.first().conv_id}


def test_incremental_update_matches_full_rebuild(
    spark, spark_transcripts, tmp_path
):
    """Delta maintenance: after an add + update + delete, incremental_update
    on the old warehouse must produce EXACTLY the triples of a full rebuild
    on the new input — while rewriting only the touched buckets (untouched
    bucket directories keep their files byte-for-byte)."""
    import glob
    import os

    from prove_spark.pipeline.checkpoint import incremental_update
    from prove_spark.sources.tables import with_bucket

    convs = [
        r.conv_id
        for r in spark_transcripts.select("conv_id").distinct().limit(3).collect()
    ]
    upd, dele, src = convs

    t0 = spark_transcripts
    # T1: update `upd` (text change -> different triples), delete `dele`,
    # add a brand-new conversation cloned from `src`
    t1 = (
        t0.where(F.col("conv_id") != dele)
        .withColumn(
            "text",
            F.when(
                F.col("conv_id") == upd,
                F.concat(F.col("text"), F.lit(" indeed ada lovelace field mathematics.")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            t0.where(F.col("conv_id") == src).withColumn(
                "conv_id", F.lit("conv-incr-new")
            )
        )
    )

    wh = str(tmp_path / "incr")
    run_checkpointed(spark, t0, wh)
    # snapshot per-file state of every bucket dir before the update
    def file_state(root):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{root}/triples/bucket=*/*.parquet")
        }

    before = file_state(wh)
    changed = spark.createDataFrame(
        [(upd,), (dele,), ("conv-incr-new",)], "conv_id string"
    )
    got = incremental_update(spark, t1, changed, wh).toPandas()

    expected_wh = str(tmp_path / "full_t1")
    expected = run_checkpointed(spark, t1, expected_wh).toPandas()
    assert _canon(got).equals(_canon(expected))

    # only the touched buckets' files changed
    touched = {
        r.bucket
        for r in with_bucket(changed, "conv_id", 32)
        .select("bucket")
        .distinct()
        .collect()
    }
    after = file_state(wh)
    for p, mtime in before.items():
        bucket = int(p.split("bucket=")[1].split("/")[0])
        if bucket not in touched:
            assert after.get(p) == mtime, f"untouched bucket rewritten: {p}"

    # one mechanism: a later full run over the same input finds every
    # bucket done, so it appends no manifest row and rewrites no file
    io = TableIO(spark, wh)
    n_manifest_rows = io.read("manifest").count()
    again = run_checkpointed(spark, t1, wh).toPandas()
    assert _canon(again).equals(_canon(expected))
    assert io.read("manifest").count() == n_manifest_rows
    assert file_state(wh) == after


def test_edit_then_revert_restores_original(spark, spark_transcripts, tmp_path):
    """Edit a conversation, then revert it: the output must equal the
    original run's. After the revert an OLDER manifest row of the edited
    bucket matches the input again while its files hold the edit, so only
    the bucket's latest row may count."""
    wh = str(tmp_path / "revert")
    original = run_checkpointed(spark, spark_transcripts, wh).toPandas()
    victim = original.conv_id.iloc[0]
    edited = spark_transcripts.withColumn(
        "text",
        F.when(F.col("conv_id") == victim, F.lit("nothing to see here.")).otherwise(
            F.col("text")
        ),
    )
    mid = run_checkpointed(spark, edited, wh).toPandas()
    assert victim not in set(mid.conv_id)  # the edit changed the output
    reverted = run_checkpointed(spark, spark_transcripts, wh).toPandas()
    assert _canon(reverted).equals(_canon(original))


def test_whole_input_manifest_resumes(spark, spark_transcripts, tmp_path):
    """A manifest written before per-bucket fingerprints carries the whole
    input's fingerprint on every row. Rerunning over it must give the
    output of a fresh build, and leave per-bucket fingerprints as the
    latest rows."""
    from prove_spark.pipeline.checkpoint import MANIFEST_SCHEMA

    wh = str(tmp_path / "old_manifest")
    fresh = run_checkpointed(spark, spark_transcripts, wh).toPandas()
    io = TableIO(spark, wh)
    whole = spark_transcripts.select(
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("h"),
        F.count("*").alias("n"),
    ).first()
    old = io.read("manifest").toPandas()
    old["input_fingerprint"] = f"{whole.h}:{whole.n}"
    io.overwrite(spark.createDataFrame(old, schema=MANIFEST_SCHEMA), "manifest")

    resumed = run_checkpointed(spark, spark_transcripts, wh).toPandas()
    assert _canon(resumed).equals(_canon(fresh))
    assert _latest_fingerprints(io) == input_fingerprint(spark_transcripts, 32)


def test_incremental_update_deletes_emptied_bucket(spark, spark_transcripts, tmp_path):
    """A recomputed bucket that now yields zero rows must lose its stale
    partition (dynamic overwrite alone would leave it behind)."""
    from prove_spark.pipeline.checkpoint import incremental_update
    from prove_spark.sources.tables import with_bucket

    # a handful of convs so most sit alone in their bucket; then delete one
    # that (a) produced triples and (b) shares its bucket with no other conv
    some = spark_transcripts.select("conv_id").distinct().limit(12)
    t0 = spark_transcripts.join(some, "conv_id")
    wh = str(tmp_path / "incr_del")
    full = run_checkpointed(spark, t0, wh)
    bucket_convs = (
        with_bucket(t0.select("conv_id").distinct(), "conv_id", 32)
        .groupBy("bucket")
        .agg(F.collect_set("conv_id").alias("cs"))
        .collect()
    )
    triple_buckets = {r.bucket for r in full.select("bucket").distinct().collect()}
    lone = next(
        (r for r in bucket_convs if len(r.cs) == 1 and r.bucket in triple_buckets),
        None,
    )
    if lone is None:
        pytest.skip("no lone-conversation bucket with triples in this draw")
    victim, vbucket = lone.cs[0], lone.bucket

    t1 = t0.where(F.col("conv_id") != victim)
    changed = spark.createDataFrame([(victim,)], "conv_id string")
    got = incremental_update(spark, t1, changed, wh)
    assert vbucket not in {
        r.bucket for r in got.select("bucket").distinct().collect()
    }
    import os

    assert not os.path.exists(f"{wh}/triples/bucket={vbucket}")


def test_incremental_update_that_empties_every_bucket(spark, spark_transcripts, tmp_path):
    """A delta that deletes EVERY remaining conversation leaves a triples
    dir with no parquet files at all — the read-back must fall back to the
    typed empty frame (the run_checkpointed guard), not die on schema
    inference; manifest rows still record the zeroed buckets."""
    from prove_spark.pipeline.checkpoint import incremental_update

    two = spark_transcripts.select("conv_id").distinct().limit(2)
    t0 = spark_transcripts.join(two, "conv_id")
    wh = str(tmp_path / "wipeout")
    run_checkpointed(spark, t0, wh)

    t1 = t0.where(F.lit(False))  # everything deleted
    got = incremental_update(spark, t1, two, wh)
    assert got.count() == 0
    assert "claim_id" in got.columns  # typed empty frame, not inference
    io = TableIO(spark, wh)
    m = io.read("manifest").toPandas()
    latest = m.sort_values("completed_ts").groupby("bucket").tail(1)
    touched = set(latest[latest.n_rows == 0].bucket)
    assert len(touched) >= 1  # the emptied buckets got zeroed lineage rows
