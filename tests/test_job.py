"""The spark-submit entrypoint (prove_spark/job.py) end-to-end: parquet and
JSONL transcript inputs must produce identical triples, and the JSONL path
must quarantine malformed lines instead of dropping or crashing on them."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

from prove_spark.datagen import transcripts_df
from prove_spark.job import main
from prove_spark.sources.jsonl import write_transcripts_jsonl
from prove_spark.sources.tables import TableIO

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRIPLE_KEY_COLS = ["conv_id", "claim_id", "subj", "pred", "obj"]


def _triples(spark, warehouse):
    df = TableIO(spark, warehouse).read("triples")
    cols = [c for c in TRIPLE_KEY_COLS if c in df.columns]
    assert cols, f"unexpected triples schema: {df.columns}"
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_job_parquet_and_jsonl_inputs_agree(spark, tmp_path):
    src = transcripts_df(spark, "/root/testdata/sf0.001")

    pq_in = str(tmp_path / "in_parquet")
    src.write.mode("overwrite").parquet(pq_in)
    jl_in = str(tmp_path / "in_jsonl")
    write_transcripts_jsonl(src, jl_in)
    # a malformed line in the feed must quarantine, not poison the run
    with open(os.path.join(jl_in, "part-badline.json"), "w") as f:
        f.write("{not json at all\n")

    wh_pq = str(tmp_path / "wh_parquet")
    wh_jl = str(tmp_path / "wh_jsonl")
    assert main(["--input", pq_in, "--warehouse", wh_pq, "--bucket-groups", "2"]) == 0
    assert (
        main(
            [
                "--input",
                jl_in,
                "--input-format",
                "jsonl",
                "--warehouse",
                wh_jl,
                "--bucket-groups",
                "2",
            ]
        )
        == 0
    )

    t_pq = _triples(spark, wh_pq)
    t_jl = _triples(spark, wh_jl)
    assert len(t_pq) > 0
    assert t_jl == t_pq  # identical triple sets from both ingest formats

    quarantined = []
    for path in glob.glob(os.path.join(wh_jl, "quarantine", "part-*")):
        with open(path) as f:
            quarantined += [ln for ln in f.read().splitlines() if ln]
    assert quarantined == ["{not json at all"]


def test_job_via_spark_submit_py_files(spark, tmp_path):
    """The north rule's literal deployment shape: `spark-submit --master N
    --py-files prove_spark.zip launch.py ...` from a NEUTRAL cwd with no
    repo on PYTHONPATH — the package must arrive via the zip, and the
    submitted --master must be respected (the local builder used to
    override it with local[32], which on a real cluster would silently run
    the whole job on the driver)."""
    import pyspark

    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    zip_path = shutil.make_archive(
        str(tmp_path / "prove_spark_pkg"),
        "zip",
        root_dir=REPO_ROOT,
        base_dir="prove_spark",
    )
    launcher = tmp_path / "launch.py"
    launcher.write_text(
        "import sys\nfrom prove_spark.job import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    wh = str(tmp_path / "wh_submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(launcher),
            "--sf-dir", "/root/testdata/sf0.001",
            "--warehouse", wh,
            "--bucket-groups", "2",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats_lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    stats = json.loads(stats_lines[-1])
    assert stats["master"] == "local[4]"  # submitter conf, not the builder's
    assert stats["n_entities"] > 0
    # observe()-backed quality counters ride the entities write action
    assert stats["quality"]["null_labels"] == 0
    assert stats["quality"]["n_subj_claims"] > 0
    # the cluster-shaped run must emit the exact triple set the in-process
    # pipeline derives from the same input
    from prove_spark.pipeline.run import build_triples

    src = transcripts_df(spark, "/root/testdata/sf0.001")
    assert stats["n_triples"] == build_triples(spark, src).count()
    assert len(_triples(spark, wh)) == stats["n_triples"]


def test_job_path_imports_no_query_module():
    """The job and its checkpoint/run layers never load a `prove_spark.plans`
    module, so the query families cannot change what the job runs."""
    code = (
        "import sys\n"
        "import prove_spark.job, prove_spark.pipeline.checkpoint, "
        "prove_spark.pipeline.run\n"
        "print(sorted(m for m in sys.modules if m.startswith('prove_spark.plans')))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "[]"
