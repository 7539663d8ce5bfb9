"""The driver JVM's class-data-sharing archive (`session._cds_options`).

Each case starts its session in a subprocess with XDG_CACHE_HOME under
tmp_path, so the shared test session and the user's cache are never
touched: the first session dumps an archive at exit and publishes it only
after its JVM exited cleanly; later sessions map it; an archive the JVM
cannot use falls back to a plain start; real config or an explicit
PYSPARK_SUBMIT_ARGS turns the archive off.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One session, one query; prints what the test checks as one JSON line.
# With argv[1] == "kill", SIGKILLs the JVM once its dump file appears.
_CHILD = r"""
import glob, json, os, signal, sys, time
from prove_spark.session import get_spark

spark = get_spark("cds-test", master="local[1]", shuffle_partitions=1)
proc = spark.sparkContext._gateway.proc
cache = os.path.join(os.environ["XDG_CACHE_HOME"], "prove_spark")
out = {
    "sum": spark.range(100).selectExpr("sum(id)").first()[0],
    "marker": spark.sparkContext.getConf().get("spark.prove.marker", None),
    "submit_args": os.environ["PYSPARK_SUBMIT_ARGS"],
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "mapped": sorted({ln.split()[-1] for ln in open(f"/proc/{proc.pid}/maps")
                      if ln.split()[-1].startswith(cache)}),
    "cache": sorted(os.listdir(cache)) if os.path.isdir(cache) else None,
}
if sys.argv[1:] == ["kill"]:
    proc.stdin.close()  # the gateway exits on EOF and starts its dump
    deadline = time.monotonic() + 120
    while not glob.glob(f"{cache}/*.tmp") and time.monotonic() < deadline:
        time.sleep(0.01)
    os.kill(proc.pid, signal.SIGKILL)
    out["jvm_exit"] = proc.wait()
print(json.dumps(out))
"""


def _env(cache_home, **extra) -> dict:
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT_")
        and k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")
    }
    env.update(
        XDG_CACHE_HOME=str(cache_home),
        PYTHONPATH=os.pathsep.join(filter(None, [REPO_ROOT, env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS="1",
    )
    env.update(extra)
    return env


def _session(cache_home, *args, **extra) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, *args],
        env=_env(cache_home, **extra),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["sum"] == 4950
    return out


def _cache_files(cache_home) -> list[str]:
    d = os.path.join(cache_home, "prove_spark")
    return sorted(f for f in os.listdir(d) if f != "conf")


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """A cache dir whose first session dumped and published the archive;
    yields (cache home, archive path, the dumping session's output)."""
    home = tmp_path_factory.mktemp("cds_home")
    out = _session(home)
    files = _cache_files(home)
    assert len(files) == 1 and files[0].endswith(".jsa"), files
    yield home, os.path.join(home, "prove_spark", files[0]), out
    shutil.rmtree(home)  # archives are 130-190 MB; pytest keeps old tmp dirs


def test_first_session_publishes_archive_after_clean_exit(published):
    home, archive, out = published
    assert "-XX:ArchiveClassesAtExit=" in out["submit_args"]
    assert out["conf_dir"] == os.path.join(home, "prove_spark", "conf")
    # nothing sits at the final path (or in the cache) while the JVM runs
    assert out["cache"] == ["conf"] and out["mapped"] == []
    assert os.path.getsize(archive) > 0


def test_next_session_maps_archive(published):
    home, archive, _ = published
    out = _session(home)
    assert f"-XX:SharedArchiveFile={archive}" in out["submit_args"]
    assert out["mapped"] == [archive]
    assert _cache_files(home) == [os.path.basename(archive)]


def test_killed_dump_leaves_no_archive(published, tmp_path):
    # a dump orphaned by a process that died before its exit hook ran
    _, archive, _ = published
    orphan = tmp_path / "prove_spark" / f"{os.path.basename(archive)}.999999999.tmp"
    orphan.parent.mkdir()
    orphan.write_bytes(b"partial")
    out = _session(tmp_path, "kill")
    assert out["jvm_exit"] == -9  # killed while the dump was being written
    assert _cache_files(tmp_path) == []


@pytest.mark.parametrize("kind", ["garbage", "other_classpath"])
def test_unusable_archive_falls_back(published, tmp_path, kind):
    """Random bytes, and a real archive dumped under another conf-dir path
    (the JVM rejects it as a classpath mismatch), each start plainly."""
    _, archive, _ = published
    target = tmp_path / "prove_spark" / os.path.basename(archive)
    target.parent.mkdir()
    if kind == "garbage":
        target.write_bytes(os.urandom(1 << 20))
    else:
        shutil.copyfile(archive, target)
    out = _session(tmp_path)
    assert f"-XX:SharedArchiveFile={target}" in out["submit_args"]
    assert out["mapped"] == []
    assert _cache_files(tmp_path) == [target.name]
    target.unlink()


@pytest.mark.parametrize("var", ["SPARK_CONF_DIR", "HADOOP_CONF_DIR"])
def test_real_conf_dir_gets_no_cds(tmp_path, var):
    """A directory of real config on the classpath keeps the plain start:
    the JVM would not dump, and the conf dir must not be pointed away."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.prove.marker conf-dir\n")
    out = _session(tmp_path, **{var: str(conf)})
    assert out["submit_args"] == "--driver-java-options -XX:+UseParallelGC pyspark-shell"
    assert out["conf_dir"] == (str(conf) if var == "SPARK_CONF_DIR" else None)
    if var == "SPARK_CONF_DIR":
        assert out["marker"] == "conf-dir"  # the config was still read
    assert out["cache"] is None


def test_unwritable_cache_starts_plainly(tmp_path):
    not_a_dir = tmp_path / "cache-file"
    not_a_dir.write_text("")
    out = _session(tmp_path, XDG_CACHE_HOME=str(not_a_dir))
    assert out["submit_args"] == "--driver-java-options -XX:+UseParallelGC pyspark-shell"
    assert out["conf_dir"] is None


def test_explicit_submit_args_pass_through(tmp_path):
    args = "--driver-java-options '-Dprove.a=1  -Dprove.b=2' pyspark-shell"
    out = _session(tmp_path, PYSPARK_SUBMIT_ARGS=args)
    assert out["submit_args"] == args
    assert out["conf_dir"] is None
    assert out["cache"] is None


def test_job_stdout_on_dumping_run(transcripts_pdf, tmp_path):
    """The dump runs at JVM exit, after job.main printed its stats line, and
    the JVM's stdout is the job's: it must not gain `[cds]` log lines."""
    convs = sorted(transcripts_pdf.conv_id.unique())[:4]
    src = tmp_path / "in.parquet"
    transcripts_pdf[transcripts_pdf.conv_id.isin(convs)].to_parquet(
        src, index=False, coerce_timestamps="us"
    )
    proc = subprocess.run(
        [sys.executable, "-m", "prove_spark.job", "--input", str(src),
         "--warehouse", str(tmp_path / "wh"), "--bucket-groups", "1"],
        env=_env(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    assert not [ln for ln in lines if "[cds" in ln or "[warning]" in ln], lines[:5]
    stats = json.loads(lines[-1])
    assert stats["n_manifest_rows"] > 0
    archives = [f for f in _cache_files(tmp_path) if f.endswith(".jsa")]
    assert archives
    os.remove(tmp_path / "prove_spark" / archives[0])
