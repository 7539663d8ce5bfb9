"""Job-path benchmark: transcripts to the triples, entities and manifest
tables, one fresh interpreter and JVM per measured run.

    python3 perfbench/run.py --workload arrow_build --seed 3 --seconds 60 --trace 0

Run from the root of a checkout. Workloads:

- arrow_build: `prove_spark.job.main` on a fresh warehouse with
  `--engine arrow --bucket-groups 4`, on a seeded input of uniform
  conversations of at most 8 turns.
- delta_refresh: `pipeline.checkpoint.incremental_update` plus the entities
  rewrite on the jvm engine, against a warehouse restored before the run;
  the seed picks a delta of edited, deleted and added conversations.

Inputs are generated here from the seed, before the measured run; the
program receives only parquet files and a warehouse. The measured run is
`perfbench/child.py` on `local[k]`, k = min(3, cores). Its output is checked
against the repo's pandas oracle (perfbench/check.py). With `--trace 0` the
last line of stdout holds the end-to-end metrics; with `--trace 1` a traced
run gives the per-layer metrics (perfbench/trace.py). Scratch files go to
`.perfbench_work/` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 165  # for the measured launches of one run
# local[k]: one core is left to the JIT compiler, GC, the job's Python
# process and the Python workers; on a 4-core box k = 3 ran both workloads as
# fast as k = 4 and with less peak memory
K = min(3, len(os.sched_getaffinity(0)))
BUCKET_GROUPS = 4

WORKLOADS = {
    "arrow_build": {"kind": "build", "engine": "arrow"},
    "delta_refresh": {"kind": "delta", "engine": "jvm"},
}

# per-layer metrics: executor metrics are reported for these spans
EXEC_SPANS = (
    "checkpoint.input_fingerprint", "checkpoint.manifest", "checkpoint.incremental_update",
    "run.build_triples", "stages.plan", "sources.overwrite_buckets", "sources.overwrite",
    "sources.append", "readback",
)
TIMED_SPANS = (
    "session.get_spark", "checkpoint.input_fingerprint", "checkpoint.completed_buckets",
    "checkpoint.manifest", "checkpoint.incremental_update", "run.build_triples",
    "run.build_entities", "stages.plan", "canonicalize.plan", "sources.overwrite_buckets",
    "sources.overwrite", "sources.append", "sources.delete_buckets", "readback",
)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    # a run measures one launch of the job, sized to take about this long
    p.add_argument("--seconds", type=float, default=60)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "prove_spark", "job.py")):
        print(f"perfbench: no prove_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procs

    procs.become_subreaper()
    bench = Bench(args.workload, args.seed)
    bench.prepare()
    print(json.dumps({"workload": args.workload, "seed": args.seed, "k": K,
                      "input": bench.shape, "digest": bench.digest}), flush=True)
    if args.trace:
        report = bench.traced()
    else:
        report = bench.untraced()
    print(json.dumps(report))
    return 0 if report["correct"] else 1


def source_digest() -> str:
    """Digest of the program's sources, which key the cached base warehouse."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "prove_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            h.update(path[len(ROOT):].encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def end_to_end(run, result: dict, turns: int) -> dict[str, tuple]:
    """End-to-end metrics of an untraced launch, as name -> (value, unit)."""
    return {
        "setup_s": (result["setup_end"] - run.launched, "s"),
        "job_s": (result["job_s"], "s"),
        "turns_per_s": (turns / result["job_s"], "1/s"),
        "cpu_s": (run.cpu_s, "s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }


def layer_metrics(result: dict, untraced_job_s: float) -> dict[str, tuple]:
    """Per-layer metrics of a traced launch's result, as name -> (value,
    unit): self time per span name, executor metrics per span, commit and
    bucket counts, Python-worker traffic, output rows, tracing overhead."""
    from perfbench.trace import EXEC_FIELDS, self_times

    spans = result["spans"]
    own = self_times(spans)
    m: dict[str, tuple] = {}
    for name in TIMED_SPANS:
        m[f"{name}_s"] = (own.get(name, 0.0), "s")
    m["job.self_s"] = (own.get("job", 0.0), "s")
    manifests = [s for s in spans if s["name"] == "checkpoint.manifest"]
    m["checkpoint.commits"] = (len(manifests), "count")
    m["checkpoint.buckets_written"] = (sum(s["buckets"] for s in manifests), "count")
    m["checkpoint.buckets_deleted"] = (
        sum(s["buckets"] for s in spans if s["name"] == "sources.delete_buckets"), "count")
    k = result["k"]
    execs = result["executor"]
    for name in EXEC_SPANS:
        e = execs.get(name, dict.fromkeys(EXEC_FIELDS, 0.0))
        for field in EXEC_FIELDS:
            unit = "count" if field in ("jobs", "stages", "tasks") else (
                "MB" if field.endswith("_mb") else "s")
            m[f"{name}.{field}"] = (e[field], unit)
        m[f"{name}.idle_core_s"] = (own.get(name, 0.0) * k - e["executor_run_s"], "s")
    total_cpu = sum(e["executor_cpu_s"] for e in execs.values())
    attributed = total_cpu - execs.get("unattributed", {}).get("executor_cpu_s", 0.0)
    m["trace.executor_cpu_s"] = (total_cpu, "s")
    m["trace.executor_cpu_share"] = (attributed / total_cpu if total_cpu else 1.0, "ratio")
    for field, value in result["python"].items():
        m[f"python.{field}"] = (value, "count" if field == "rows_returned" else "MB")
    verdicts = result["verdicts"]
    m["rows.triples"] = (sum(verdicts.values()), "count")
    m["rows.entities"] = (result["entities"], "count")
    m["rows.manifest"] = (result["manifest"], "count")
    for key, verdict in (("supports", "SUPPORTS"), ("refutes", "REFUTES"),
                         ("nei", "NOT ENOUGH INFO"), ("error", "error")):
        m[f"rows.{key}"] = (verdicts.get(verdict, 0), "count")
    m["trace.job_s"] = (result["job_s"], "s")
    m["trace.overhead_s"] = (result["job_s"] - untraced_job_s, "s")
    return m


class Bench:
    def __init__(self, workload: str, seed: int) -> None:
        self.workload = workload
        self.spec = dict(WORKLOADS[workload])
        self.seed = seed
        self.dir = os.path.join(WORK, workload)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # --- inputs, generated before any measured launch ---

    def prepare(self) -> None:
        import pandas as pd

        from perfbench import check, workloads

        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.input = os.path.join(self.dir, "input.parquet")
        self.warehouse = os.path.join(self.dir, "warehouse")
        self.base = self._base_warehouse()
        if self.spec["kind"] == "build":
            trans = workloads.build_input(self.seed)
            manifest = workloads.N_BUCKETS
            changed, touched = [], 0
        else:
            trans, kinds = workloads.delta_input(self.seed)
            changed = sorted(c for ids in kinds.values() for c in ids)
            touched = len({workloads.bucket(c) for c in changed})
            manifest = self.base["manifest"] + touched
            self.changed = os.path.join(self.dir, "changed.parquet")
            pd.DataFrame({"conv_id": changed}).to_parquet(self.changed, index=False)
        trans.to_parquet(self.input, index=False)
        sample = workloads.sample_conversations(trans["conv_id"].unique().tolist(), self.seed)
        self.shape = {**workloads.shape(trans), "touched_buckets": touched}
        self.digest = workloads.digest(trans)
        self.want = {
            "triples": check.expected_triples(trans),
            "entities": check.expected_entities(),
            "manifest": manifest,
            "transcripts": trans,
            "sample": sorted(set(sample) | set(changed)),
        }
        # the launches of one run end within 180 s; a first run in a
        # checkout may take longer, for the base build above
        self.deadline = time.monotonic() + DEADLINE_S

    def _base_warehouse(self) -> dict:
        """The delta base corpus built by `job.main`, once per checkout and
        program version, by the first run of any workload; restored into the
        run's warehouse before each delta launch. Being the first launch in
        a checkout, it also leaves the JVM's and the interpreter's files in
        the page cache for the measured launches."""
        from perfbench import check, workloads

        cache = os.path.join(WORK, f"delta-base-{source_digest()}")
        meta_path = os.path.join(cache, "meta.json")
        if not os.path.exists(meta_path):
            shutil.rmtree(cache, ignore_errors=True)
            os.makedirs(cache)
            trans = workloads.transcripts(workloads.documents(workloads.BASE_SEED, workloads.N_DOCS))
            path = os.path.join(cache, "input.parquet")
            trans.to_parquet(path, index=False)
            spec = {"kind": "build", "engine": "jvm", "input": path, "sample": [],
                    "warehouse": os.path.join(cache, "warehouse"),
                    "bucket_groups": BUCKET_GROUPS}
            _, result = self._launch(spec, trace=False, log="base.log", timeout_s=600)
            if result is None:
                raise RuntimeError("building the delta base warehouse failed; see base.log")
            want = check.expected_triples(trans)
            got = sum(result["verdicts"].values())
            if got != want:
                raise RuntimeError(f"delta base: {got} triples, expected {want}")
            with open(meta_path, "w") as f:
                json.dump({"manifest": result["manifest"]}, f)
        with open(meta_path) as f:
            meta = json.load(f)
        meta["warehouse"] = os.path.join(cache, "warehouse")
        return meta

    # --- launches ---

    def _spec(self) -> dict:
        spec = {**self.spec, "input": self.input, "warehouse": self.warehouse,
                "sample": self.want["sample"], "bucket_groups": BUCKET_GROUPS}
        if self.spec["kind"] == "delta":
            spec["changed"] = self.changed
        return spec

    def _env(self, trace: bool) -> dict:
        # the session's own defaults, whatever the caller's environment says
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
        tmp = os.path.join(self.dir, "tmp")
        env.update(
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(K),
            SPARK_LOCAL_DIRS=tmp,
            TMPDIR=tmp,
            # keep the JVM's scratch files inside the checkout too
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        if trace:
            env["SPARK_GRAFT_EXTRA_CONF"] = "spark.ui.enabled=true;spark.ui.port=0"
        return env

    def _launch(self, spec: dict, trace: bool, log: str, timeout_s: float | None = None):
        """Run child.py once; returns the process-tree record and the child's
        result, or None for the result when the launch failed."""
        from perfbench import procs

        procs.wait_quiet()
        spec = {**spec, "trace": trace}
        spec_path = os.path.join(self.dir, "spec.json")
        result_path = os.path.join(self.dir, "result.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        if os.path.exists(result_path):
            os.remove(result_path)
        if timeout_s is None:
            timeout_s = max(1.0, self.deadline - time.monotonic())
        run = procs.run_tree(
            [sys.executable, os.path.join(ROOT, "perfbench", "child.py"), spec_path, result_path],
            env=self._env(trace), cwd=os.path.join(self.dir, "tmp"),
            log_path=os.path.join(self.dir, log), timeout_s=timeout_s)
        if run.returncode != 0 or not os.path.exists(result_path):
            why = "timed out" if run.timed_out else f"exit code {run.returncode}"
            self.errors.append(f"launch {why}; see {os.path.join(self.dir, log)}")
            return run, None
        with open(result_path) as f:
            return run, json.load(f)

    def _measured(self, trace: bool):
        """One checked launch of the workload on a freshly restored warehouse."""
        from perfbench import check

        shutil.rmtree(self.warehouse, ignore_errors=True)
        if self.spec["kind"] == "delta":
            shutil.copytree(self.base["warehouse"], self.warehouse)
        self.attempted += 1
        run, result = self._launch(self._spec(), trace, log="traced.log" if trace else "run.log")
        wrong = ["no result"] if result is None else check.failures(result, self.want)
        if result is not None and result.get("k") != K:
            wrong.append(f"ran on {result.get('k')} cores, expected {K}")
        if wrong:
            self.failed += 1
            self.errors.extend(wrong)
            return run, None
        return run, result

    def untraced(self) -> dict:
        run, result = self._measured(trace=False)
        if result is None:
            return self._report({})
        self._remember(result["job_s"])
        return self._report(end_to_end(run, result, self.shape["turns"]))

    def traced(self) -> dict:
        """Per-layer metrics from a traced launch; the tracing overhead is
        its job time minus the median untraced job time in this checkout
        (one untraced launch is made first when there is no such record)."""
        untraced = self._history()
        if not untraced:
            _, result = self._measured(trace=False)
            if result is not None:
                self._remember(result["job_s"])
                untraced = self._history()
        run, result = self._measured(trace=True)
        if result is None or not untraced:
            return self._report({})
        return self._report(layer_metrics(result, statistics.median(untraced)))

    def _history(self) -> list[float]:
        path = os.path.join(WORK, f"untraced-job-s-{self.workload}.json")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    def _remember(self, job_s: float) -> None:
        values = self._history() + [job_s]
        with open(os.path.join(WORK, f"untraced-job-s-{self.workload}.json"), "w") as f:
            json.dump(values, f)

    def _report(self, metrics: dict) -> dict:
        for e in self.errors:
            print(f"perfbench: {e}", file=sys.stderr)
        return {
            "correct": self.failed == 0 and bool(metrics),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


if __name__ == "__main__":
    sys.exit(main())
