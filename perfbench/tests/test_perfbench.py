"""The benchmark's own checks: seeded inputs, bucket hashing, span
arithmetic and the attribution of Spark metrics. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import pytest

from perfbench import check, workloads
from perfbench.trace import Tracer, attribute, python_metrics, self_times


def test_same_seed_same_input_digest():
    assert workloads.digest(workloads.build_input(5)) == workloads.digest(workloads.build_input(5))
    assert workloads.digest(workloads.build_input(5)) != workloads.digest(workloads.build_input(6))


def test_same_seed_same_delta():
    a, ka = workloads.delta_input(9)
    b, kb = workloads.delta_input(9)
    assert workloads.digest(a) == workloads.digest(b) and ka == kb
    c, kc = workloads.delta_input(10)
    assert workloads.digest(a) != workloads.digest(c) and ka != kc


def test_delta_kinds():
    base = set(workloads.conv_ids(workloads.documents(workloads.BASE_SEED, workloads.N_DOCS).doc_id))
    now, kinds = workloads.delta_input(4)
    convs = set(now.conv_id)
    assert len(kinds["edited"]) == workloads.N_EDIT and set(kinds["edited"]) <= base & convs
    assert len(kinds["deleted"]) == workloads.N_DELETE and not set(kinds["deleted"]) & convs
    assert len(kinds["added"]) == workloads.N_ADD and not set(kinds["added"]) & base
    assert set(kinds["added"]) <= convs


def test_every_delta_refreshes_the_same_number_of_buckets():
    n = workloads.N_EDIT + workloads.N_DELETE + workloads.N_ADD
    for seed in range(5):
        _, kinds = workloads.delta_input(seed)
        assert len({workloads.bucket(c) for ids in kinds.values() for c in ids}) == n


def test_input_shape():
    shape = workloads.shape(workloads.build_input(1))
    assert shape["conversations"] == workloads.N_DOCS
    assert shape["longest_conversation"] <= 8


@pytest.mark.parametrize("conv_id,signed", [
    ("conv-000001", 3314699379490641710),
    ("conv-123456", -3159427665252514693),
    ("", -7444071767201028348),
    ("a" * 40, -8273737738657618755),
    ("abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJ", -769660568166318141),
])
def test_xxhash64_matches_spark(conv_id, signed):
    # values of Spark's F.xxhash64 on a string column
    assert workloads.xxhash64(conv_id.encode()) == signed % (1 << 64)
    assert workloads.bucket(conv_id) == signed % 32


def test_expected_triples_matches_oracle_rows():
    from prove_spark.oracle import run_oracle

    trans = workloads.transcripts(workloads.documents(3, 150))
    assert check.expected_triples(trans) == len(run_oracle(trans))


def test_sample_mismatch_reports_a_changed_score():
    from prove_spark.oracle import run_oracle

    trans = workloads.transcripts(workloads.documents(3, 20))
    sample = sorted(trans.conv_id.unique())[:5]
    rows = run_oracle(trans[trans.conv_id.isin(sample)]).to_dict("records")
    assert check.sample_mismatch(trans, sample, rows) is None
    rows[0]["score"] += 1e-12
    assert "sample row 0" in check.sample_mismatch(trans, sample, rows)
    assert "triples" in check.sample_mismatch(trans, sample, rows[1:])


def _span(sid, name, parent, start, end):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_is_span_minus_children():
    spans = [
        _span("a", "job", None, 0.0, 10.0),
        _span("b", "run.build_triples", "a", 1.0, 5.0),
        _span("c", "stages.plan", "b", 1.5, 2.0),
        _span("d", "stages.plan", "b", 2.0, 2.25),
        _span("e", "run.build_triples", "a", 6.0, 7.0),
    ]
    own = self_times(spans)
    assert own == {"job": 5.0, "run.build_triples": 4.25, "stages.plan": 0.75}
    assert sum(own.values()) == 10.0


def test_tracer_nests_spans_and_wraps():
    class Mod:
        @staticmethod
        def work(x):
            return x + 1

    t = Tracer()
    t.wrap(Mod, "work", "layer.work", lambda a: {"arg": a[0]})
    t.wrap(Mod, "work", "layer.work")  # wrapping twice keeps one span per call
    t.wrap(Mod, "missing", "layer.missing")
    with t.span("job"):
        assert Mod.work(1) == 2
    inner, outer = t.spans
    assert (inner["name"], inner["parent"], outer["parent"]) == ("layer.work", outer["id"], None)
    assert len(t.spans) == 2


def _stage(sid, status="COMPLETE", cpu_s=1.0, run_s=2.0):
    return {"stageId": sid, "status": status, "numCompleteTasks": 4, "numFailedTasks": 0,
            "executorRunTime": run_s * 1e3, "executorCpuTime": cpu_s * 1e9, "jvmGcTime": 100,
            "shuffleReadBytes": 1 << 20, "shuffleWriteBytes": 2 << 20,
            "memoryBytesSpilled": 0, "diskBytesSpilled": 0}


def test_attribute_counts_each_stage_once():
    spans = [_span("s1", "run.build_triples", None, 0, 1), _span("s2", "sources.append", None, 1, 2)]
    jobs = [
        {"jobId": 0, "jobGroup": "s1", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "s2", "stageIds": [1, 2]},  # stage 1 skipped here
        {"jobId": 2, "stageIds": [3]},
    ]
    stages = [_stage(0), _stage(1), _stage(1, "SKIPPED"), _stage(2, cpu_s=0.5), _stage(3)]
    out = attribute(spans, jobs, stages)
    assert out["run.build_triples"]["stages"] == 2
    assert out["run.build_triples"]["executor_cpu_s"] == 2.0
    assert out["sources.append"]["executor_cpu_s"] == 0.5
    assert out["sources.append"]["tasks"] == 4
    assert out["unattributed"]["jobs"] == 1
    assert out["run.build_triples"]["shuffle_write_mb"] == 4.0


JVM_EXECUTION = {"nodes": [
    {"nodeId": 0, "nodeName": "WholeStageCodegen (1)",
     "metrics": [{"name": "duration", "value": "total (min, med, max)\n1.2 s (1 ms, 2 ms, 3 ms)"}]},
    {"nodeId": 1, "nodeName": "Exchange",
     "metrics": [{"name": "shuffle bytes written", "value": "total (min, med, max)\n3.0 MiB (1 B, 2 B, 3 B)"},
                 {"name": "number of output rows", "value": "19,836"}]},
]}
PYTHON_NODE = {"nodeId": 2, "nodeName": "MapInPandas", "metrics": [
    {"name": "data sent to Python workers",
     "value": "total (min, med, max (stageId: taskId))\n2.0 MiB (0.5 MiB, 0.5 MiB, 0.5 MiB (stage 3.0: task 9))"},
    {"name": "data returned from Python workers",
     "value": "total (min, med, max (stageId: taskId))\n512.0 KiB (1 B, 2 B, 3 B (stage 3.0: task 9))"},
    {"name": "number of output rows", "value": "1,500"},
]}


def test_python_metrics_read_zero_on_a_jvm_plan():
    assert python_metrics([JVM_EXECUTION, JVM_EXECUTION]) == {
        "bytes_sent_mb": 0.0, "bytes_received_mb": 0.0, "rows_returned": 0.0}


def test_python_metrics_sum_python_nodes_once():
    # the second execution shows the same cached node again
    executions = [{"nodes": JVM_EXECUTION["nodes"] + [PYTHON_NODE]}, {"nodes": [PYTHON_NODE]}]
    assert python_metrics(executions) == {
        "bytes_sent_mb": 2.0, "bytes_received_mb": 0.5, "rows_returned": 1500.0}


def _contract():
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def test_reports_match_the_contract():
    from perfbench.procs import TreeRun
    from perfbench.run import WORKLOADS, end_to_end, layer_metrics

    contract = _contract()
    assert [w["name"] for w in contract["workloads"]] == list(WORKLOADS)
    run = TreeRun(0, False, launched=1.0, cpu_s=20.0, peak_rss_mb=900.0)
    e2e = end_to_end(run, {"setup_end": 3.0, "job_s": 5.0}, turns=100)
    assert {m["name"]: m["unit"] for m in contract["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()}
    result = {"spans": [], "k": 4, "executor": {}, "verdicts": {}, "entities": 0,
              "manifest": 0, "job_s": 1.0,
              "python": {"bytes_sent_mb": 0.0, "bytes_received_mb": 0.0, "rows_returned": 0.0}}
    layers = layer_metrics(result, 1.0)
    assert [(m["name"], m["unit"]) for m in contract["per_layer"]] == [
        (k, u) for k, (_, u) in layers.items()]
