"""Self-tests of the benchmark's own logic (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import filecmp
import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from spans import aggregate_event_log, percentile, span_metrics, summarize  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("build, params", [
    (gen.build_live, {"files": 3, "positions_per_file": 200, "warm_files": 1}),
    (gen.build_kpt, {"positions": 3000, "vehicles": 60}),
    (gen.build_docs, {"docs": 200, "dup_share": 0.2}),
])
def test_generators_are_deterministic_per_seed(tmp_path, build, params):
    dirs = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[name] = str(tmp_path / name)
        os.makedirs(dirs[name])
        build(dirs[name], seed, **params)
    assert _same_tree(dirs["a"], dirs["b"])
    assert not _same_tree(dirs["a"], dirs["c"])


def test_cache_reuses_complete_inputs_only(tmp_path):
    calls = []

    def build(out, seed, n):
        calls.append(seed)
        with open(os.path.join(out, "x"), "w") as fh:
            fh.write(str(n))

    first = gen.cached(str(tmp_path), "k", 1, {"n": 2}, build)
    assert gen.cached(str(tmp_path), "k", 1, {"n": 2}, build) == first
    assert calls == [1]
    os.remove(os.path.join(first, "done"))  # an interrupted build is redone
    gen.cached(str(tmp_path), "k", 1, {"n": 2}, build)
    assert calls == [1, 1]
    for seed in range(2, gen.MAX_CACHED + 4):  # old inputs are evicted
        gen.cached(str(tmp_path), "k", seed, {"n": 2}, build)
    kept = os.listdir(tmp_path / "inputs")
    assert len(kept) == gen.MAX_CACHED and any(d.startswith(f"k-s{gen.MAX_CACHED + 3}-") for d in kept)


def test_live_truth_counts_planted_duplicates(tmp_path):
    gen.build_live(str(tmp_path), 3, files=4, positions_per_file=300, warm_files=1)
    with open(tmp_path / "truth.json") as fh:
        truth = json.load(fh)["frames"]
    distinct = {tuple(p) for f in truth["positions"] for p in f}
    per_file = sum(len(f) for f in truth["positions"])
    assert per_file == len(distinct)  # a position is new in exactly one file
    assert sum(truth["rows"]) > len(distinct)  # at-least-once duplicates exist
    rows = truth["positions"][0]
    assert oracle.check_live(rows, truth["positions"], 1) == []
    assert oracle.check_live(rows + rows[:1], truth["positions"], 1)  # a duplicate fails
    assert oracle.check_live(rows[1:], truth["positions"], 1)  # a missing row fails


def test_kpt_envelopes_follow_the_recorded_traffic(tmp_path):
    gen.build_kpt(str(tmp_path), 4, positions=40_000, vehicles=400)
    sizes, keys, rows = [], set(), 0
    with open(tmp_path / "positions.jsonl") as fh:
        for line in fh:
            env = json.loads(line)
            sizes.append(env["count"])
            rows += len(env["positions"])
            keys |= {(p["vehicle_id"], p["timestamp"]) for p in env["positions"]}
    assert min(sizes) == 1 and max(sizes) <= gen.MAX_ENVELOPE
    assert 5 <= statistics.median(sizes) <= 20 and 100 < statistics.mean(sizes) < 300
    assert 0.07 < (rows - len(keys)) / rows < 0.12  # repeated (vehicle_id, timestamp) keys


def test_generated_docs_pass_the_gopher_gate_except_planted_junk(tmp_path):
    gen.build_docs(str(tmp_path), 5, docs=400, dup_share=0.2)
    with open(tmp_path / "truth.json") as fh:
        truth = json.load(fh)
    ok = truth["gopher_ok"]
    assert 0.85 < sum(ok) / len(ok) < 1.0
    assert all(ok[m] for c in truth["clusters"] for m in c[:1])
    assert not gen.gopher_ok("1;2, 3;4, 5;6, 7;8, 9;10, 11;12, 13;14, 15;16, 17;18, 19;20")
    assert gen.gopher_ok("the quick brown fox jumps over the lazy dog and runs far away")


def _job(job, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job,
                       "Stage IDs": stages, "Properties": props})


def _task(stage, cpu_ns=0, gc_ms=0, shuffle=0, spill=(0, 0), read=0, failed=False):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed, "Killed": False},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    })


def test_event_log_aggregates_task_metrics_per_job_group():
    lines = [
        _job(0, [0, 1], "layer.a"),
        _task(0, cpu_ns=2_000_000_000, gc_ms=500, read=100),
        _task(1, cpu_ns=1_000_000_000, shuffle=64, spill=(10, 5)),
        _job(1, [1, 2], "run-123"),  # stage 1 stays with its first job
        _task(2, failed=True),
        _job(2, [3]),
        _task(3, read=7),
        '{"Event": "SparkListenerStageCompleted"}',
    ]
    groups = aggregate_event_log(lines, {"run-123": "streaming.ingest.batch"})
    a = groups["layer.a"]
    assert a["tasks"] == 2 and a["jobs"] == 1 and a["failed_tasks"] == 0
    assert a["exec_cpu_s"] == pytest.approx(3.0) and a["gc_s"] == pytest.approx(0.5)
    assert (a["input_bytes"], a["shuffle_write_bytes"], a["spill_bytes"]) == (100, 64, 15)
    s = groups["streaming.ingest.batch"]
    assert (s["tasks"], s["failed_tasks"], s["jobs"]) == (1, 1, 1)
    assert groups[""]["input_bytes"] == 7

    out = span_metrics(("layer.a", "absent"), {"layer.a": 1.5}, groups)
    assert out["layer.a.wall_s"] == {"value": 1.5, "unit": "s"}
    assert out["layer.a.tasks"]["value"] == 2
    assert all(v["value"] == 0 for k, v in out.items() if k.startswith("absent."))


def test_summary_reports_only_percentiles_with_ten_samples_beyond():
    assert summarize(range(9)) == {"n": 9, "p50": 4}
    s40 = summarize(range(40))
    assert "p75" in s40 and "p90" not in s40  # 10 beyond p75, 4 beyond p90
    s100 = summarize(range(100))
    assert s100["p90"] == pytest.approx(89.1) and "p75" not in s100
    xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    assert percentile(xs, 50) == statistics.median(xs)
    q1, _q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert (percentile(xs, 25), percentile(xs, 75)) == pytest.approx((q1, q3))


def test_trace_check_fails_layers_without_tasks():
    groups = {g: {"tasks": 3} for g in run.TRACED_GROUPS["kpt_batch"]}
    assert run.check_trace("kpt_batch", groups) == []
    assert "operators.dedup.minhash_lsh_pairs" in run.TRACED_GROUPS["kpt_batch"]
    groups["kpt_pipeline.rankings"]["tasks"] = 0
    del groups["sources.kpt.ingest"]
    assert len(run.check_trace("kpt_batch", groups)) == 2
    assert run.check_trace("kpt_live_ingest", {}) != []


def test_dup_dropped_must_match_planted_batch_by_batch():
    assert oracle.check_dup_dropped([0, 1], [5, 7], [5, 7]) == []
    assert oracle.check_dup_dropped([0, 1], [6, 6], [5, 7])  # same total, wrong batches


def test_benchmark_json_declares_what_the_run_prints():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == dict(run.END_TO_END)
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    groups = {"kpt_pipeline.report": {"jobs": 1, "input_bytes": 10}}
    expected = {k: v["unit"] for k, v in span_metrics(run.SPANS, {}, groups).items()}
    expected |= dict(run.COUNTS)
    assert layers == expected and len(layers) <= 128
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.OUTCOMES)
