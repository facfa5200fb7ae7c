"""The repository benchmark: one command, two timed workloads, checked outputs.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload kpt_live_ingest|kpt_batch \
        --seed N --seconds S --trace 0|1

The run generates (or reuses) the seeded inputs of the workload under
``perfbench/_work``, starts one ``worker.py`` process on ``local[nproc]``
(``SPARK_GRAFT_CPUS``), checks every output against the generator's truth,
writes a summary with sample counts to stderr and prints one JSON line
last on stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (:data:`END_TO_END`), which
every workload prints: ``latency_p50_ms`` is the median micro-batch
(``triggerExecution``) or report; ``ingest_items_per_s`` is positions per
second through the stream, or positions over the median ingest;
``output_bytes_per_item`` is sink or parquet-store bytes per position.
``--trace 1`` runs an event-logged session with a span around every layer
call and reports the per-layer metrics (:data:`SPANS`, :data:`COUNTS`);
the kpt_batch traced run also traces one doc-curation pass. An operation
is a micro-batch (kpt_live_ingest), or an ingest or a report (kpt_batch);
a traced run adds the curation pass (kpt_batch) and the trace itself,
which fails when a layer it traced has no tasks in the event log.
``failed`` counts operations whose output was wrong.

setup_s is process spawn → session up → warm-up (kpt_live_ingest: a
stream of ``LIVE["warm_files"]`` full-size frame files; kpt_batch:
:data:`worker.KPT_WARM_PASSES` ingest+report passes over the timed
input); input generation is not part of it. Micro-batch and report times
keep falling for several operations in a fresh JVM (JIT and codegen), so
the warm-up runs that many before timing. One set-up costs 15-40 s on a
4-vCPU VM, so a run times one and setup_s is steadied by the median over
runs.
"""

from __future__ import annotations

import argparse
import ctypes
import errno
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import oracle
from spans import span_metrics, summarize

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: Spark driver heap of every worker JVM; a run must stay small on a
#: machine shared with other jobs.
DRIVER_MEM = "2g"
#: A run that has not finished by then is killed and fails.
DEADLINE_S = 170

#: Input sizes per workload. The first ~8 micro-batches of a fresh JVM run
#: 30-50% slower than later ones, so the live warm-up streams 8 files.
LIVE = {"positions_per_file": 2500, "warm_files": 8}
KPT = {"positions": 150_000, "vehicles": 2339}
DOCS = {"docs": 3000, "dup_share": 0.2}
#: Frame files generated per measured second: enough for batches down to
#: 0.33 s; a faster program runs out of files and ends its window early.
LIVE_FILES_PER_S = 3

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("ingest_items_per_s", "1/s"),
    ("output_bytes_per_item", "bytes"),
)
SPANS = (
    "session.start",
    "session.warmup",
    "streaming.ingest.batch",
    "sources.kpt.ingest",
    "operators.trajectory.speed_samples",
    "kpt_pipeline.route_speed_stats",
    "kpt_pipeline.rankings",
    "kpt_pipeline.map_rows",
    "queries.doc_curation_pipeline",
    "queries.doc_gopher_quality",
    "operators.dedup.minhash_lsh_pairs",
    "operators.cluster.connected_components",
)
#: Peak RSS is a per-layer count, not an end-to-end metric: G1 heap growth
#: makes it spread 0.26 (IQR/median) between identical runs, more than any
#: bound the benchmark may set.
COUNTS = (
    ("session.peak_rss_mb", "MB"),
    ("streaming.ingest.batch.input_lines", "count"),
    ("streaming.ingest.batch.positions_out", "count"),
    ("streaming.ingest.batch.add_batch_ms_p50", "ms"),
    ("streaming.ingest.batch.wal_commit_ms_p50", "ms"),
    ("streaming.ingest.batch.commit_offsets_ms_p50", "ms"),
    ("streaming.ingest.batch.query_planning_ms_p50", "ms"),
    ("streaming.ingest.batch.latest_offset_ms_p50", "ms"),
    ("streaming.state.commit_ms_p50", "ms"),
    ("streaming.state.rows_total_end", "count"),
    ("streaming.state.memory_bytes_end", "bytes"),
    ("streaming.state.dup_dropped", "count"),
    ("streaming.state.dup_planted", "count"),
    ("streaming.sink.files", "count"),
    ("streaming.sink.bytes", "bytes"),
    ("kpt_pipeline.report.jobs", "count"),
    ("kpt_pipeline.report.store_scan_ratio", "ratio"),
    ("operators.dedup.minhash_lsh_pairs.pairs_out", "count"),
    ("operators.cluster.connected_components.components", "count"),
    ("operators.cluster.connected_components.jobs", "count"),
    ("queries.doc_curation_pipeline.dup_recall", "ratio"),
    ("queries.doc_curation_pipeline.false_drop_frac", "ratio"),
    ("trace.latency_p50_ms", "ms"),
)


class RunFailed(Exception):
    """The run cannot produce a result (missing program, crash, timeout)."""


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def _build_kpt(out: str, seed: int, positions: int, vehicles: int) -> None:
    gen.build_kpt(out, seed, positions, vehicles)
    report = oracle.kpt_report(os.path.join(out, "positions.jsonl"), os.path.join(out, "routes.jsonl"))
    with open(os.path.join(out, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(report, fh)


def prepare(workload: str, seed: int, seconds: int) -> str:
    if workload == "kpt_live_ingest":
        params = dict(LIVE, files=int(seconds * LIVE_FILES_PER_S) + 2)
        return gen.cached(WORK, "live", seed, params, gen.build_live)
    return gen.cached(WORK, "kpt", seed, KPT, _build_kpt)


# ---------------------------------------------------------------------------
# worker processes
# ---------------------------------------------------------------------------

def _become_subreaper() -> None:
    """Orphaned descendants (the JVM a worker leaves behind while it shuts
    down) are re-parented to this process, so it can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _group_alive(pgid: int) -> bool:
    while True:  # reap whatever has exited, ours or re-parented
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
    try:
        os.killpg(pgid, 0)
    except OSError as e:
        if e.errno == errno.ESRCH:
            return False
        raise
    return True


def run_worker(workload: str, inputs: str, docs: str | None, scratch: str, mode: str,
               seconds: int, deadline: float) -> tuple[float, dict]:
    """Spawn one worker; returns (set-up seconds, its result). Every process
    it started has ended when this returns."""
    result_path = os.path.join(scratch, f"result_{mode}.json")
    log_path = os.path.join(scratch, f"worker_{mode}.log")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        TMPDIR=tmp,
        # every JVM (spark-submit launcher and Spark driver) keeps its temp files in the run's
        # scratch directory; no perf-counter file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", inputs, "--scratch", scratch, "--result", result_path,
           "--mode", mode, "--seconds", str(seconds)] + (["--docs-inputs", docs] if docs else [])
    with open(log_path, "w", encoding="utf-8") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        # the worker has exited (or timed out): wait for its JVM to go too
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
        if _group_alive(proc.pid):
            os.killpg(proc.pid, signal.SIGKILL)
            while _group_alive(proc.pid):
                time.sleep(0.05)
            raise RunFailed(f"{mode} worker killed at the {DEADLINE_S}s deadline")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RunFailed(f"{mode} worker exited {proc.returncode}:\n{tail}")
    with open(result_path, encoding="utf-8") as fh:
        result = json.load(fh)
    return result["setup_done"] - spawned, result


# ---------------------------------------------------------------------------
# checks and metrics per workload
# ---------------------------------------------------------------------------

def live_outcome(inputs: str, m: dict) -> tuple[int, int, dict, dict, dict]:
    """(attempted, failed, end-to-end values, per-layer counts, detail)."""
    with open(os.path.join(inputs, "truth.json"), encoding="utf-8") as fh:
        truth = json.load(fh)["frames"]
    rows, size = m["sink_rows"], m["sink_bytes"]
    problems = oracle.check_live(rows, truth["positions"], m["sink_last_batch"] + 1)
    seen, new = set(), []
    for f in truth["positions"]:
        fresh = {tuple(p) for p in f} - seen
        new.append(len(fresh))
        seen |= fresh
    # a stopped query may have committed one batch more than it reported
    positions_out = sum(new[b] for b in m["batch_ids"])
    planted = [truth["rows"][b] - new[b] for b in m["batch_ids"]]
    dropped = m["state"]["dup_dropped"]
    problems += oracle.check_dup_dropped(m["batch_ids"], dropped, planted)
    attempted = len(m["ops_ms"])
    e2e = {
        "latency_p50_ms": statistics.median(m["ops_ms"]),
        "ingest_items_per_s": positions_out / (sum(m["ops_ms"]) / 1e3),
        "output_bytes_per_item": size / max(1, len(rows)),
    }
    dur = m["durations_ms"]
    counts = {
        "streaming.ingest.batch.input_lines": m["input_lines"],
        "streaming.ingest.batch.positions_out": positions_out,
        "streaming.ingest.batch.add_batch_ms_p50": statistics.median(dur["addBatch"]),
        "streaming.ingest.batch.wal_commit_ms_p50": statistics.median(dur["walCommit"]),
        "streaming.ingest.batch.commit_offsets_ms_p50": statistics.median(dur["commitOffsets"]),
        "streaming.ingest.batch.query_planning_ms_p50": statistics.median(dur["queryPlanning"]),
        "streaming.ingest.batch.latest_offset_ms_p50": statistics.median(dur["latestOffset"]),
        "streaming.state.commit_ms_p50": statistics.median(m["state"]["commit_ms"]),
        "streaming.state.rows_total_end": m["state"]["rows_total_end"],
        "streaming.state.memory_bytes_end": m["state"]["memory_bytes_end"],
        "streaming.state.dup_dropped": sum(dropped),
        "streaming.state.dup_planted": sum(planted),
        "streaming.sink.files": m["sink_files"],
        "streaming.sink.bytes": size,
    }
    detail = {
        "live_batch_ms": summarize(m["ops_ms"]) | {"samples": m["ops_ms"]},
        "live_positions_per_s": e2e["ingest_items_per_s"],
        "sink_bytes_per_position": e2e["output_bytes_per_item"],
        "committed_batches": m["sink_last_batch"] + 1,
        "problems": problems,
    }
    return attempted, attempted if problems else 0, e2e, counts, detail


def kpt_outcome(inputs: str, m: dict) -> tuple[int, int, dict, dict, dict]:
    with open(os.path.join(inputs, "truth.json"), encoding="utf-8") as fh:
        truth = json.load(fh)
    n = truth["positions"]
    problems = [f"store has {r} rows, want {n}" for r in m["store_rows"] if r != n]
    failed = len(problems)
    for rep in m["reports"]:
        bad = oracle.check_report(rep, truth)
        problems += bad
        failed += bool(bad)
    ingest_med = statistics.median(m["ingest_s"])
    e2e = {
        "latency_p50_ms": statistics.median(m["ops_ms"]),
        "ingest_items_per_s": n / ingest_med,
        "output_bytes_per_item": m["store_bytes"] / n,
    }
    detail = {
        "batch_ingest_s": summarize(m["ingest_s"]) | {"samples": m["ingest_s"]},
        "batch_ingest_positions_per_s": e2e["ingest_items_per_s"],
        "report_ms": summarize(m["ops_ms"]) | {"samples": m["ops_ms"]},
        "report_positions_per_s": n / (e2e["latency_p50_ms"] / 1e3),
        "store_bytes_per_position": e2e["output_bytes_per_item"],
        "positions": n,
        "problems": problems[:5],
    }
    return len(m["ingest_s"]) + len(m["ops_ms"]), failed, e2e, {}, detail


def curation_outcome(docs_inputs: str, lineage_path: str) -> tuple[list[str], dict]:
    """Checks of the traced curation pass against the planted truth."""
    with open(os.path.join(docs_inputs, "truth.json"), encoding="utf-8") as fh:
        truth = json.load(fh)
    with open(lineage_path, encoding="utf-8") as fh:
        lineage = json.load(fh)
    problems, quality = oracle.check_curation(lineage, truth)
    return problems, {
        "queries.doc_curation_pipeline.dup_recall": quality.get("dup_recall", 0.0),
        "queries.doc_curation_pipeline.false_drop_frac": quality.get("false_drop_frac", 0.0),
    }


OUTCOMES = {"kpt_live_ingest": live_outcome, "kpt_batch": kpt_outcome}

#: Job groups whose tasks each workload's traced run must find in the event
#: log (session.start opens before there is a SparkContext, so it has none).
TRACED_GROUPS = {
    "kpt_live_ingest": ("session.warmup", "streaming.ingest.batch"),
    "kpt_batch": ("session.warmup", "sources.kpt.ingest", "kpt_pipeline.report",
                  *(s for s in SPANS if s.startswith(("operators.", "kpt_pipeline.", "queries.")))),
}


def check_trace(workload: str, groups: dict) -> list[str]:
    """A traced layer without tasks means its job group never reached the
    event log, and its per-layer figures would silently read 0."""
    return [f"span {g} has no tasks in the event log" for g in TRACED_GROUPS[workload]
            if groups.get(g, {}).get("tasks", 0) == 0]


def layer_metrics(workload: str, result: dict, counts: dict, e2e: dict) -> dict:
    """Every per-layer metric; layers this workload does not run read 0."""
    walls = dict(result["spans"])
    groups = result["groups"]
    counts = dict.fromkeys((name for name, _unit in COUNTS), 0) | counts
    if workload == "kpt_live_ingest":
        walls["streaming.ingest.batch"] = sum(result["measure"]["ops_ms"]) / 1e3
    if workload == "kpt_batch":
        report = groups.get("kpt_pipeline.report", {})
        cc = "operators.cluster.connected_components"
        counts |= {
            "kpt_pipeline.report.jobs": report.get("jobs", 0),
            "kpt_pipeline.report.store_scan_ratio":
                report.get("input_bytes", 0) / result["counts"]["store_bytes"],
            "operators.dedup.minhash_lsh_pairs.pairs_out": result["counts"]["pairs_out"],
            f"{cc}.components": result["counts"]["components"],
            f"{cc}.jobs": groups.get(cc, {}).get("jobs", 0),
        }
    counts["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    out = span_metrics(SPANS, walls, groups)
    for name, unit in COUNTS:
        out[name] = {"value": counts[name], "unit": unit}
    return out


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    if not os.path.exists(os.path.join(ROOT, "kyiv_traffic_bigdata_spark", "__init__.py")):
        raise RunFailed(f"the program is not in {ROOT}")
    load_before = os.getloadavg()
    inputs = prepare(workload, seed, seconds)
    # the traced kpt_batch run also traces one curation pass (worker.trace_curation)
    docs = gen.cached(WORK, "docs", seed, DOCS, gen.build_docs) \
        if trace and workload == "kpt_batch" else None
    scratch = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        setup_s, result = run_worker(workload, inputs, docs, scratch,
                                     "trace" if trace else "measure", seconds, deadline)
        attempted, failed, e2e, counts, detail = OUTCOMES[workload](inputs, result["measure"])
        if docs:
            problems, quality = curation_outcome(docs, result["counts"]["lineage"])
            attempted, failed = attempted + 1, failed + bool(problems)
            counts |= quality
            detail["curation_problems"] = problems
        if trace:
            problems = check_trace(workload, result["groups"])
            attempted, failed = attempted + 1, failed + bool(problems)
            detail["trace_problems"] = problems
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    e2e["setup_s"] = setup_s
    peak_rss_mb = result["peak_rss_kb"] / 1024
    counts["session.peak_rss_mb"] = peak_rss_mb
    if trace:
        metrics = layer_metrics(workload, result, counts, e2e)
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_before": load_before,
        "env": result["env"], "setup_s": setup_s, "peak_rss_mb": peak_rss_mb,
        "failed_frac": failed / attempted, "detail": detail,
        "wall_s": time.time() - t_start,
    }
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return out, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(OUTCOMES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _become_subreaper()
    try:
        out, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(results, name), "w", encoding="utf-8") as fh:
        json.dump(record | out, fh, indent=1)
    print(json.dumps(record, indent=1), file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
