"""Spark side of the benchmark: one process, one SparkSession, one workload.

Started by ``run.py`` (never by hand) as::

    python3 perfbench/worker.py --workload NAME --inputs DIR --scratch DIR \
        --result FILE --mode measure|trace --seconds N [--docs-inputs DIR]

Both modes start the session and run one warm pass (the set-up the
orchestrator times from process spawn), then record ``setup_done``.
``measure`` then repeats the workload's operation for ``--seconds``
seconds; ``trace`` does the same on an event-logged session and adds one
staged pass that opens a span (a Spark job group) around every layer
call. The program is driven only through its public functions; nothing
in it is patched.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time
from urllib.parse import unquote, urlparse

from spans import Tracer, aggregate_event_log, event_log_lines


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of a process, in kB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from file footers (no Spark job)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files if f.endswith(".parquet"))


# ---------------------------------------------------------------------------
# kpt_live_ingest
# ---------------------------------------------------------------------------

class LiveIngest:
    """Frame files → ingest_transform → start_positions_sink(available_now),
    one file per micro-batch; every progress update is captured by a
    StreamingQueryListener (``recentProgress`` keeps only the last 100)."""

    def __init__(self, spark, inputs: str, scratch: str) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark, self.inputs, self.scratch = spark, inputs, scratch
        self.progress: list[dict] = []
        self.lock = threading.Lock()
        self.tick = threading.Event()
        owner = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with owner.lock:
                    owner.progress.append(json.loads(event.progress.json))
                owner.tick.set()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                owner.tick.set()

        spark.streams.addListener(Listener())

    def _start(self, sub: str):
        from kyiv_traffic_bigdata_spark.streaming.ingest import (
            ingest_transform,
            replay_text_stream,
            start_positions_sink,
        )

        raw = replay_text_stream(self.spark, os.path.join(self.inputs, sub), max_files_per_trigger=1)
        return start_positions_sink(
            ingest_transform(raw),
            os.path.join(self.scratch, f"sink_{sub}"),
            os.path.join(self.scratch, f"ckpt_{sub}"),
            available_now=True,
        )

    def _batches(self, run_id: str) -> list[dict]:
        with self.lock:
            return [p for p in self.progress if p["runId"] == run_id]

    def warm(self) -> str:
        q = self._start("warm")
        q.awaitTermination()
        return str(q.runId)

    def measure(self, seconds: float) -> dict:
        q = self._start("frames")
        run_id = str(q.runId)
        t0 = time.perf_counter()
        # Stop right after a batch completes once the window is over, so
        # the batch cut short by stop() has barely started.
        while q.isActive:
            self.tick.wait(0.5)
            self.tick.clear()
            if time.perf_counter() - t0 >= seconds and self._batches(run_id):
                break
        q.stop()
        batches = sorted(self._batches(run_id), key=lambda p: p["batchId"])
        done = [p for p in batches if p["numInputRows"] > 0]
        state = [p["stateOperators"][0] for p in done]
        durations = {k: [p["durationMs"].get(k, 0) for p in done] for k in (
            "triggerExecution", "addBatch", "walCommit", "commitOffsets",
            "queryPlanning", "latestOffset")}
        return {
            "run_id": run_id,
            "batch_ids": [p["batchId"] for p in done],
            "ops_ms": durations["triggerExecution"],
            "durations_ms": durations,
            "input_lines": sum(p["numInputRows"] for p in done),
            "state": {
                "commit_ms": [s["commitTimeMs"] for s in state],
                "rows_total_end": state[-1]["numRowsTotal"] if state else 0,
                "memory_bytes_end": state[-1]["memoryUsedBytes"] if state else 0,
                "dup_dropped": [s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                                for s in state],
            },
            **self.read_sink(os.path.join(self.scratch, "sink_frames")),
        }

    def read_sink(self, sink: str) -> dict:
        """What the file sink committed, read through its own metadata log
        (``spark.read`` on a file-sink directory lists only committed
        files): rows, file count and bytes, and the last committed batch
        id (the newest log entry's name)."""
        from pyspark.sql import functions as F

        cols = ("vehicle_id", "route_id", "lat", "lon", "direction", "flag", "timestamp")
        df = self.spark.read.json(sink).select(*cols, F.input_file_name().alias("file"))
        rows, files = [], set()
        for r in df.collect():
            rows.append(list(r[:-1]))
            files.add(r["file"])
        log = os.listdir(os.path.join(sink, "_spark_metadata"))
        return {
            "sink_rows": rows,
            "sink_files": len(files),
            "sink_bytes": sum(os.path.getsize(unquote(urlparse(f).path)) for f in files),
            "sink_last_batch": max(int(f.split(".")[0]) for f in log if f[0].isdigit()),
        }

    def breakdown(self, tracer: Tracer) -> dict:
        # The streaming layers run inside the measured query's micro-batches;
        # their jobs carry the query's run id as job group (mapped to the
        # streaming.ingest.batch span by the caller), so no staged pass.
        return {}


# ---------------------------------------------------------------------------
# kpt_batch
# ---------------------------------------------------------------------------

#: Full-size ingest+report passes before timing. Report time keeps falling
#: for 4-5 passes in a fresh JVM (JIT of the planner and generated code);
#: with fewer warm passes the timed median sits inside that trend, so
#: slower runs, which time fewer passes, read slower still.
KPT_WARM_PASSES = 3


class KptBatch:
    """``ingest`` CLI (envelopes → date-partitioned parquet store) followed
    by the ``visualize`` report over that store, in a closed loop."""

    def __init__(self, spark, inputs: str, scratch: str, docs_inputs: str | None = None) -> None:
        self.spark, self.inputs, self.scratch = spark, inputs, scratch
        self.docs_inputs = docs_inputs
        self.store = os.path.join(scratch, "store")
        self.routes = os.path.join(inputs, "routes.jsonl")

    def ingest(self, env: str, store: str) -> None:
        from kyiv_traffic_bigdata_spark.sources.kpt import read_positions_ordered, write_positions

        write_positions(read_positions_ordered(self.spark, env), store)

    def report(self, store: str) -> dict:
        """The five result actions of the report, as plain lists."""
        from kyiv_traffic_bigdata_spark import kpt_pipeline as K
        from kyiv_traffic_bigdata_spark.sources.kpt import read_routes

        fixes = self.spark.read.parquet(store)
        samples = K.speed_samples(fixes)
        stats = K.route_speed_stats(fixes, samples, read_routes(self.spark, self.routes))
        cols = ("route_id", "label", "avg_speed", "n_samples", "n_vehicles")
        g = K.global_speed_stats(samples).collect()[0]
        out = {"global": [g.n_vehicles, g.n_samples, g.avg_speed, g.min_speed, g.max_speed]}
        for name, fn in (("top", K.top_routes_by_samples), ("slowest", K.slowest_routes),
                         ("fastest", K.fastest_routes)):
            out[name] = [[r[c] for c in cols] for r in fn(stats).collect()]
        out["map_rows"] = [list(r) for r in K.map_rows(fixes, samples).collect()]
        return out

    def warm(self) -> None:
        warm_store = os.path.join(self.scratch, "warm_store")
        for _ in range(KPT_WARM_PASSES):
            self.ingest(os.path.join(self.inputs, "positions.jsonl"), warm_store)
            self.report(warm_store)

    def measure(self, seconds: float) -> dict:
        env = os.path.join(self.inputs, "positions.jsonl")
        ingest_s, report_s, store_rows, reports = [], [], [], []
        t0 = time.perf_counter()
        while not ingest_s or time.perf_counter() - t0 < seconds:
            t = time.perf_counter()
            self.ingest(env, self.store)
            ingest_s.append(time.perf_counter() - t)
            store_rows.append(parquet_rows(self.store))
            t = time.perf_counter()
            reports.append(self.report(self.store))
            report_s.append(time.perf_counter() - t)
        return {"ingest_s": ingest_s, "ops_ms": [s * 1e3 for s in report_s],
                "store_rows": store_rows, "store_bytes": parquet_bytes(self.store),
                "reports": reports}

    def breakdown(self, tracer: Tracer) -> dict:
        from kyiv_traffic_bigdata_spark import kpt_pipeline as K
        from kyiv_traffic_bigdata_spark.sources.kpt import read_routes

        with tracer.span("sources.kpt.ingest"):
            self.ingest(os.path.join(self.inputs, "positions.jsonl"), self.store)
        with tracer.span("kpt_pipeline.report"):
            self.report(self.store)  # as measured: feeds report.jobs / store_scan_ratio
        # Staged pass: cache each layer's output at its boundary so the
        # next span holds only its own work.
        fixes = self.spark.read.parquet(self.store)
        with tracer.span("operators.trajectory.speed_samples"):
            samples = K.speed_samples(fixes).cache()
            samples.count()
        with tracer.span("kpt_pipeline.route_speed_stats"):
            stats = K.route_speed_stats(fixes, samples, read_routes(self.spark, self.routes)).cache()
            stats.count()
        with tracer.span("kpt_pipeline.rankings"):
            K.global_speed_stats(samples).collect()
            for fn in (K.top_routes_by_samples, K.slowest_routes, K.fastest_routes):
                fn(stats).collect()
        with tracer.span("kpt_pipeline.map_rows"):
            K.map_rows(fixes, samples).collect()
        stats.unpersist()
        samples.unpersist()
        out = {"store_bytes": parquet_bytes(self.store)}
        if self.docs_inputs:
            out |= trace_curation(self.spark, self.docs_inputs, self.scratch, tracer)
        return out


# ---------------------------------------------------------------------------
# doc_curation
# ---------------------------------------------------------------------------

#: Pair threshold queries.q_doc_curation_pipeline passes to minhash_lsh_pairs.
CURATION_PAIR_THRESHOLD = 0.2


def read_lineage(path: str) -> list[dict]:
    """Curation lineage rows, ordered by doc_id."""
    import pyarrow.parquet as pq

    return sorted(pq.read_table(path).to_pylist(), key=lambda r: r["doc_id"])


def trace_curation(spark, inputs: str, scratch: str, tracer: Tracer) -> dict:
    """One ``curate`` CLI pass (queries.q_doc_curation_pipeline plus the
    lineage write) and a staged pass over its layers, all traced. Not a
    timed workload: its passes stay in JIT warm-up for longer than a run
    can afford, so it runs once inside the kpt_batch traced run."""
    from kyiv_traffic_bigdata_spark.operators.cluster import connected_components
    from kyiv_traffic_bigdata_spark.operators.dedup import minhash_lsh_pairs
    from kyiv_traffic_bigdata_spark.queries import q_doc_curation_pipeline, q_doc_gopher_quality
    from kyiv_traffic_bigdata_spark.tables import load_table

    sf = os.path.join(inputs, "sf")
    lineage = os.path.join(scratch, "lineage")
    with tracer.span("queries.doc_curation_pipeline"):
        q_doc_curation_pipeline(spark, sf).write.mode("overwrite").parquet(lineage)
    rows = os.path.join(scratch, "lineage.json")
    with open(rows, "w", encoding="utf-8") as fh:
        json.dump(read_lineage(lineage), fh)
    with tracer.span("queries.doc_gopher_quality"):
        gopher = q_doc_gopher_quality(spark, sf).cache()
        gopher.count()
    # the same round-robin spread the query layer gives the corpus
    docs = load_table(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    with tracer.span("operators.dedup.minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(docs, threshold=CURATION_PAIR_THRESHOLD).cache()
        pairs_out = pairs.count()
    with tracer.span("operators.cluster.connected_components"):
        comp = connected_components(pairs).cache()
        components = comp.select("component").distinct().count()
    for df in (comp, pairs, gopher):
        df.unpersist()
    return {"pairs_out": pairs_out, "components": components, "lineage": rows}


WORKLOADS = {"kpt_live_ingest": LiveIngest, "kpt_batch": KptBatch}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--docs-inputs", default=None, help="corpus traced by a kpt_batch trace run")
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--mode", choices=("measure", "trace"), required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.scratch, "warehouse"),
        "spark.local.dir": os.path.join(args.scratch, "local"),
    }
    log_dir = os.path.join(args.scratch, "eventlog")
    if args.mode == "trace":
        os.makedirs(log_dir, exist_ok=True)
        conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                 "spark.eventLog.compress": "false"}

    tracer = Tracer()
    with tracer.span("session.start"):
        from kyiv_traffic_bigdata_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    tracer.sc = spark.sparkContext
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
    extra = {"docs_inputs": args.docs_inputs} if args.docs_inputs else {}
    workload = WORKLOADS[args.workload](spark, args.inputs, args.scratch, **extra)
    with tracer.span("session.warmup"):
        warm_run_id = workload.warm()
    result = {"setup_done": time.time()}
    result["measure"] = workload.measure(args.seconds)
    result["peak_rss_kb"] = vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")
    result["env"] = {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        "master": spark.sparkContext.master,
    }
    if args.mode == "trace":
        result["counts"] = workload.breakdown(tracer)
    spark.stop()
    if args.mode == "trace":
        alias = {}
        if warm_run_id:
            alias[warm_run_id] = "session.warmup"
        if "run_id" in result["measure"]:
            alias[result["measure"]["run_id"]] = "streaming.ingest.batch"
        result["groups"] = aggregate_event_log(event_log_lines(log_dir), alias)
        result["spans"] = {}
        for s in tracer.spans:
            result["spans"][s["name"]] = result["spans"].get(s["name"], 0.0) + s["wall_s"]
    tmp = args.result + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    os.replace(tmp, args.result)


if __name__ == "__main__":
    main()
