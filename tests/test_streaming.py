"""Streaming-layer tests — SURVEY §5.5: file/transcript replay through the
ingest graph, state-store dedup, and checkpoint recovery (the built-in
replacement for the reference's hand-rolled WAL, websocket_client.py:25-95).
"""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.streaming.ingest import (
    ingest_transform,
    replay_text_stream,
    start_positions_sink,
)
from kyiv_traffic_bigdata_spark.streaming.socketio import (
    is_protocol_frame,
    parse_handshake,
    register,
)

CSV = "{vid},{rid},50.45,30.52,0,0,{ts}"


def frame(vid, rid, ts):
    return f'42["locations",["{CSV.format(vid=vid, rid=rid, ts=ts)}"]]'


def test_parse_handshake():
    body = '97:0{"sid":"abc123","upgrades":["websocket"],"pingInterval":25000,"pingTimeout":20000}'
    assert parse_handshake(body) == ("abc123", 25000)
    assert parse_handshake("40") == (None, None)
    assert parse_handshake(':0{"sid": broken') == (None, None)


def test_protocol_frame_classification():
    for f_ in ["2", "3", "2probe", "3probe", "40", '0{"sid":"x"}']:
        assert is_protocol_frame(f_), f_
    for f_ in [frame(1, 2, 100), "1,2,50.45,30.52,0,0,100", "42x"]:
        assert not is_protocol_frame(f_), f_


def _run_transcript(spark, transcript, out_dir, ckpt, expect_rows):
    """Python DataSources don't support Trigger.AvailableNow (Spark falls
    back to one batch), so run micro-batches on a timer and poll the sink."""
    import time

    q = (
        spark.readStream.format("kpt_socketio")
        .option("transcript", str(transcript))
        .option("maxFramesPerBatch", 3)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(out_dir).count() >= expect_rows:
                    break
            except Exception:
                pass  # sink dir not materialized yet
            time.sleep(1)
    finally:
        q.stop()


@pytest.mark.slow
def test_transcript_datasource_batches_and_order(spark, tmp_path):
    transcript = tmp_path / "frames.log"
    lines = [frame(i, 7, 1_770_000_000 + i) for i in range(10)]
    transcript.write_text("\n".join(lines) + "\n")

    register(spark)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_transcript(spark, transcript, out_dir, ckpt, expect_rows=10)
    got = spark.read.parquet(out_dir).orderBy("seq").collect()
    assert [r.seq for r in got] == list(range(10))
    assert got[4].value == lines[4]

    # restart on a grown transcript: only the new tail is processed
    transcript.write_text("\n".join(lines + [frame(99, 7, 1_770_000_100)]) + "\n")
    _run_transcript(spark, transcript, out_dir, ckpt, expect_rows=11)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 11  # no reprocessing of committed offsets
    assert sum(1 for r in rows if r.seq == 10) == 1


def test_ingest_graph_end_to_end_with_dedup(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    dup = frame(1, 7, 1_770_000_000)
    (src / "a.txt").write_text(
        "\n".join([
            dup,
            dup,  # same (vehicle_id, timestamp) → ST3 dedup drops one
            frame(2, 7, 1_770_000_000),
            "2",  # protocol frames fall out of the parse (no event match)
            "3probe",
            "9,9,10.0,10.0,0,0,1770000000",  # outside bbox → F1 drops
            "junk",
        ]) + "\n"
    )
    raw = replay_text_stream(spark, str(src))
    positions = ingest_transform(raw)
    q = start_positions_sink(
        positions,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)
    got = spark.read.json(str(tmp_path / "out"))
    assert got.count() == 2
    assert {r.vehicle_id for r in got.collect()} == {1, 2}
    assert "date" in got.columns


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Kill/restart mid-stream: the checkpoint must make the sink
    exactly-once across runs (supersedes the reference's WAL S7/S8)."""
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (src / "a.txt").write_text(frame(1, 7, 1_770_000_000) + "\n")

    def run_once():
        raw = replay_text_stream(spark, str(src))
        q = start_positions_sink(
            ingest_transform(raw, dedup_ttl_s=None), out, ckpt, available_now=True
        )
        q.awaitTermination(180)

    run_once()
    (src / "b.txt").write_text(frame(2, 7, 1_770_000_001) + "\n")
    run_once()  # restart from checkpoint: must process only b.txt
    got = spark.read.json(out)
    assert got.count() == 2
    assert {r.vehicle_id for r in got.collect()} == {1, 2}


@pytest.mark.parametrize("prefer_rocksdb", [True, False], ids=["rocksdb", "hdfs"])
def test_checkpoint_recovery_keeps_dedup_state(spark, tmp_path, monkeypatch, prefer_rocksdb):
    """Kill/restart with ST3 TTL dedup on: the restarted query must load
    the dedup state its first run committed, so a duplicate whose copies
    straddle the restart reaches the sink once. On RocksDB the state is
    committed as changelogs and recovered by replaying them."""
    from kyiv_traffic_bigdata_spark.streaming import state

    if prefer_rocksdb and not state.rocksdb_available(spark):
        pytest.skip("rocksdbjni absent in this JVM; fallback path covered")
    confs = {k: spark.conf.get(k, None) for k in (state._PROVIDER_CONF, state.CHANGELOG_CONF)}
    real_configure, chosen = state.configure_state_store, []

    def configure(session, **_):  # the sink's call, pinned to this case's provider
        chosen.append(real_configure(session, prefer_rocksdb=prefer_rocksdb))
        return chosen[-1]

    monkeypatch.setattr(state, "configure_state_store", configure)
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    dup = frame(1, 7, 1_770_000_000)

    def run_once():
        raw = replay_text_stream(spark, str(src))
        q = start_positions_sink(ingest_transform(raw), out, ckpt, available_now=True)
        q.awaitTermination(180)

    try:
        (src / "a.txt").write_text("\n".join([dup, frame(2, 7, 1_770_000_000)]) + "\n")
        run_once()
        (src / "b.txt").write_text("\n".join([dup, frame(3, 7, 1_770_000_001)]) + "\n")
        run_once()  # restart: b.txt's copy of dup is dropped by recovered state

        want = state.ROCKSDB_PROVIDER if prefer_rocksdb else state.HDFS_PROVIDER
        assert chosen == [want, want]
        changelog_on = spark.conf.get(state.CHANGELOG_CONF) == "true"
        assert changelog_on == (want == state.ROCKSDB_PROVIDER)
        state_files = [f for _, _, fs in os.walk(os.path.join(ckpt, "state")) for f in fs]
        suffix = ".changelog" if prefer_rocksdb else ".delta"
        assert any(f.endswith(suffix) for f in state_files), state_files

        got = [r.vehicle_id for r in spark.read.json(out).collect()]
        assert sorted(got) == [1, 2, 3]
    finally:
        for k, v in confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
