"""State-store provider selection — SURVEY §4's 100 TB streaming posture.

The default HDFSBackedStateStoreProvider keeps every key in executor-heap
maps: fine for the local suite, but a large stateful job (TTL dedup over
billions of keys, per-user sessionization) wants the RocksDB provider —
state lives off-heap/on-disk with incremental checkpointing, so state
size is bounded by local disk, not heap.

RocksDB commits by changelog: each micro-batch's commit uploads only the
key changes it made, and full snapshots are built and uploaded by the
state store's background maintenance thread. Without it every commit
zips and uploads a full snapshot from every state partition, on the
micro-batch's critical path (SCALING.md "Streaming"). Recovery loads
the latest snapshot and replays the changelogs after it, so a restart
still lands on the exact committed state. The conf is only read by the
RocksDB provider, so it is set off when the default provider is chosen.

Spark bundles RocksDB (rocksdbjni) since 3.2, but the native library may
be absent on exotic platforms — so selection probes the JVM and falls
back to the default provider rather than failing query start. Tests run
the stateful ops under BOTH providers (tests/test_stateful_streaming.py,
tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
CHANGELOG_CONF = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def rocksdb_available(spark: SparkSession) -> bool:
    """True when the RocksDB provider class loads in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(ROCKSDB_PROVIDER)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001 — any JVM failure means "absent"
        return False


def configure_state_store(spark: SparkSession, prefer_rocksdb: bool = True) -> str:
    """Set the provider for streaming queries started after this call,
    with changelog checkpointing exactly when it is RocksDB; returns the
    provider class chosen. The confs are read at query start, so calling
    this before ``writeStream.start()`` is sufficient — existing
    checkpoints keep their original provider format, and RocksDB reads
    snapshot-only and changelog checkpoints alike."""
    provider = (
        ROCKSDB_PROVIDER
        if prefer_rocksdb and rocksdb_available(spark)
        else HDFS_PROVIDER
    )
    spark.conf.set(_PROVIDER_CONF, provider)
    spark.conf.set(CHANGELOG_CONF, str(provider == ROCKSDB_PROVIDER).lower())
    return provider
