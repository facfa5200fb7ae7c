"""KPT positions/routes format layer — SURVEY §2.1 S1–S4 and §2.2 P1–P5.

Readers for the reference's nested-JSONL envelopes, the full Socket.IO /
CSV message-parse pipeline as pure column expressions, and the partitioned
writers. Reference semantics (file:line cites per function):

* positions envelope: one JSONL line per 5-s flush
  (``kpt/poller/writer.py:86-91``) — ``collected_by``, ISO ingest
  ``timestamp``, ``count``, ``positions: [VehiclePosition]``.
* routes envelope: one line per 30-s poll (``kpt/poller/models.py:42-59``).
* message parsing: CSV-first, then Socket.IO event frame, else drop
  (``kpt/poller/parsers.py:115-134``).

Everything is PERMISSIVE schema-on-read: malformed input degrades to null
rows that the F3 parse-success filter drops — the reference's
"bad input is dropped, never fatal" contract (SURVEY §5).

Scale: readers are plain ``spark.read.json`` scans with explicit schemas
(no inference pass over 100 TB); the parse pipeline is one explode + one
filter, each parser running once per line or payload element, no
shuffle. The canonical store written by :func:`write_positions` is
date-partitioned parquet bucketed by ``vehicle_id`` so the W1
trajectory window can run shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import (
    KYIV_BBOX_POLLER,
    POSITION_CSV_FIELDS,
    POSITION_EVENT_NAMES,
    BoundingBox,
)
from ..functions.geo import in_bbox
from ..schemas import POSITION, POSITIONS_ENVELOPE, ROUTES_ENVELOPE

#: DDL twin of schemas.POSITION for from_csv/from_json (P1, parsers.py:24-53).
POSITION_DDL = (
    "vehicle_id LONG, route_id LONG, lat DOUBLE, lon DOUBLE, "
    "direction INT, flag INT, timestamp LONG"
)

#: Socket.IO text frame: ``42["event",<payload>]`` (parsers.py:13-14).
SOCKETIO_FRAME_RE = r'^42\["(\w+)",(.*)\]\s*$'

#: Position dict payload with the reference's alias keys
#: (models.py:30-39: ``vehicle_id``|``id``, ``route_id``|``routeId``).
POSITION_DICT_DDL = (
    "vehicle_id LONG, id LONG, route_id LONG, routeId LONG, lat DOUBLE, "
    "lon DOUBLE, direction INT, flag INT, timestamp LONG"
)


# ---------------------------------------------------------------------------
# S1 / S2 — envelope readers
# ---------------------------------------------------------------------------

def read_position_envelopes(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Raw envelope lines (one row per 5-s flush), explicit schema."""
    return spark.read.schema(POSITIONS_ENVELOPE).json(paths)


def read_positions(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1 (visualize.py:39-45): concat all ``positions`` arrays.

    Output: one row per vehicle fix + ``ingest_ts`` (envelope collection
    time — the watermark-safe clock, SURVEY ST4) alongside the stale
    device ``timestamp``.
    """
    env = read_position_envelopes(spark, paths)
    return (
        env.select(
            F.to_timestamp(F.col("timestamp")).alias("ingest_ts"),
            F.explode("positions").alias("p"),
        )
        .select("ingest_ts", "p.*")
    )


def read_positions_ordered(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1 with the reference's *file order* made explicit.

    ``visualize.py`` concatenates envelope lines sequentially, and several
    of its operators are order-dependent (stable sort ties, last-seen route
    J2, first-wins latest-fix ties — SURVEY §7.4). File order ≡ (envelope
    ingest timestamp, index within the envelope's array), which
    ``posexplode`` captures as a total order usable as a window tiebreak.
    """
    env = read_position_envelopes(spark, paths)
    return (
        env.select(
            F.to_timestamp(F.col("timestamp")).alias("ingest_ts"),
            F.posexplode("positions").alias("pos_idx", "p"),
        )
        .select("ingest_ts", "pos_idx", "p.*")
    )


def read_routes(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S2 (visualize.py:48-57): route catalog, last-write-wins per id.

    The reference builds a dict so later JSONL lines overwrite earlier
    ones; file order ≈ poll time, so we define the survivor as
    latest-by-(poll timestamp, poll_number) — deterministic under Spark's
    unordered scan (SURVEY §7.4 order-dependence note).
    """
    env = spark.read.schema(ROUTES_ENVELOPE).json(paths)
    exploded = env.select(
        F.to_timestamp(F.col("timestamp")).alias("poll_ts"),
        F.col("poll_number"),
        F.explode("routes").alias("r"),
    ).select("poll_ts", "poll_number", "r.id", "r.type", "r.number")
    # max_by over a packed struct: single hash aggregate, no window shuffle.
    return (
        exploded.groupBy("id")
        .agg(
            F.max_by(
                F.struct("type", "number"), F.struct("poll_ts", "poll_number")
            ).alias("s")
        )
        .select("id", "s.type", "s.number")
    )


# ---------------------------------------------------------------------------
# P1–P5 — message parse pipeline (column expressions)
# ---------------------------------------------------------------------------

def is_csv_position(text: Column, parsed: Column) -> Column:
    """P1 (parsers.py:24-53): true when ``parsed``, the
    ``from_csv(text, POSITION_DDL)`` of a line, is a position: exactly 7
    fields, every cast non-null (the reference drops on the first bad
    cast).

    ``parsed`` must be read through a lambda variable (see
    :func:`parse_messages`): applied to the ``from_csv`` expression
    itself, each field access below would become its own single-field
    parse. The arity split runs last, only for lines whose seven fields
    all cast."""
    return (
        parsed["vehicle_id"].isNotNull()
        & parsed["route_id"].isNotNull()
        & parsed["lat"].isNotNull()
        & parsed["lon"].isNotNull()
        & parsed["direction"].isNotNull()
        & parsed["flag"].isNotNull()
        & parsed["timestamp"].isNotNull()
        & (F.size(F.split(text, ",", -1)) == POSITION_CSV_FIELDS)
    )


def coerce_position_dict(d: Column) -> Column:
    """P4 (models.py:30-39): alias coercion ``id``→``vehicle_id``,
    ``routeId``→``route_id``; null when either key is absent (the
    reference raises → message dropped). Caller supplies the
    timestamp default (now) so batch replays stay deterministic."""
    vid = F.coalesce(d["vehicle_id"], d["id"])
    rid = F.coalesce(d["route_id"], d["routeId"])
    struct = F.struct(
        vid.alias("vehicle_id"),
        rid.alias("route_id"),
        d["lat"].alias("lat"),
        d["lon"].alias("lon"),
        F.coalesce(d["direction"], F.lit(0)).alias("direction"),
        F.coalesce(d["flag"], F.lit(0)).alias("flag"),
        d["timestamp"].alias("timestamp"),
    )
    return F.when(vid.isNotNull() & rid.isNotNull(), struct)


def parse_messages(
    raw: DataFrame,
    value_col: str = "value",
    bbox: BoundingBox = KYIV_BBOX_POLLER,
    event_names: tuple[str, ...] = POSITION_EVENT_NAMES,
    default_ts: Column | None = None,
) -> DataFrame:
    """P1–P5 + F1/F3/F4 (parsers.py:115-134): raw text lines → position rows.

    Dispatch order matches the reference exactly:

    1. bare CSV line (P1);
    2. else Socket.IO frame ``42["evt",payload]`` with evt in the
       allowlist (P2/F4), payload exploded (P3) where each element is a
       CSV string or a position dict (P4);
    3. else drop (F3).

    Each parser runs once per line and once per payload element. Every
    line becomes an array of element texts: the line itself, or its
    event's payload elements. Three ``transform`` lambdas inside the
    explode's input then parse each element (``from_csv``, then
    ``from_json`` only where the CSV check fails) and coerce it to the
    position struct. Catalyst neither splits a parse whose fields are
    read through a lambda variable into per-field parses nor copies a
    lambda into a pushed-down filter, so the one Filter above the explode
    (null drop + F1 bbox, the reference's parse-time pushdown,
    parsers.py:40-41,100) reads only the exploded column. The parses run
    interpreted; the regex, filter and projection are codegen'd. No
    shuffle.
    """
    v = F.col(value_col)
    # P5 without a line-level CSV parse: a line starting "42[" can never
    # be a CSV position (its first field does not cast to LONG), and any
    # other line can never be an event frame (SOCKETIO_FRAME_RE anchors
    # on that prefix). So the prefix alone picks the branch.
    is_frame = v.startswith("42[")
    event = F.regexp_extract(v, SOCKETIO_FRAME_RE, 1)
    payload = F.regexp_extract(v, SOCKETIO_FRAME_RE, 2)

    # P3: payload forms — array of CSV strings, array of dicts, a bare JSON
    # string, or a single dict. One normalization covers all four:
    # from_json(·, array<string>) keeps JSON *objects* as their raw JSON
    # text, so every payload becomes array<string> and each element is
    # retried per-shape below (CSV first, then JSON dict) — exactly the
    # reference's per-element dispatch (parsers.py:74-104). Scalars are
    # wrapped in [] because from_json has no scalar-string schema.
    wrapped = F.concat(F.lit("["), payload, F.lit("]"))
    texts = F.when(~is_frame, F.array(v)).when(
        event.isin(*event_names),
        F.coalesce(
            F.from_json(payload, "array<string>"),
            F.from_json(wrapped, "array<string>"),
        ),
    )

    # One from_csv per element; a "{"-prefixed element (a dict) can never
    # cast its first field to LONG, so it skips the CSV parse.
    with_csv = F.transform(
        texts,
        lambda t: F.struct(
            t.alias("text"),
            F.when(~t.startswith("{"), F.from_csv(t, POSITION_DDL)).alias("csv"),
        ),
    )
    # CSV first; else one from_json, for event payload elements only (a
    # bare line that is not CSV is dropped, never read as a dict).
    no_csv = F.lit(None).cast(f"struct<{POSITION_DDL}>")
    no_dict = F.lit(None).cast(f"struct<{POSITION_DICT_DDL}>")
    with_dict = F.transform(
        with_csv,
        lambda e: F.when(
            is_csv_position(e["text"], e["csv"]),
            F.struct(e["csv"].alias("csv"), no_dict.alias("dict")),
        ).when(
            is_frame,
            F.struct(
                no_csv.alias("csv"),
                F.from_json(e["text"], f"struct<{POSITION_DICT_DDL}>").alias("dict"),
            ),
        ),
    )
    positions = F.transform(
        with_dict, lambda e: F.coalesce(e["csv"], coerce_position_dict(e["dict"]))
    )

    keep = [c for c in raw.columns if c != value_col]
    p = F.col("p")
    ts_default = default_ts if default_ts is not None else F.unix_timestamp()
    return (
        raw.select(*keep, F.explode(positions).alias("p"))
        .where(p.isNotNull() & in_bbox(p["lat"], p["lon"], bbox))
        .select(*keep, "p.*")
        .withColumn("timestamp", F.coalesce(F.col("timestamp"), ts_default.cast("long")))
    )


# ---------------------------------------------------------------------------
# S3 / S4 — sinks
# ---------------------------------------------------------------------------

def write_positions(
    df: DataFrame,
    path: str,
    ingest_ts_col: str = "ingest_ts",
    buckets: int = 0,
    mode: str = "overwrite",
) -> None:
    """S3 canonical store: parquet partitioned by ingest date (ST10).

    ``buckets > 0`` additionally buckets+sorts by (vehicle_id, timestamp)
    (saveAsTable path) so downstream W1 windows and J2 latest-per-key
    read pre-clustered data — at 100 TB that removes the analytics
    shuffle entirely.
    """
    out = df.withColumn("date", F.date_format(F.col(ingest_ts_col), "yyyyMMdd"))
    writer = out.write.mode(mode).partitionBy("date")
    if buckets:
        (
            writer.bucketBy(buckets, "vehicle_id")
            .sortBy("vehicle_id", "timestamp")
            .option("path", path)
            .format("parquet")
            .saveAsTable(f"positions_bucketed_{abs(hash(path)) % 10**8}")
        )
    else:
        writer.parquet(path)


def write_position_envelopes_jsonl(
    df: DataFrame, path: str, collected_by: str = "kyiv_traffic_bigdata_spark"
) -> None:
    """S4 byte-parity mode (writer.py:82-92): wrap rows grouped by ingest
    ts into ``{collected_by, timestamp, count, positions}`` JSONL lines.

    Only for reference-format interchange; the parquet store is canonical.
    """
    env = (
        df.groupBy(F.col("ingest_ts"))
        .agg(
            F.collect_list(
                F.struct(
                    "vehicle_id", "route_id", "lat", "lon", "direction", "flag", "timestamp"
                )
            ).alias("positions")
        )
        .select(
            F.lit(collected_by).alias("collected_by"),
            F.date_format("ingest_ts", "yyyy-MM-dd'T'HH:mm:ssXXX").alias("timestamp"),
            F.size("positions").cast("long").alias("count"),
            "positions",
        )
    )
    env.write.mode("overwrite").json(path)
