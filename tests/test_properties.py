"""Property-based tests (hypothesis) — SURVEY §5.4.

Encode the reference's implicit contracts as invariants over arbitrary
input: parsers drop, never raise; filters select subsets; dedup is
idempotent; decoded values stay in representable ranges. Spark job startup
dominates per-example cost, so each property runs ONE Spark job over a
batch of generated examples instead of one job per example.
"""

from __future__ import annotations

import base64
import json
import re
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kyiv_traffic_bigdata_spark.config import KYIV_BBOX_POLLER, POSITION_EVENT_NAMES
from kyiv_traffic_bigdata_spark.operators.dedup import exact_duplicates
from kyiv_traffic_bigdata_spark.operators.latest import dedup_exact
from kyiv_traffic_bigdata_spark.sources.eway import decode_messages
from kyiv_traffic_bigdata_spark.sources.kpt import parse_messages

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

printable = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=200,
)


@given(st.lists(printable, min_size=1, max_size=30))
@SETTINGS
def test_kpt_parser_never_raises_and_always_in_bbox(spark, lines):
    """The 'bad input is dropped, never fatal' contract (parsers.py:33-53)
    + F1: every surviving row is inside the bbox with non-null ids."""
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    out = parse_messages(raw, default_ts=F.lit(0)).collect()
    for r in out:
        assert KYIV_BBOX_POLLER.contains(r.lat, r.lon)
        assert r.vehicle_id is not None and r.route_id is not None


@given(
    st.lists(
        st.tuples(
            st.integers(1, 5),  # vehicle_id
            st.floats(45.0, 55.0, allow_nan=False),
            st.floats(25.0, 35.0, allow_nan=False),
        ),
        min_size=1,
        max_size=50,
    )
)
@SETTINGS
def test_bbox_filter_is_a_subset(spark, rows):
    df = spark.createDataFrame(rows, "vehicle_id long, lat double, lon double")
    kept = df.where(
        F.col("lat").between(KYIV_BBOX_POLLER.lat_min, KYIV_BBOX_POLLER.lat_max)
        & F.col("lon").between(KYIV_BBOX_POLLER.lon_min, KYIV_BBOX_POLLER.lon_max)
    )
    assert kept.count() <= df.count()
    assert kept.exceptAll(df).count() == 0


@given(
    st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 5), st.integers(0, 1000)),
        min_size=1,
        max_size=60,
    )
)
@SETTINGS
def test_dedup_exact_idempotent_and_key_unique(spark, rows):
    """ST3-as-batch: dedup(dedup(x)) == dedup(x); one row per key; output
    rows all come from the input."""
    df = spark.createDataFrame(rows, "k long, ts long, v long")
    once = dedup_exact(df, ["k", "ts"], tiebreak="v")
    twice = dedup_exact(once, ["k", "ts"], tiebreak="v")
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice
    keys = [(r.k, r.ts) for r in once.collect()]
    assert len(keys) == len(set(keys)) == len({(k, t) for k, t, _ in rows})
    assert once.exceptAll(df).count() == 0


@given(st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=20))
@SETTINGS
def test_eway_decoder_total_and_in_range(spark, blobs):
    """P7 totality: arbitrary bytes (base64'd) decode without error; every
    row is within the uint32/1e8 representable range with aligned offsets."""
    msgs = [base64.b64encode(b).decode() for b in blobs]
    raw = spark.createDataFrame([(m,) for m in msgs], "value string")
    rows = decode_messages(raw, min_len=0).collect()
    expected = sum(len(b) // 8 for b in blobs)
    assert len(rows) == expected
    for r in rows:
        assert 0 <= r.latitude < 43 and 0 <= r.longitude < 43
        assert r.offset % 8 == 0


@given(st.lists(st.sampled_from(["aaa bbb", "xyz", "aaa  bbb", "  "]), min_size=1, max_size=30))
@SETTINGS
def test_exact_dup_copies_sum_to_input(spark, texts):
    """Exact dedup partitions the corpus: copy counts sum to row count and
    whitespace-normalized equal texts share a fingerprint group."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    groups = exact_duplicates(df).collect()
    assert sum(g.copies for g in groups) == len(texts)
    norm = {" ".join(t.lower().split()) for t in texts}
    assert len(groups) == len(norm)


ascii_word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)


@given(
    st.lists(
        st.tuples(
            st.lists(ascii_word, min_size=0, max_size=20),  # prefix words
            st.lists(ascii_word, min_size=3, max_size=6),   # shared words
            st.lists(ascii_word, min_size=0, max_size=20),  # suffix words
        ),
        min_size=1,
        max_size=6,
    )
)
@SETTINGS
def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark, cases):
    """The winnowing guarantee (Schleimer/Wilkerson/Aiken): two docs
    sharing a substring of length >= w + k - 1 (10 chars at k=7, w=4)
    must share at least one fingerprint. Shared word runs are joined with
    single spaces so normalize_text preserves them verbatim in both docs."""
    from kyiv_traffic_bigdata_spark.operators.dedup import winnow_fingerprints

    rows = []
    expected_pairs = []
    for i, (pre, shared, suf) in enumerate(cases):
        mid = " ".join(shared)
        a_id, b_id = 2 * i, 2 * i + 1
        rows.append((a_id, " ".join([*pre, mid])))
        rows.append((b_id, " ".join([mid, *suf])))
        if len(mid) >= 10:
            expected_pairs.append((a_id, b_id))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: set(r.fps) for r in winnow_fingerprints(docs).collect()}
    for a_id, b_id in expected_pairs:
        assert fps[a_id] & fps[b_id], (a_id, b_id)


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Distributed min-label propagation must agree with a sequential
    union-find on arbitrary graphs (self-loops and duplicates included)."""
    from kyiv_traffic_bigdata_spark.operators.cluster import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {n for e in edges for n in e}
    expect = {}
    roots: dict[int, int] = {}
    for n in sorted(nodes):
        r = find(n)
        roots.setdefault(r, n)  # smallest member labels the component
        expect[n] = roots[r]

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == expect


@SETTINGS
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(-50, 500)), max_size=25),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 500), st.integers(0, 200)),
        max_size=15,
    ),
    st.integers(1, 300),
)
def test_interval_join_bin_blocking_is_lossless(spark, pts, ivs, bin_width):
    """For ANY bin width, bin blocking must produce exactly the
    inequality-join pairs, each once (negative timestamps included —
    floor division must keep working left of zero)."""
    from kyiv_traffic_bigdata_spark.operators.interval import interval_join

    points = spark.createDataFrame(
        [(k, i, t) for i, (k, t) in enumerate(pts)] or [(0, 0, 0)],
        "k long, pid long, ts long",
    )
    intervals = spark.createDataFrame(
        [(k, i, lo, lo + w) for i, (k, lo, w) in enumerate(ivs)] or [(9, 0, 1, 2)],
        "k long, iid long, lo long, hi long",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(
            points, intervals, ["k"], "ts", "lo", "hi", bin_width=bin_width
        ).collect()
    )
    brute = sorted(
        (r.pid, r.iid)
        for r in points.join(intervals, "k")
        .where((F.col("ts") >= F.col("lo")) & (F.col("ts") <= F.col("hi")))
        .collect()
    )
    assert got == brute


@SETTINGS
@given(st.lists(printable, max_size=10))
def test_polling_codec_roundtrip(packets):
    """Engine.IO length-prefixed framing round-trips arbitrary packet
    text (lengths are counted in characters, not bytes)."""
    from kyiv_traffic_bigdata_spark.streaming.transport import (
        decode_polling_payload,
        encode_polling_payload,
    )

    assert decode_polling_payload(encode_polling_payload(packets)) == packets


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**21 - 1),
            st.integers(min_value=0, max_value=2**21 - 1),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_morton_interleave_is_injective_and_matches_reference(spark, pairs):
    """interleave_bits is a bijection onto 42-bit Z-values: distinct
    (a, b) pairs never collide, and the Spark expression agrees with a
    pure-python reference de/interleave."""
    from pyspark.sql import functions as F

    from kyiv_traffic_bigdata_spark.operators.layout import interleave_bits

    df = spark.createDataFrame(pairs, "a long, b long")
    got = df.select("a", "b", interleave_bits(F.col("a"), F.col("b")).alias("z")).collect()

    def deinterleave(z):
        a = b = 0
        for i in range(21):
            a |= ((z >> (2 * i + 1)) & 1) << i
            b |= ((z >> (2 * i)) & 1) << i
        return a, b

    zs = [r.z for r in got]
    assert len(set(zs)) == len(pairs)
    for r in got:
        assert deinterleave(r.z) == (r.a, r.b)


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=3, max_value=6),
)
@SETTINGS
def test_repeated_spans_match_bruteforce(spark, texts, k):
    """repeated_spans == a naive python reference on tiny adversarial
    corpora (2-letter alphabet forces dense repeats; k small enough that
    islands, self-repeats, and cross-doc repeats all occur)."""
    from collections import Counter

    from kyiv_traffic_bigdata_spark.operators.dedup import repeated_spans

    def normalize(t):
        import re

        t = re.sub(r"\s+", " ", t.strip().lower())
        return re.sub(r"[^ -~]", "", t)

    norm = [normalize(t) for t in texts]
    counts = Counter(
        t[i : i + k] for t in norm for i in range(len(t) - k + 1)
    )
    expected = set()
    for doc_id, t in enumerate(norm):
        hits = [
            i + 1
            for i in range(len(t) - k + 1)
            if counts[t[i : i + k]] >= 2
        ]
        # merge islands: equal-length intervals, merge iff gap <= k
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= k:
                spans[-1] = (spans[-1][0], p)
            else:
                spans.append((p, p))
        for s, e in spans:
            n_grams = len([p for p in hits if s <= p <= e])
            expected.add((doc_id, s, e + k - 1, n_grams))

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in repeated_spans(docs, gram_len=k).collect()
    }
    assert got == expected


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=9),
)
@SETTINGS
def test_arrow_rolling_hash_paths_bit_identical(spark, texts, k):
    """The Arrow-vectorized rolling-hash/winnow twins must produce
    BIT-IDENTICAL arrays to the pure-Catalyst expression path — the
    contract that lets operators default to the fast engine while the
    oracle/portability story stays anchored on the expression form."""
    from kyiv_traffic_bigdata_spark.functions.text import (
        ascii_normalize,
        codepoints,
        gram_rolling_hashes,
        gram_rolling_hashes_arrow,
        winnow,
        winnowed_fps_arrow,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select("doc_id", ascii_normalize(F.col("text")).alias("_a"))
    w = 3
    both = docs.select(
        "doc_id",
        gram_rolling_hashes(codepoints(F.col("_a")), k).alias("h_expr"),
        gram_rolling_hashes_arrow(F.col("_a"), k).alias("h_arrow"),
        winnow(gram_rolling_hashes(codepoints(F.col("_a")), k), w).alias(
            "w_expr"
        ),
        winnowed_fps_arrow(F.col("_a"), k, w).alias("w_arrow"),
    ).collect()
    for r in both:
        assert list(r.h_expr or []) == list(r.h_arrow or []), r.doc_id
        assert list(r.w_expr or []) == list(r.w_arrow or []), r.doc_id


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
@SETTINGS
def test_arrow_word_ngrams_bit_identical(spark, texts, n):
    from kyiv_traffic_bigdata_spark.functions.text import (
        tokens,
        word_ngrams,
        word_ngrams_arrow,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select("doc_id", tokens(F.col("text")).alias("_tok"))
    both = docs.select(
        "doc_id",
        word_ngrams(F.col("_tok"), n).alias("g_expr"),
        word_ngrams_arrow(F.col("_tok"), n).alias("g_arrow"),
    ).collect()
    for r in both:
        assert list(r.g_expr or []) == list(r.g_arrow or []), r.doc_id


@given(
    st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=120
    )
)
@SETTINGS
def test_cms_never_undercounts_and_is_exact_without_collisions(spark, keys):
    """Count-min invariants over arbitrary key multisets: the
    min-over-depth estimate is >= the true count for EVERY key (with a
    width so small collisions are certain), and equals it exactly when
    the width makes collisions impossible for the key universe."""
    from collections import Counter

    from kyiv_traffic_bigdata_spark.functions.sketch import cms_buckets

    truth = Counter(keys)
    df = spark.createDataFrame([(str(k),) for k in keys], "k string")

    def estimates(depth, width):
        cells = (
            df.select("k", F.explode(cms_buckets(F.col("k"), depth, width)).alias("s"))
            .select("k", "s.j", "s.b")
        )
        counters = (
            df.select(F.explode(cms_buckets(F.col("k"), depth, width)).alias("s"))
            .groupBy("s.j", "s.b")
            .count()
        )
        est = (
            cells.dropDuplicates(["k", "j", "b"])
            .join(counters, ["j", "b"])
            .groupBy("k")
            .agg(F.min("count").alias("est"))
        )
        return {r["k"]: r["est"] for r in est.collect()}

    tight = estimates(depth=2, width=4)
    assert all(tight[str(k)] >= c for k, c in truth.items()), (tight, truth)
    roomy = estimates(depth=2, width=1 << 20)
    assert all(roomy[str(k)] == c for k, c in truth.items()), (roomy, truth)


# -- P1-P5 differential: parse_messages vs a Python twin of the dispatch ----

_EVENTS = ("locations", "vehicles", "positions", "v", "chat", "stats")


def _twin_csv(text):
    """P1 (parsers.py:24-53): 7 fields, int/float casts, None on any
    failure (int() rejects float text such as a "297.4" flag)."""
    f = text.split(",")
    if len(f) != 7:
        return None
    try:
        return (int(f[0]), int(f[1]), float(f[2]), float(f[3]),
                int(f[4]), int(f[5]), int(f[6]))
    except ValueError:
        return None


def _twin_dict(d, default_ts):
    """P4 (models.py:30-39): id/routeId aliases, direction/flag default 0,
    timestamp default now; a missing id or route id drops the element."""
    vid = d.get("vehicle_id", d.get("id"))
    rid = d.get("route_id", d.get("routeId"))
    if vid is None or rid is None:
        return None
    return (vid, rid, d.get("lat"), d.get("lon"), d.get("direction", 0),
            d.get("flag", 0), d.get("timestamp", default_ts))


def _twin_parse(line, default_ts):
    """P5 (parsers.py:115-134): CSV first, else an allowlisted Socket.IO
    event whose payload is one element or a list of them (CSV string or
    dict), else nothing; F1 keeps only in-bbox positions."""
    pos = _twin_csv(line)
    if pos is not None:
        out = [pos]
    else:
        m = re.match(r'^42\["(\w+)",(.*)\]\s*$', line)
        if m is None or m.group(1) not in POSITION_EVENT_NAMES:
            return []
        try:
            payload = json.loads(m.group(2))
        except ValueError:
            return []
        out = []
        for item in payload if isinstance(payload, list) else [payload]:
            if isinstance(item, str):
                out.append(_twin_csv(item))
            elif isinstance(item, dict):
                out.append(_twin_dict(item, default_ts))
    return [p for p in out if p is not None and KYIV_BBOX_POLLER.contains(p[2], p[3])]


_coord = st.tuples(
    st.sampled_from([50.2, 50.45, 50.50963, 50.7, 50.71, 49.0]),
    st.sampled_from([30.2, 30.52, 30.64338, 31.0, 31.01]),
)
_position = st.tuples(
    st.integers(1, 10**8), st.integers(1, 10**8), _coord,
    st.integers(0, 1), st.integers(0, 3), st.integers(1_769_000_000, 1_771_000_000),
)


@st.composite
def _csv_text(draw):
    vid, rid, (lat, lon), d, fl, ts = draw(_position)
    fields = [str(vid), str(rid), str(lat), str(lon), str(d), str(fl), str(ts)]
    bad = draw(st.sampled_from(["", "", "", "float_flag", "arity", "alpha"]))
    if bad == "float_flag":  # real wire line: flag "297.4" (kpt_poller.log)
        fields[5] = "297.4"
    elif bad == "arity":  # 8 fields all cast: only the arity check drops it
        n = draw(st.sampled_from([1, 3, 6, 8]))
        fields = fields[:n] if n < 7 else fields + ["0"]
    elif bad == "alpha":
        fields[draw(st.integers(0, 6))] = "x"
    return ",".join(fields)


@st.composite
def _position_dict(draw):
    """Alias or canonical keys; optional direction/flag/timestamp, so a
    full dict has the 7 keys whose JSON text splits into 7 comma fields."""
    vid, rid, (lat, lon), d, fl, ts = draw(_position)
    alias = draw(st.booleans())
    out = {("id" if alias else "vehicle_id"): vid,
           ("routeId" if alias else "route_id"): rid, "lat": lat, "lon": lon}
    if draw(st.booleans()):
        out.update(direction=d, flag=fl, timestamp=ts)
    elif draw(st.booleans()):
        out["timestamp"] = ts
    if draw(st.integers(0, 9)) == 0:  # no id at all: dropped
        out.pop("id" if alias else "vehicle_id")
    return out


@st.composite
def _frame_line(draw):
    kind = draw(st.sampled_from(
        ["csv", "csv_list", "dict_list", "one_csv", "one_dict",
         "dict_line", "near_csv", "protocol", "truncated"]))
    event = draw(st.sampled_from(_EVENTS))
    if kind == "csv":
        return draw(_csv_text())
    if kind == "csv_list":
        items = draw(st.lists(_csv_text(), min_size=1, max_size=4))
        return f'42["{event}",{json.dumps(items)}]'
    if kind == "dict_list":
        items = draw(st.lists(_position_dict(), min_size=1, max_size=4))
        return f'42["{event}",{json.dumps(items, separators=(",", ":"))}]'
    if kind == "one_csv":
        return f'42["{event}",{json.dumps(draw(_csv_text()))}]'
    if kind == "one_dict":
        return f'42["{event}",{json.dumps(draw(_position_dict()))}]'
    if kind == "dict_line":  # a dict outside any frame is not a position
        return json.dumps(draw(_position_dict()), separators=(",", ":"))
    if kind == "near_csv":  # 7 comma fields behind the frame prefix
        return "42[" + draw(_csv_text())
    if kind == "protocol":
        return draw(st.sampled_from(["2", "3", "40", "3probe", '42["chat",["hi"]]']))
    return f'42["{event}",[' + draw(_csv_text())


@given(st.lists(_frame_line(), min_size=1, max_size=40))
@example([  # the shapes a cheaper dispatch could get wrong, every run
    "1,2,50.45,30.52,0,0,1770000000,0",  # 8 fields, all cast
    '42["v",["1,2,50.45,30.52,0,0,1770000000,"]]',
    '{"vehicle_id":5,"route_id":6,"lat":50.45,"lon":30.52}',  # dict, no frame
    '42["v",{"id":1,"routeId":2,"lat":50.45,"lon":30.52,"direction":1,"flag":2,"timestamp":3}]',
    '42[1,2,50.45,30.52,0,0,1770000000',  # 7 fields behind the frame prefix
    '42["v","3,4,50.45,30.52,0,0,1770000000"]',
])
@SETTINGS
def test_kpt_parse_matches_python_twin_of_reference_dispatch(spark, lines):
    """parse_messages row-for-row against a pure-Python twin of the
    reference dispatch, over mixes of the FIXTURES.md §3 frame shapes."""
    default_ts = 1_770_000_000
    raw = spark.createDataFrame(list(enumerate(lines)), "i long, value string")
    got = Counter(
        tuple(r) for r in parse_messages(raw, default_ts=F.lit(default_ts)).collect()
    )
    want = Counter(
        (i, *p) for i, line in enumerate(lines) for p in _twin_parse(line, default_ts)
    )
    assert got == want
