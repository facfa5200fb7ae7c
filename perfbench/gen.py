"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size parameters)``: the same
seed writes byte-identical input files plus a ``truth.json`` holding what a
correct run must produce. The program under test only ever sees the input
files; the truth stays with the benchmark.

* :func:`build_live` — Socket.IO / CSV frame files for the streaming
  ingest (FIXTURES.md section 3 shapes, ~1% out-of-bbox rows, ~10%
  at-least-once duplicate lines). Truth: the deduplicated in-bbox
  position rows of each file, in file order.
* :func:`build_kpt` — positions envelope JSONL fitted to the reference
  capture (envelope sizes 1-2,163 with median ~10 and mean ~198, ~10%
  at-least-once replayed fixes, 5-60 s fix spacing with some dt = 0 and
  >300 s pairs, a hot route without a catalog entry) plus a routes
  catalog JSONL. The report truth is computed from
  these files by :func:`oracle.kpt_report`.
* :func:`build_docs` — a Gopher-passing English-like corpus with planted
  near-duplicate clusters and planted low-quality docs.

Inputs are cached under the work directory by a key of (generator version,
seed, sizes); a ``done`` marker is written last, so an interrupted
generation is redone instead of reused.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import random
import shutil

#: Bump when any generator's output changes, so cached inputs are rebuilt.
GEN_VERSION = 2

#: Reference poller bounding box (kyiv_traffic_bigdata_spark.config.KYIV_BBOX_POLLER).
LAT_MIN, LAT_MAX, LON_MIN, LON_MAX = 50.2, 50.7, 30.2, 31.0
#: Hot route id (FIXTURES.md section 1, SURVEY §7.4); the ~5% of the fleet
#: that drives on it is assumed.
HOT_ROUTE = 4194848
#: Envelope (5-s flush) sizes of the reference capture: 1 to 2,163
#: positions, median ~10 (FIXTURES.md section 1), mean ~198 (668 flushes
#: of 132,265 positions, BASELINE.md).
MAX_ENVELOPE = 2163
ENVELOPE_MEDIAN = 10
#: Log-normal shape that, clamped to [1, MAX_ENVELOPE], gives that median
#: and a mean of ~197; ~4% of flushes hit the cap (reconnect drains).
ENVELOPE_SIGMA = 3.1
#: Share of fixes replayed later in the stream. With the 1.5% dt = 0 fixes
#: it makes ~9.7% of rows repeat a (vehicle_id, timestamp) key, as the
#: reference capture's 2,176 in 22,504 rows do (BASELINE.md, FIXTURES.md
#: section 1).
KPT_REPLAY_SHARE = 0.09
#: Route ids seen in positions and listed in the catalog (FIXTURES.md
#: sections 1 and 2).
KPT_ROUTE_IDS = 263
KPT_CATALOG_ROUTES = 179
#: Socket.IO event names the parser accepts, and frames it must ignore.
POSITION_EVENTS = ("locations", "vehicles", "positions", "v")
CONTROL_FRAMES = ("2", "3", "40", "3probe", '42["chat",["hi"]]', '42["routes",[1,2,3]]')
MALFORMED_FRAMES = (
    "1,2,3",  # wrong arity
    "12585093,12583358,abc,30.64338,0,0,1769342268",  # non-numeric field
    '42["locations",[',  # truncated JSON
    '42["locations",["1,2,50.4"]]',  # wrong arity inside an event
    "not a frame at all",
)


def cache_dir(work: str, kind: str, seed: int, params: dict) -> str:
    key = json.dumps({"v": GEN_VERSION, "seed": seed, **params}, sort_keys=True)
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    return os.path.join(work, "inputs", f"{kind}-s{seed}-{digest}")


#: Cached input directories kept per kind; older ones are deleted.
MAX_CACHED = 6


def cached(work: str, kind: str, seed: int, params: dict, build) -> str:
    """Return the input directory for (kind, seed, params), building it with
    ``build(out_dir, seed, **params)`` unless a complete copy exists."""
    out = cache_dir(work, kind, seed, params)
    done = os.path.join(out, "done")
    if os.path.exists(done):
        os.utime(done)
        return out
    parent = os.path.dirname(out)
    if os.path.isdir(parent):
        olds = sorted(
            (os.path.getmtime(os.path.join(parent, d, "done")), d)
            for d in os.listdir(parent)
            if d.startswith(f"{kind}-") and os.path.exists(os.path.join(parent, d, "done")))
        for _mtime, d in olds[:max(0, len(olds) - MAX_CACHED + 1)]:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(out, seed, **params)
    # Flush the inputs now, so their write-back does not land inside the
    # timed set-up or the streaming state store's fsyncs.
    for root, _dirs, files in os.walk(out):
        for f in files:
            with open(os.path.join(root, f), "rb+") as fh:
                os.fsync(fh.fileno())
    with open(os.path.join(out, "done"), "w") as fh:
        fh.write("ok\n")
    return out


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, separators=(",", ":"))


# ---------------------------------------------------------------------------
# Live frames (kpt_live_ingest)
# ---------------------------------------------------------------------------

def _fleet(rng: random.Random, n: int, routes: list[int], spread_s: int) -> list[list]:
    """Per-vehicle mutable state: [vehicle_id, route_id, lat, lon, next_ts]."""
    out = []
    for i in range(n):
        route = HOT_ROUTE if rng.random() < 0.05 else rng.choice(routes)
        out.append([
            4194305 + i,
            route,
            rng.uniform(LAT_MIN + 0.05, LAT_MAX - 0.05),
            rng.uniform(LON_MIN + 0.05, LON_MAX - 0.05),
            1769300000 + rng.randrange(0, spread_s),
        ])
    return out


def _step(rng: random.Random, v: list, gap_min: int = 1, gap_max: int = 70) -> tuple:
    """Advance one vehicle by one fix; returns the fix as a position tuple
    (vehicle_id, route_id, lat, lon, direction, flag, timestamp)."""
    v[4] += rng.randrange(gap_min, gap_max + 1)
    v[2] = min(max(v[2] + rng.gauss(0, 0.0015), LAT_MIN + 0.01), LAT_MAX - 0.01)
    v[3] = min(max(v[3] + rng.gauss(0, 0.0020), LON_MIN + 0.01), LON_MAX - 0.01)
    return (v[0], v[1], round(v[2], 5), round(v[3], 5), rng.randrange(2), 0, v[4])


def _csv(p: tuple) -> str:
    return f"{p[0]},{p[1]},{p[2]:.5f},{p[3]:.5f},{p[4]},{p[5]},{p[6]}"


def _frame(rng: random.Random, ps: list[tuple]) -> tuple[str, list[tuple]]:
    """Encode positions as one frame; returns (line, positions it carries
    after parsing). Dict payloads drop direction/flag (parser default 0)."""
    if len(ps) == 1 and rng.random() < 0.5:
        return _csv(ps[0]), ps
    event = rng.choice(POSITION_EVENTS)
    if rng.random() < 0.6:
        return f'42["{event}",{json.dumps([_csv(p) for p in ps])}]', ps
    dicts, parsed = [], []
    for p in ps:
        if rng.random() < 0.5:
            d = {"id": p[0], "routeId": p[1], "lat": p[2], "lon": p[3], "timestamp": p[6]}
            parsed.append((p[0], p[1], p[2], p[3], 0, 0, p[6]))
        else:
            d = {"vehicle_id": p[0], "route_id": p[1], "lat": p[2], "lon": p[3],
                 "direction": p[4], "flag": p[5], "timestamp": p[6]}
            parsed.append(p)
        dicts.append(d)
    return f'42["{event}",{json.dumps(dicts, separators=(",", ":"))}]', parsed


def build_live(out: str, seed: int, files: int, positions_per_file: int,
               warm_files: int) -> None:
    """Frame files ``frames/f00000.txt``… (timed stream) and ``warm/…``
    (the warm-pass stream, disjoint vehicles). truth.json holds, per
    file, its distinct in-bbox positions and its parsed in-bbox row count
    with duplicates (their difference is the planted-duplicate count)."""
    rng = random.Random(f"live-{seed}")
    truth = {}
    for sub, nfiles, id_base in (("warm", warm_files, 9_000_000), ("frames", files, 0)):
        os.makedirs(os.path.join(out, sub))
        fleet = _fleet(rng, 1200, [4194300 + i for i in range(180)], spread_s=600)
        for v in fleet:
            v[0] += id_base
        carry: list[tuple[str, int]] = []  # duplicate lines redelivered in the next file
        per_file, rows = [], []
        for f in range(nfiles):
            lines = [line for line, _n in carry]
            n_rows = sum(n for _line, n in carry)  # parsed in-bbox rows, duplicates included
            carry, expected = [], []
            n = 0
            while n < positions_per_file:
                k = 1 if rng.random() < 0.3 else rng.randrange(2, 40)
                ps = [_step(rng, rng.choice(fleet)) for _ in range(k)]
                if rng.random() < 0.01 * k:  # ~1% of rows outside the bbox
                    i = rng.randrange(k)
                    p = ps[i]
                    ps[i] = (p[0], p[1], round(LAT_MAX + rng.uniform(0.01, 2.0), 5),
                             p[3], p[4], p[5], p[6])
                line, parsed = _frame(rng, ps)
                kept = [p for p in parsed
                        if LAT_MIN <= p[2] <= LAT_MAX and LON_MIN <= p[3] <= LON_MAX]
                lines.append(line)
                expected.extend(kept)
                n_rows += len(kept)
                n += k
                r = rng.random()
                if r < 0.06:
                    lines.append(line)  # duplicate within the file
                    n_rows += len(kept)
                elif r < 0.10:
                    carry.append((line, len(kept)))  # duplicate in the next file
                if rng.random() < 0.05:
                    lines.append(rng.choice(CONTROL_FRAMES))
                if rng.random() < 0.02:
                    lines.append(rng.choice(MALFORMED_FRAMES))
            rng.shuffle(lines)
            path = os.path.join(out, sub, f"f{f:05d}.txt")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            # File-source order is by modification time: make it file order.
            os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
            per_file.append([list(p) for p in expected])
            rows.append(n_rows)
        truth[sub] = {"positions": per_file, "rows": rows}
    _write_json(os.path.join(out, "truth.json"), truth)


# ---------------------------------------------------------------------------
# KPT envelopes + route catalog (kpt_batch)
# ---------------------------------------------------------------------------

def build_kpt(out: str, seed: int, positions: int, vehicles: int) -> None:
    """``positions.jsonl`` (envelopes in ingest order) and ``routes.jsonl``
    (route catalog polls, last write wins).

    About :data:`KPT_REPLAY_SHARE` of the ``positions`` fixes are replayed
    once more, so the files hold that many rows more; the stream is then
    cut into envelopes of :func:`envelope_size` positions each."""
    rng = random.Random(f"kpt-{seed}")
    # FIXTURES.md section 1: ~263 route ids in positions, 179 in the catalog;
    # the hot route (the fleet's ~5%) has no catalog entry either.
    route_ids = [4194300 + i for i in range(KPT_ROUTE_IDS)]
    fleet = _fleet(rng, vehicles, route_ids, spread_s=3600)
    fixes = []
    per_vehicle = max(2, positions // vehicles)
    for v in fleet:
        for _ in range(per_vehicle):
            # rates marked (assumed) below have no recorded source
            if rng.random() < 0.04:  # (assumed) a gap >300 s: the pair is dropped
                v[4] += rng.randrange(301, 1200)
            if rng.random() < 0.003:  # (assumed) the vehicle changes route
                v[1] = rng.choice(route_ids)
            if rng.random() < 0.015:  # (assumed) a dt = 0 pair, dropped too
                p = _step(rng, v, gap_min=0, gap_max=0)
            else:  # FIXTURES.md section 1: 5-60 s between fixes
                p = _step(rng, v, gap_min=5, gap_max=60)
            if rng.random() < 0.02:  # (assumed) a GPS jump: implausible speed, dropped
                p = (p[0], p[1], round(p[2] + rng.uniform(0.05, 0.1), 5), p[3], p[4], p[5], p[6])
            fixes.append(p)
    # a few falsy ids the reference's truthiness gates drop
    for i in range(20):
        fixes.append((0, route_ids[i], 50.45, 30.52, 0, 0, 1769300000 + i))
        fixes.append((4194305 + i, 0, 50.45, 30.52, 0, 0, 1769300000 + i))
    fixes.sort(key=lambda p: (p[6], p[0]))
    # At-least-once replay: a fix is delivered again a little later in the
    # stream, mostly in a later flush.
    stream: list[tuple] = []
    replays: dict[int, list[tuple]] = {}
    for i, p in enumerate(fixes):
        stream.append(p)
        stream.extend(replays.pop(i, ()))
        if rng.random() < KPT_REPLAY_SHARE:
            replays.setdefault(i + rng.randrange(1, 400), []).append(p)
    for late in replays.values():
        stream.extend(late)
    envelopes, i = [], 0
    while i < len(stream):
        size = envelope_size(rng)
        envelopes.append(stream[i:i + size])
        i += size
    with open(os.path.join(out, "positions.jsonl"), "w", encoding="utf-8") as fh:
        for env, chunk in enumerate(envelopes):
            fh.write(json.dumps({
                "collected_by": "kpt_poller",
                "timestamp": _iso(1769300000 + 5 * env),  # the 5-s flush
                "count": len(chunk),
                "positions": [
                    {"vehicle_id": p[0], "route_id": p[1], "lat": p[2], "lon": p[3],
                     "direction": p[4], "flag": p[5], "timestamp": p[6]}
                    for p in chunk
                ],
            }, separators=(",", ":")) + "\n")
    # Catalog: three polls; later polls rename some routes.
    listed = sorted(rng.sample(route_ids, KPT_CATALOG_ROUTES))
    catalog = {rid: (rng.randrange(1, 4), str(rng.randrange(1, 120))) for rid in listed}
    with open(os.path.join(out, "routes.jsonl"), "w", encoding="utf-8") as fh:
        for poll in range(3):
            if poll:
                for rid in rng.sample(sorted(catalog), 10):
                    catalog[rid] = (catalog[rid][0], catalog[rid][1] + "A")
            fh.write(json.dumps({
                "collected_by": "kpt_poller",
                "timestamp": _iso(1769300000 + 30 * poll),
                "poll_number": poll,
                "route_count": len(catalog),
                "routes": [{"id": rid, "type": t, "number": n}
                           for rid, (t, n) in sorted(catalog.items())],
            }, separators=(",", ":")) + "\n")


def envelope_size(rng: random.Random) -> int:
    return max(1, min(MAX_ENVELOPE, round(rng.lognormvariate(math.log(ENVELOPE_MEDIAN), ENVELOPE_SIGMA))))


def _iso(ts: int) -> str:
    return datetime.datetime.fromtimestamp(ts, datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S+00:00")


# ---------------------------------------------------------------------------
# Documents (doc_curation)
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
             "as", "was", "with", "be", "by", "on", "not", "he", "this", "are")
_ONSETS = ("b", "c", "d", "f", "g", "h", "l", "m", "n", "p", "r", "s", "t", "v",
           "w", "br", "ch", "cl", "dr", "fr", "gr", "pl", "pr", "sh", "st", "tr", "th")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
_CODAS = ("", "", "n", "r", "s", "t", "l", "nd", "st", "ng", "rt", "m")


def vocabulary(size: int = 4000) -> list[str]:
    """Fixed English-like vocabulary (independent of the workload seed):
    alphabetic words of 2-12 letters, mean ~6, no stopwords."""
    rng = random.Random("vocab")
    words, seen = [], set(STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
                    for _ in range(rng.choice((1, 2, 2, 3))))
        if 2 <= len(w) <= 12 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf(n: int, s: float = 1.0) -> list[float]:
    acc, out = 0.0, []
    for i in range(1, n + 1):
        acc += 1.0 / i ** s
        out.append(acc)
    return [x / acc for x in out]


def gopher_ok(text: str) -> bool:
    """Pure-Python twin of queries.q_doc_gopher_quality's keep flag for
    single-space-separated ASCII text."""
    norm = " ".join(text.lower().split())
    toks = norm.split(" ") if norm else []
    n = len(toks)
    mean_len = round((len(norm) - (n - 1)) / n, 6) if n else 0.0
    length = len(text)
    alpha = round(sum(c.isascii() and c.isalpha() for c in text) / length, 6) if length else 0.0
    sym = round(sum(c in ".,!?;:" for c in text) / length, 6) if length else 0.0
    return (10 <= n <= 10_000 and 2.0 <= mean_len <= 12.0
            and sym <= 0.2 and alpha >= 0.5)


def build_docs(out: str, seed: int, docs: int, dup_share: float) -> None:
    """``sf/documents.parquet`` plus truth.json: planted near-dup clusters
    (original id first, the smallest id of its cluster) and the expected
    Gopher verdict of every doc."""
    import bisect

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"docs-{seed}")
    vocab = vocabulary()
    cdf = _zipf_cdf(len(vocab), 1.05)

    def word() -> str:
        if rng.random() < 0.3:
            return rng.choice(STOPWORDS)
        return vocab[min(bisect.bisect_left(cdf, rng.random()), len(vocab) - 1)]

    def junk() -> str:
        kind = rng.randrange(3)
        if kind == 0:  # digits and punctuation: fails the alphabetic share
            return " ".join(f"{rng.randrange(10**6)};{rng.randrange(99)}," for _ in range(rng.randrange(20, 60)))
        if kind == 1:  # too short
            return " ".join(word() for _ in range(rng.randrange(3, 9)))
        return " ".join(rng.choice(vocab) * 4 for _ in range(rng.randrange(20, 40)))  # long tokens

    n_dups = int(docs * dup_share)
    n_orig = docs - n_dups
    texts = []
    for _ in range(n_orig):
        if rng.random() < 0.05:
            texts.append(junk())
        else:
            length = int(min(400, max(30, rng.lognormvariate(4.6, 0.5))))
            texts.append(" ".join(word() for _ in range(length)))
    clusters: dict[int, list[int]] = {}
    good = [i for i, t in enumerate(texts) if gopher_ok(t)]
    while len(texts) < docs:
        orig = rng.choice(good)
        members = clusters.setdefault(orig, [])
        rate = rng.uniform(0.0, 0.10)
        toks = texts[orig].split(" ")
        edited = []
        for t in toks:
            r = rng.random()
            if r < rate / 3:
                continue  # deletion
            if r < 2 * rate / 3:
                edited.append(word())  # substitution
                continue
            edited.append(t)
            if r < rate:
                edited.append(word())  # insertion
        members.append(len(texts))
        texts.append(" ".join(edited))
    table = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * docs, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.join(out, "sf"))
    pq.write_table(table, os.path.join(out, "sf", "documents.parquet"))
    _write_json(os.path.join(out, "truth.json"), {
        "clusters": [[o, *m] for o, m in sorted(clusters.items())],
        "gopher_ok": [gopher_ok(t) for t in texts],
    })


def sampled(doc_id: int, rate: float = 0.8) -> bool:
    """Twin of the curation downsample predicate: portable md5-prefix hash
    of the decimal doc id below ``rate`` of the 32-bit range."""
    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
    return h < int(rate * (1 << 32))

