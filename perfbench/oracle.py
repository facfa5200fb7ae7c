"""Reference-semantics oracles and the output checks that feed ``failed``.

:func:`kpt_report` re-executes ``kpt/visualize.py`` in pure Python over the
generated envelope files (ported from the ``Oracle`` of
``tests/test_kpt_pipeline.py``): stable timestamp sort with file-order
ties, last-seen-in-file-order route assignment, strict-greater latest fix.
Every ``check_*`` function returns a list of problems; empty means correct.
"""

from __future__ import annotations

import json
import math
from collections import defaultdict

from gen import sampled

#: Relative tolerance for float aggregates (summation order differs).
REL = 1e-9
#: Route-type labels of kpt/visualize.py:19-23.
TYPE_LABELS = {1: "Bus", 2: "Trol", 3: "Tram"}
#: Smallest planted-duplicate recall a correct curation pass may show: the
#: generator's edit rates keep most planted pairs well above the LSH
#: s-curve, so recall far below this means the dedup stage broke.
MIN_DUP_RECALL = 0.5


def _haversine(lat1, lon1, lat2, lon2):
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
        * math.sin(dlon / 2) ** 2
    )
    return 6371 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _bucket(speed: float) -> str:
    for limit, name in ((10, "lt10"), (20, "lt20"), (30, "lt30"), (40, "lt40")):
        if speed < limit:
            return name
    return "ge40"


def kpt_report(pos_path: str, routes_path: str) -> dict:
    """The full report the benchmark's Spark run must reproduce."""
    positions = []
    with open(pos_path, encoding="utf-8") as fh:
        for line in fh:
            positions.extend(json.loads(line).get("positions", []))
    routes = {}
    with open(routes_path, encoding="utf-8") as fh:
        for line in fh:
            for r in json.loads(line).get("routes", []):
                if r.get("id"):
                    routes[r["id"]] = r

    grouped = defaultdict(list)
    for p in positions:
        if p.get("vehicle_id"):
            grouped[p["vehicle_id"]].append(p)
    speeds = defaultdict(list)
    for vid, plist in grouped.items():
        ordered = sorted(plist, key=lambda p: p.get("timestamp", 0))
        for prev, curr in zip(ordered, ordered[1:]):
            dt = curr["timestamp"] - prev["timestamp"]
            if dt <= 0 or dt > 300:
                continue
            v = _haversine(prev["lat"], prev["lon"], curr["lat"], curr["lon"]) / dt * 3600
            if 0 < v < 120:
                speeds[vid].append(v)

    vehicle_route, route_vehicles = {}, defaultdict(set)
    for p in positions:
        if p.get("vehicle_id") and p.get("route_id"):
            vehicle_route[p["vehicle_id"]] = p["route_id"]
            route_vehicles[p["route_id"]].add(p["vehicle_id"])
    route_speeds = defaultdict(list)
    for vid, vsp in speeds.items():
        rid = vehicle_route.get(vid)
        if rid:
            route_speeds[rid].extend(vsp)

    latest = {}
    for p in positions:
        vid = p.get("vehicle_id")
        if vid and (vid not in latest or p["timestamp"] > latest[vid]["timestamp"]):
            latest[vid] = p

    def label(rid):
        info = routes.get(rid, {})
        number, rtype = info.get("number", ""), info.get("type", 0)
        return f"{TYPE_LABELS.get(rtype, '')} {number}".strip() if number else f"#{rid}"

    stats = {
        rid: {"label": label(rid), "avg_speed": sum(sp) / len(sp),
              "n_samples": len(sp), "n_vehicles": len(route_vehicles[rid])}
        for rid, sp in route_speeds.items()
    }
    eligible = [r for r, s in stats.items() if s["n_samples"] >= 10]
    all_speeds = [v for vs in speeds.values() for v in vs]
    map_rows = {}
    for vid, p in latest.items():
        sp = speeds.get(vid)
        avg = sum(sp) / len(sp) if sp else 0.0
        map_rows[str(vid)] = [p["route_id"], p["lat"], p["lon"], p["timestamp"], avg, _bucket(avg)]
    return {
        "positions": len(positions),
        "global": [len(speeds), len(all_speeds), sum(all_speeds) / len(all_speeds),
                   min(all_speeds), max(all_speeds)],
        "route_stats": {str(r): s for r, s in stats.items()},
        "top": sorted(stats, key=lambda r: (-stats[r]["n_samples"], r))[:10],
        "slowest": sorted(eligible, key=lambda r: (stats[r]["avg_speed"], r))[:10],
        "fastest": sorted(eligible, key=lambda r: (-stats[r]["avg_speed"], r))[:10],
        "map_rows": map_rows,
    }


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL, abs_tol=1e-12)


def check_report(got: dict, want: dict) -> list[str]:
    """``got`` is one report as the worker collected it: ``global`` (5
    values), ``top``/``slowest``/``fastest`` (lists of route-stat rows
    ``[route_id, label, avg_speed, n_samples, n_vehicles]``) and
    ``map_rows`` (``[vehicle_id, route_id, lat, lon, timestamp,
    avg_speed, bucket]``)."""
    bad = []
    g, w = got["global"], want["global"]
    if g[:2] != w[:2] or not all(_close(a, b) for a, b in zip(g[2:], w[2:])):
        bad.append(f"global stats {g} != {w}")
    stats = want["route_stats"]
    for name in ("top", "slowest", "fastest"):
        rows, expect = got[name], want[name]
        if len(rows) != len(expect):
            bad.append(f"{name}: {len(rows)} rows, want {len(expect)}")
            continue
        for row, rid in zip(rows, expect):
            s = stats[str(row[0])] if str(row[0]) in stats else None
            ref = stats[str(rid)]
            # a ranking slot may hold a different route only on an exact tie
            key = "n_samples" if name == "top" else "avg_speed"
            if s is None or not _close(s[key], ref[key]):
                bad.append(f"{name}: route {row[0]} in the slot of {rid}")
                break
            if (row[1], row[3], row[4]) != (s["label"], s["n_samples"], s["n_vehicles"]) \
                    or not _close(row[2], s["avg_speed"]):
                bad.append(f"{name}: route {row[0]} row {row[1:]} != {s}")
                break
    want_map = want["map_rows"]
    if len(got["map_rows"]) != len(want_map):
        bad.append(f"map rows: {len(got['map_rows'])}, want {len(want_map)}")
    else:
        for r in got["map_rows"]:
            e = want_map.get(str(r[0]))
            if e is None or list(r[1:5]) != e[:4] or not _close(r[5], e[4]) or r[6] != e[5]:
                bad.append(f"map row {r} != {e}")
                break
    return bad


def check_live(got_rows, truth_files, batches: int) -> list[str]:
    """The sink after ``batches`` committed micro-batches must equal the
    deduplicated union of the first ``batches`` files, with no duplicates.
    ``got_rows`` are ``[vehicle_id, route_id, lat, lon, direction, flag,
    timestamp]`` lists, as the worker reads them from the sink."""
    expected = sorted({tuple(p) for f in truth_files[:batches] for p in f})
    got = sorted(tuple(r) for r in got_rows)
    if got == expected:
        return []
    dup = len(got) - len(set(got))
    missing = len(set(expected) - set(got))
    extra = len(set(got) - set(expected))
    return [f"sink: {len(got)} rows ({dup} duplicated), {missing} missing, {extra} unexpected"]


def check_dup_dropped(batch_ids, dropped, planted) -> list[str]:
    """The dedup state operator must drop, batch by batch, exactly the
    at-least-once duplicates the generator planted."""
    for b, got, want in zip(batch_ids, dropped, planted):
        if got != want:
            return [f"batch {b}: state dropped {got} duplicates, {want} planted "
                    f"({sum(dropped)} vs {sum(planted)} over the run)"]
    return []


def check_curation(lineage: list[dict], truth: dict) -> tuple[list[str], dict]:
    """Lineage rows vs planted truth. Returns (problems, quality) where
    quality holds ``dup_recall`` and ``false_drop_frac``."""
    bad = []
    rows = {r["doc_id"]: r for r in lineage}
    gopher = truth["gopher_ok"]
    if sorted(rows) != list(range(len(gopher))):
        return [f"lineage has {len(rows)} docs, want {len(gopher)}"], {}
    planted = {m for c in truth["clusters"] for m in c[1:]}
    in_cluster = {m for c in truth["clusters"] for m in c}
    uniques = [d for d in rows if d not in in_cluster]
    found = sum(not rows[d]["is_canonical"] for d in planted)
    false_drops = sum(not rows[d]["is_canonical"] for d in uniques)
    quality = {
        "dup_recall": found / len(planted),
        "false_drop_frac": false_drops / len(uniques),
    }
    for d, r in rows.items():
        expect_kept = r["gopher_ok"] and r["is_canonical"] and r["sampled"]
        if r["gopher_ok"] != gopher[d] or r["sampled"] != sampled(d) or r["kept"] != expect_kept:
            bad.append(f"doc {d}: {r}, want gopher_ok={gopher[d]} sampled={sampled(d)}")
            break
    for c in truth["clusters"]:
        if not rows[c[0]]["is_canonical"]:
            bad.append(f"cluster original {c[0]} marked non-canonical")
            break
    if false_drops:
        bad.append(f"{false_drops} unique docs marked non-canonical")
    if quality["dup_recall"] < MIN_DUP_RECALL:
        bad.append(f"dup recall {quality['dup_recall']:.3f} < {MIN_DUP_RECALL}")
    return bad, quality
