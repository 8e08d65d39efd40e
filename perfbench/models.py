"""Pure-Python models of the oltp workload's crud and ingest parts.

Each model replays the seeded op sequence on plain dicts and gives the
result the store must return for every op, so the benchmark checks the
program's outputs without trusting the program.
"""

from __future__ import annotations

import hashlib

FLAG_ALLOW_MANUAL, FLAG_TS, FLAG_CHAIN, FLAG_PASSWORD, FLAG_P9 = 1, 2, 4, 8, 64
RANGE_LIMIT = 20


class CrudModel:
    """device(id, serial unique, site, rating) and its child
    reading(id, device_id -> device.id cascading, kind, v)."""

    def __init__(self, devices: list[dict], readings: list[dict]):
        self.devices = {d["id"]: dict(d) for d in devices}
        self.readings = {r["id"]: dict(r) for r in readings}

    def apply(self, kind: str, a: dict):
        """Apply one op; return the result the store must give for it."""
        if kind == "insert":
            for r in a["rows"]:
                self.readings[r["id"]] = dict(r)
            return len(a["rows"])
        if kind == "update":
            hit = [d for d in self.devices.values() if d["site"] == a["site"]]
            for d in hit:
                d["rating"] += a["delta"]
            return len(hit)
        if kind == "upsert":
            for r in a["rows"]:
                self.devices[r["id"]] = dict(r)
            return len(a["rows"])
        if kind == "delete":
            if self.devices.pop(a["id"], None) is None:
                return 0
            for rid in [k for k, r in self.readings.items() if r["device_id"] == a["id"]]:
                del self.readings[rid]
            return 1
        if kind == "txn":
            self.devices[a["device"]["id"]] = dict(a["device"])
            self.readings[a["reading"]["id"]] = dict(a["reading"])
            return None
        if kind == "find":
            return sorted(
                (d["serial"], d["site"], d["rating"])
                for d in self.devices.values()
                if d["serial"] == a["serial"]
            )
        if kind == "range":
            vs = sorted(r["v"] for r in self.readings.values() if a["lo"] <= r["v"] <= a["hi"])
            return vs[:RANGE_LIMIT]
        if kind == "litesql":
            return sorted(
                (d["serial"], d["rating"]) for d in self.devices.values() if d["site"] == a["site"]
            )
        if kind == "nl":
            return sorted(d["serial"] for d in self.devices.values() if d["rating"] > a["rating"])
        raise ValueError(f"unknown crud op {kind!r}")


def _try_double(v: str) -> bool:
    try:
        float(v)
    except ValueError:
        return False
    return True


class IngestModel:
    """The PointStore write path: gating, strict typing, password
    hashing, and the per-guid hash chain with its retro and
    consecutive-duplicate drops."""

    def __init__(self, points: list[dict]):
        self.points = {p["guid"]: p for p in points}
        self.heads: dict[str, tuple] = {}  # guid -> (ts, data) of the chain tip
        self.writes = 0
        self.ts_rows: list[tuple] = []  # (guid, ts) of every TimeSeries write
        self.chain = 0
        self.guids: set[str] = set()

    def accepted(self, row: tuple) -> bool:
        guid, _ts, prio, value = row
        p = self.points.get(guid)
        if p is None or not 1 <= prio <= 17:
            return False
        if prio in (1, 8) and not p["flags"] & FLAG_ALLOW_MANUAL:
            return False
        if p["flags"] & FLAG_P9 and prio not in (9, 16):
            return False
        return p["strict_type"] is None or (
            p["strict_type"] == "double" and _try_double(value)
        )

    def write_batch(self, rows: list[tuple]) -> dict[str, int]:
        """The counts PointStore.write_batch must return for `rows`."""
        chained: dict[str, list[tuple]] = {}
        n_all = n_ts = 0
        for row in rows:
            if not self.accepted(row):
                continue
            guid, ts, _prio, value = row
            flags = self.points[guid]["flags"]
            if flags & FLAG_PASSWORD:
                value = hashlib.sha256(value.encode()).hexdigest()
            n_all += 1
            self.guids.add(guid)
            if flags & FLAG_TS:
                n_ts += 1
                self.ts_rows.append((guid, ts))
            if flags & FLAG_CHAIN:
                chained.setdefault(guid, []).append((ts, value))
        kept = retro = 0
        for guid, items in chained.items():
            head = self.heads.get(guid)
            last = head[1] if head else None
            for item in sorted(items):
                if head is not None and not item > head:
                    retro += 1
                    continue
                if item[1] == last:
                    continue  # consecutive duplicate data
                kept += 1
                last = item[1]
                self.heads[guid] = item
        n_chain_src = sum(len(v) for v in chained.values())
        self.writes += n_all
        self.chain += kept
        return {
            "writes": n_all,
            "ts": n_ts,
            "chain": kept,
            "chain_dropped_retro": retro,
            "chain_dropped_dup": n_chain_src - kept - retro,
        }

    def series_rows(self, start, end) -> int:
        """Rows get_series(start, end) returns: one per TimeSeries write
        in the window (LOCF emits the slot vector as of each write)."""
        return sum(1 for _g, ts in self.ts_rows if start <= ts <= end)
