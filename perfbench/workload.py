"""Seeded benchmark inputs.

Two kinds of input, both a pure function of ``--seed``:

* NDJSON delivery events with the ``sources.streams.event_schema`` fields.
  Seeded shares of the lines are corrupt (the parser must set
  ``_corrupt_record``), carry the ``debug`` event type that the pipeline's
  ``drop_event`` regex removes, or carry an id the stand-in client refuses
  once (``throttled``).
* The TPC-H-ish catalog tables the headline operators read, written as
  parquet with the same schemas as the engine's test tables.

Run as a script, this module is the open-loop generator of the live
delivery workload: it appends one file per tick on a fixed wall-clock
schedule that does not slow when the engine slows, and prints its
lateness as JSON on exit::

    python3 perfbench/workload.py live --seed 1 --out DIR --stage DIR \\
        --start-ns T0 --seconds 15 --first-id 0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DROP_TYPE = "debug"
DROP_REGEX = "^debug$"
CORRUPT_SHARE = 0.01
DROP_SHARE = 0.03
THROTTLE_SHARE = 0.02
LIVE_RATE = 1000  # events/s the live generator offers
LIVE_FILES_PER_S = 10
LIVE_PER_FILE = LIVE_RATE // LIVE_FILES_PER_S

KIND_OK, KIND_CORRUPT, KIND_DROP = 0, 1, 2

_MASK64 = (1 << 64) - 1
_GOLDEN = 0x9E3779B97F4A7C15


def throttle_salt(seed: int) -> int:
    return (seed * _GOLDEN + 0x632BE59BD9B4E019) & _MASK64


def throttled(event_id: int, salt: int, share: float = THROTTLE_SHARE) -> bool:
    """Whether the stand-in refuses ``event_id`` on first sight.

    Multiplicative hashing of the id with a per-seed salt; the top 20 bits
    fall below ``share`` of their range for about ``share`` of the ids.
    Cheap enough to run per record inside the stand-in client."""
    return (((event_id ^ salt) * _GOLDEN) & _MASK64) >> 44 < share * (1 << 20)


def throttled_mask(event_ids: np.ndarray, salt: int, share: float = THROTTLE_SHARE) -> np.ndarray:
    """``throttled`` over an array of ids (uint64 arithmetic wraps like the
    masked Python version)."""
    h = (event_ids.astype(np.uint64) ^ np.uint64(salt)) * np.uint64(_GOLDEN)
    return (h >> np.uint64(44)) < share * (1 << 20)


@dataclass
class EventBlock:
    """Events ``first_id .. first_id + n - 1`` and their NDJSON lines."""

    event_id: np.ndarray
    ts_us: np.ndarray
    user_id: np.ndarray
    event_type: list[str]
    value: np.ndarray
    k: np.ndarray
    kind: np.ndarray
    lines: list[str]

    @property
    def surviving(self) -> np.ndarray:
        return self.event_id[self.kind == KIND_OK]

    @staticmethod
    def concat(blocks: list["EventBlock"]) -> "EventBlock":
        return EventBlock(
            *(np.concatenate([getattr(b, f) for b in blocks]) for f in ("event_id", "ts_us", "user_id")),
            [t for b in blocks for t in b.event_type],
            *(np.concatenate([getattr(b, f) for b in blocks]) for f in ("value", "k", "kind")),
            [line for b in blocks for line in b.lines],
        )


# the props field: a JSON string holding a JSON object, as JSON text
_PROPS = [json.dumps(json.dumps({"k": k})) for k in range(100)]


def _iso_us(ts_us: int) -> str:
    sec, us = divmod(int(ts_us), 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + f".{us:06d}Z"


def event_block(seed: int, stream: int, first_id: int, n: int, ts_us) -> EventBlock:
    """Seeded events for one file or backlog slice.

    ``stream`` separates independent draws under one seed (a backlog, a
    live tick). ``ts_us`` is a scalar (every event created at one instant,
    the live generator's due time) or an array of per-event micros."""
    rng = np.random.default_rng([seed, stream])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = np.broadcast_to(np.asarray(ts_us, dtype=np.int64), (n,)).copy()
    user = rng.integers(0, 1500, n)
    types = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.random(n) * 500.0, 2)
    k = rng.integers(0, 100, n)
    u = rng.random(n)
    kind = np.where(
        u < CORRUPT_SHARE, KIND_CORRUPT, np.where(u < CORRUPT_SHARE + DROP_SHARE, KIND_DROP, KIND_OK)
    )
    etype = [DROP_TYPE if kd == KIND_DROP else EVENT_TYPES[t] for t, kd in zip(types, kind)]
    lines = []
    for i in range(n):
        eid = int(ids[i])
        if kind[i] == KIND_CORRUPT:
            # a line cut off mid-record, as a crashed writer leaves it
            lines.append(f'{{"event_id":{eid},"ts":"{_iso_us(ts[i])}","user_')
            continue
        props = _PROPS[k[i]]
        lines.append(
            f'{{"event_id":{eid},"ts":"{_iso_us(ts[i])}","user_id":{int(user[i])},'
            f'"event_type":"{etype[i]}","value":{float(value[i])!r},"props":{props}}}'
        )
    return EventBlock(ids, ts, user, etype, value, k, kind, lines)


def backlog_ts(seed: int, n: int) -> np.ndarray:
    """Creation times for a backlog: spread over one day, in id order."""
    rng = np.random.default_rng([seed, 7])
    start = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    return start + np.sort(rng.integers(0, 86_400_000_000, n))


def write_backlog(seed: int, n: int, n_files: int, out_dir: str, first_id: int = 0) -> EventBlock:
    """Write an ``n``-event backlog as ``n_files`` NDJSON files."""
    os.makedirs(out_dir, exist_ok=True)
    block = event_block(seed, 1 + first_id, first_id, n, backlog_ts(seed, n))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        with open(os.path.join(out_dir, f"backlog-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(block.lines[a:b]) + "\n")
    return block


@dataclass(frozen=True)
class LiveSchedule:
    """The open loop: tick ``i`` is due at ``start_ns + i / LIVE_FILES_PER_S``
    and holds ``LIVE_PER_FILE`` events created at that instant."""

    seed: int
    start_ns: int
    seconds: float
    first_id: int

    @property
    def n_files(self) -> int:
        return int(self.seconds * LIVE_FILES_PER_S)

    def due_ns(self, i: int) -> int:
        return self.start_ns + i * 1_000_000_000 // LIVE_FILES_PER_S

    def block(self, i: int) -> EventBlock:
        first = self.first_id + i * LIVE_PER_FILE
        return event_block(self.seed, 1_000_000 + i, first, LIVE_PER_FILE, self.due_ns(i) // 1000)


def run_live(sched: LiveSchedule, out_dir: str, stage_dir: str) -> dict:
    """Append the schedule's files into ``out_dir`` (written in
    ``stage_dir`` then renamed, so the file source never lists a partial
    file). Returns the generator's lateness report."""
    os.makedirs(stage_dir, exist_ok=True)
    late = []
    for i in range(sched.n_files):
        due = sched.due_ns(i)
        block = sched.block(i)
        wait = (due - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        name = f"live-{i:06d}.json"
        with open(os.path.join(stage_dir, name), "w") as fh:
            fh.write("\n".join(block.lines) + "\n")
        os.rename(os.path.join(stage_dir, name), os.path.join(out_dir, name))
        late.append((time.time_ns() - due) / 1e9)
    return {
        "files": len(late),
        "events": len(late) * LIVE_PER_FILE,
        "late_max_s": max(late) if late else 0.0,
    }


# --------------------------------------------------------------------------
# catalog tables

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("small", "large", "red", "blue", "hot", "old", "shiny", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
_LANGS = ("en", "de", "es", "fr", "zh")
_WORDS = (
    "a the data table query join hash row batch scan column customer filter "
    "small slow merge order vector line agg value key stream window spark "
    "part group big sort fast"
).split()

# rows per table at scale 0.01 (the engine's sf0.01 test tables)
_ROWS_AT_001 = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def _day_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n) * 86_400_000_000


def write_catalog(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 42])
    n = {t: max(1, int(round(r * scale / 0.01))) for t, r in _ROWS_AT_001.items()}
    ts_us = pa.timestamp("us")

    def money(lo, hi, size):
        return np.round(lo + rng.random(size) * (hi - lo), 2)

    tabs: dict[str, dict] = {}
    tabs["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(_REGIONS),
    }
    tabs["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    nc = n["customer"]
    tabs["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    tabs["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, ns),
    }
    npart = n["part"]
    tabs["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    }
    no = n["orders"]
    odate = _day_us(rng, "1995-01-01", "2001-08-01", no)
    tabs["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": pa.array(odate, type=ts_us),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl)
    tabs["lineitem"] = {
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(odate[lorder] + rng.integers(1, 122, nl) * 86_400_000_000, type=ts_us),
    }
    ne = n["events"]
    ev_ts = 1_704_067_200_000_000 + rng.integers(0, 30 * 86_400_000_000, ne)
    tabs["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ev_ts, type=ts_us),
        "user_id": rng.integers(0, max(1, nc // 10), ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": money(0.01, 500.0, ne),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 1 + len(words) // 20):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            if rng.random() < 0.3:
                words.append("dup")
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 110))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k)))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    tabs["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tabs["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    counts = {}
    for name, cols in tabs.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--start-ns", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    a = ap.parse_args(argv)
    sched = LiveSchedule(a.seed, a.start_ns, a.seconds, a.first_id)
    print(json.dumps(run_live(sched, a.out, a.stage)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
