"""Seeded input generator for the benchmark.

Every input the benchmark feeds the engine comes from here, and only as
files (or, for the live tail, a schedule of files).  The same seed gives
byte-identical files.  Run on its own to write one workload's inputs::

    python3 perfbench/gen.py --workload replay_then_live --seed 7 --out inputs/

Why each input property is what it is:

* **Zipf user skew** (``ZIPF_A``): real event streams have a few hot keys.
  Hot keys concentrate keyed state (window groups, fold buffers) in one
  partition, so a skew-blind optimisation shows its cost here.
* **Bounded out-of-order arrival** (``OOO_SHARE``, ``JITTER_S``): a share
  of events lands after later events, at most ``JITTER_S`` late.  This is
  what the reorder fold's buffer and the window's watermark exist for;
  the bound keeps every row inside the watermark, so no result depends on
  which rows Spark chose to drop.
* **Duplicates** (``DUP_SHARE``): at-least-once sources redeliver.  The
  live tail must collapse them (dedup within the watermark, then a keyed
  MERGE); the backfill counts them like any row, as its reference does.
* **``created_ns``**: the instant each event was due at the generator.
  Live latency is measured from it, so a stall delays every later event
  instead of hiding in a closed loop.
* **Near-duplicate documents** (``NEAR_DUP_SHARE``, ``EXACT_DUP_SHARE``,
  ``SHORT_SHARE``): the curation chain's work is candidate pairs and the
  pairs that verify; a corpus with none would skip the verify stage, one
  made of nothing else would be all verify.  Short documents exercise
  the quality gate.  Every round gets a fresh shard so session caches
  keyed on the input miss, as they would on new data.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "error")
EVENT_TYPE_P = (0.4, 0.35, 0.15, 0.1)
ZIPF_A = 1.3
OOO_SHARE = 0.2
JITTER_S = 30
DUP_SHARE = 0.03
#: the live schedule lands one file this often; an out-of-order live event
#: carries an event time up to LIVE_LATE_S before its due time
LIVE_FILE_EVERY_S = 0.1
LIVE_LATE_S = 2.0
#: modification time of a backlog's first file (epoch seconds); later
#: files get later times, so a file source replays them in order
MTIME0 = 1_600_000_000
#: 2023-11-14T22:13:20Z -- any fixed origin works; it only has to be fixed
T0_US = 1_700_000_000_000_000

NEAR_DUP_SHARE = 0.15
EXACT_DUP_SHARE = 0.03
SHORT_SHARE = 0.05
VOCAB = 3000
N_SOURCES = 6

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
    ("created_ns", pa.int64()),
])
#: the same schema as Spark DDL
EVENT_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING, created_ns BIGINT"
)


def _users(rng: np.random.Generator, n: int, n_users: int) -> np.ndarray:
    return (rng.zipf(ZIPF_A, n) - 1) % n_users


def events(rng: np.random.Generator, n: int, first_id: int, t0_us: int,
           span_s: float, n_users: int, ooo_share: float = OOO_SHARE,
           dup_share: float = DUP_SHARE) -> pa.Table:
    """``n`` distinct events over ``span_s`` seconds of event time, plus
    ``dup_share * n`` redeliveries, returned in ARRIVAL order: an
    out-of-order event arrives up to ``JITTER_S`` after its event time,
    a duplicate up to ``JITTER_S`` after its original.  ``created_ns`` is
    the event time in nanoseconds."""
    ts = t0_us + np.sort(rng.integers(0, int(span_s * 1e6), n))
    late = rng.random(n) < ooo_share
    arrival = ts + np.where(late, rng.integers(1, int(JITTER_S * 1e6), n), 0)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    users = _users(rng, n, n_users)
    kinds = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
    values = np.round(rng.uniform(1.0, 500.0, n), 2)
    props_k = rng.integers(0, 10, n)
    dup = np.flatnonzero(rng.random(n) < dup_share)
    rows = np.concatenate([np.arange(n), dup])
    arrival = np.concatenate([
        arrival, arrival[dup] + rng.integers(1, int(JITTER_S * 1e6), len(dup)),
    ])
    order = rows[np.argsort(arrival, kind="stable")]
    return _event_table(ids[order], ts[order], users[order], kinds[order],
                        values[order], props_k[order], ts[order] * 1000)


def _event_table(ids, ts_us, users, kinds, values, props_k, created_ns):
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(users.astype(np.int64), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in kinds], pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in props_k], pa.string()),
        "created_ns": pa.array(created_ns, pa.int64()),
    }, schema=EVENT_SCHEMA)


def write_chunks(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` consecutive parquet files whose
    modification times increase with their position, so a file stream
    source replays them in arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (MTIME0 + i, MTIME0 + i))


class LiveSchedule:
    """Open-loop arrival schedule for the live tail, fixed in advance.

    Events are due at a constant rate per phase; every
    ``LIVE_FILE_EVERY_S`` the generator lands one parquet file holding the
    events that fell due in that interval, so an event waits at most one
    interval at the generator.  Event time trails the due time by up to
    ``LIVE_LATE_S`` for an ``OOO_SHARE`` of events; a ``DUP_SHARE`` of
    events is delivered again in the next file.  ``files`` is a list of ``(due_offset_s, table)``;
    ``created_ns`` holds each event's due offset in nanoseconds until
    :meth:`stamp` rebases it onto the wall clock of the run."""

    def __init__(self, rng: np.random.Generator, phases: list[tuple[float, float]],
                 first_id: int, n_users: int):
        self.files: list[tuple[float, pa.Table]] = []
        self.phase_ends: list[float] = []
        t, next_id = 0.0, first_id
        carry = None
        for rate, seconds in phases:
            n = int(round(rate * seconds))
            due = t + (np.arange(n) + 1) / rate
            t += seconds
            self.phase_ends.append(t)
            n_files = int(round(seconds / LIVE_FILE_EVERY_S))
            edges = t - seconds + LIVE_FILE_EVERY_S * np.arange(1, n_files + 1)
            slot = np.minimum(np.searchsorted(edges, due), n_files - 1)
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            next_id += n
            lateness = np.where(rng.random(n) < OOO_SHARE,
                                rng.uniform(0, LIVE_LATE_S, n), 0.0)
            ev_us = np.round((due - lateness) * 1e6).astype(np.int64)
            users = _users(rng, n, n_users)
            kinds = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
            values = np.round(rng.uniform(1.0, 500.0, n), 2)
            props_k = rng.integers(0, 10, n)
            due_ns = np.round(due * 1e9).astype(np.int64)
            dup = rng.random(n) < DUP_SHARE
            for f in range(n_files):
                sel = np.flatnonzero(slot == f)
                tab = _event_table(ids[sel], ev_us[sel], users[sel], kinds[sel],
                                   values[sel], props_k[sel], due_ns[sel])
                if carry is not None:
                    tab = pa.concat_tables([tab, carry])
                d = sel[dup[sel]]
                carry = _event_table(ids[d], ev_us[d], users[d], kinds[d],
                                     values[d], props_k[d], due_ns[d])
                self.files.append((float(edges[f]), tab))
        self.n_events = next_id - first_id
        self.first_id = first_id

    def stamp(self, table: pa.Table, t0_ns: int) -> pa.Table:
        """Rebase a file's event times and due stamps onto a run whose
        schedule starts at wall-clock ``t0_ns``."""
        created = pa.array(
            table.column("created_ns").to_numpy() + t0_ns, pa.int64())
        ts = pa.array(
            table.column("ts").cast(pa.int64()).to_numpy() + t0_ns // 1000,
            pa.timestamp("us", tz="UTC"))
        return table.set_column(1, "ts", ts).set_column(6, "created_ns", created)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    # 'w' + base-26 index: distinct tokens, cheap to build, no vocabulary file
    return ["w" + np.base_repr(int(i), 26).lower()
            for i in rng.zipf(1.2, n) % VOCAB]


def documents(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    """A corpus shard: base documents of 40-120 words plus near-dups
    (a copy of an earlier document with ~5% of its words replaced),
    exact dups (same text, whitespace/case changed) and short documents
    (< 40 words) that the quality gate drops."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < NEAR_DUP_SHARE:
            words = texts[rng.integers(0, len(texts))].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 20),
                                replace=False):
                words[j] = _words(rng, 1)[0]
            texts.append(" ".join(words))
        elif texts and r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(" " + texts[rng.integers(0, len(texts))].upper())
        elif r < NEAR_DUP_SHARE + EXACT_DUP_SHARE + SHORT_SHARE:
            texts.append(" ".join(_words(rng, int(rng.integers(5, 39)))))
        else:
            texts.append(" ".join(_words(rng, int(rng.integers(40, 121)))))
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{int(k)}" for k in rng.integers(0, N_SOURCES, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Write the input files of one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=("replay_then_live", "lake_and_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.workload == "replay_then_live":
        import stream

        inputs = stream.generate(args.seed, args.out, args.seconds, 1.0)
        # the live files land at run time; here they land all at once,
        # stamped as if the run had started at the epoch
        live = os.path.join(args.out, "live_schedule")
        os.makedirs(live, exist_ok=True)
        for k, (_, table) in enumerate(inputs["sched"].files):
            pq.write_table(inputs["sched"].stamp(table, 0),
                           os.path.join(live, f"live-{k:06d}.parquet"))
    else:
        import lake

        lake.generate(args.seed, args.out, 1.0)
    files = sorted(os.path.relpath(os.path.join(d, f), args.out)
                   for d, _, fs in os.walk(args.out) for f in fs)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "files": len(files)}))


if __name__ == "__main__":
    main()
