"""Workload ``replay_then_live``: the engine's past-into-live lifecycle.

Backfill (the past): a seeded backlog is replayed at full speed through
two pipelines, each as a fresh ``drain`` -- ``sliding_window_agg``
(state in the JVM state store) and ``reordered_fold_stream("ewma")``
(Python state through ``applyInPandasWithState``).  A few large
micro-batches, so per-row operator and state cost dominates.

Live tail: ``process_stream(available_now=False, past_path=...)`` drains
a small backlog and then keeps running while a single open-loop
generator thread lands small parquet files on a fixed schedule, first at
a low rate (per-batch fixed cost dominates) and then at a higher one.
Each micro-batch goes through ``stream_dedup_within_watermark`` and is
MERGEd into a versioned lake keyed by ``event_id``.  Latency runs from
each event's due time to the end of the merge commit that first made it
visible.
"""

from __future__ import annotations

import json
import os
import threading
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import tree_cpu_s

BACKFILL_EVENTS = 5_000
BACKFILL_FILES = 4
BACKFILL_USERS = 500
BACKFILL_SPAN_S = 3600
#: watermark / reorder delay: twice the generator's jitter bound, so no
#: backlog row is ever behind the watermark
DELAY = f"{2 * gen.JITTER_S} seconds"

HISTORY_EVENTS = 2_000
LIVE_BACKLOG_FILES = 3
LIVE_BACKLOG_EVENTS = 600
LIVE_USERS = 500
LO_RATE = 50.0
HI_RATE = 400.0
#: after the open-loop phase, REQUESTS files of REQUEST_EVENTS events land
#: one at a time, each once the previous one is merged
REQUESTS = 4
REQUEST_EVENTS = 200
#: a generator whose p99 lateness exceeds this fell behind its own
#: schedule; the run is then failed, not reported as slow
GEN_LATE_BOUND_MS = 100.0


def _ewma_input(stream):
    from pyspark.sql import functions as F

    return stream.select(
        "ts", "event_id", "user_id",
        ((F.col("value").cast("decimal(18,2)") * 100).cast("long")
         * F.lit(1_000_000)).alias("x"),
    )


def generate(seed: int, root: str, seconds: float, scale: float) -> dict:
    """Write one backfill + live cycle's input files under ``root`` and
    return them with the live schedule; ``scale`` < 1 gives the throwaway
    warm-up inputs (other data from the same seed).

    The two backlogs are full-size in the warm-up inputs too: on a tenth
    of them the JIT compiler leaves the per-row paths cold, and the first
    measured drain then spends about half as much CPU again compiling
    them.  The lake history and the live schedule are scaled."""
    rng = np.random.default_rng([seed, int(scale * 1000)])
    backlog = gen.events(rng, BACKFILL_EVENTS, 0, gen.T0_US, BACKFILL_SPAN_S,
                         BACKFILL_USERS)
    gen.write_chunks(backlog, os.path.join(root, "backfill"), BACKFILL_FILES)
    hist = gen.events(rng, max(50, int(HISTORY_EVENTS * scale)), 10**8,
                      gen.T0_US, 600, LIVE_USERS, dup_share=0.0)
    pq.write_table(hist, os.path.join(root, "history.parquet"))
    live_backlog = gen.events(rng, LIVE_BACKLOG_EVENTS, 2 * 10**8,
                              gen.T0_US + 600 * 10**6, 60, LIVE_USERS)
    gen.write_chunks(live_backlog, os.path.join(root, "live_src"),
                     LIVE_BACKLOG_FILES)
    phases = ([(LO_RATE, 0.3 * seconds), (HI_RATE, 0.3 * seconds)]
              if scale >= 1 else [(LO_RATE, 0.3)])
    sched = gen.LiveSchedule(rng, phases, 3 * 10**8, LIVE_USERS)
    # event times from the epoch: stamped onto the wall clock as they land
    requests = [gen.events(rng, REQUEST_EVENTS, 4 * 10**8 + k * REQUEST_EVENTS,
                           0, 1.0, LIVE_USERS)
                for k in range(REQUESTS if scale >= 1 else 1)]
    return {"root": root, "backlog": backlog, "history": hist,
            "live_backlog": live_backlog, "sched": sched, "requests": requests}


class ReplayThenLive:
    name = "replay_then_live"

    def __init__(self, run):
        self.run = run
        self._reset()

    def _reset(self) -> None:
        self.native_s: list[float] = []
        self.fold_s: list[float] = []
        self.native_cpu_s: list[float] = []
        self.fold_cpu_s: list[float] = []
        self.native_out = None
        self.fold_out = None

    # ------------------------------------------------------------------
    # set-up
    # ------------------------------------------------------------------
    def generate(self, tag: str, scale: float) -> dict:
        return generate(self.run.seed, self.run.path(tag), self.run.seconds, scale)

    def setup(self, inputs: dict) -> None:
        """Create the live lake with its history as version 1."""
        from async_stream_processing_spark.plans.versioned import commit_append

        lake = os.path.join(inputs["root"], "lake")
        hist = self.run.spark.read.parquet(
            os.path.join(inputs["root"], "history.parquet"))
        with self.run.tracer.span("versioned:commit_append"):
            commit_append(hist, lake, stats_cols=["event_id"])
        inputs["lake"] = lake

    def warm(self, inputs: dict) -> None:
        self.backfill_round(inputs)
        self.live(inputs)

    # ------------------------------------------------------------------
    # backfill
    # ------------------------------------------------------------------
    def backfill_round(self, inputs: dict) -> None:
        from async_stream_processing_spark.streaming.reorder import (
            reordered_fold_stream,
        )
        from async_stream_processing_spark.streaming.replay import (
            drain,
            replay_stream,
            sliding_window_agg,
        )

        run, tr = self.run, self.run.tracer
        src = os.path.join(inputs["root"], "backfill")
        with run.op("backfill_native"):
            t, c = time.perf_counter(), tree_cpu_s()
            with tr.span("streaming.replay:drain_native", tr.new_trace()):
                with tr.span("sources.parquet:replay_stream"):
                    s = replay_stream(run.spark, src, gen.EVENT_DDL,
                                      max_files_per_trigger=1)
                with tr.span("streaming.replay:sliding_window_agg"):
                    agg = sliding_window_agg(s, watermark=DELAY,
                                             partition_by=["user_id"])
                self.native_out = drain(agg, output_mode="complete")
            self.native_s.append(time.perf_counter() - t)
            self.native_cpu_s.append(tree_cpu_s() - c)
        with run.op("backfill_fold"):
            t, c = time.perf_counter(), tree_cpu_s()
            with tr.span("streaming.reorder:drain_fold", tr.new_trace()):
                with tr.span("sources.parquet:replay_stream"):
                    s = replay_stream(run.spark, src, gen.EVENT_DDL,
                                      max_files_per_trigger=1)
                with tr.span("streaming.reorder:reordered_fold_stream"):
                    folded = reordered_fold_stream(_ewma_input(s), "ewma",
                                                   delay=DELAY)
                self.fold_out = drain(folded, output_mode="append")
            self.fold_s.append(time.perf_counter() - t)
            self.fold_cpu_s.append(tree_cpu_s() - c)

    # ------------------------------------------------------------------
    # live tail
    # ------------------------------------------------------------------
    def live(self, inputs: dict) -> dict:
        from async_stream_processing_spark.plans.versioned import merge_into
        from async_stream_processing_spark.streaming.replay import (
            process_stream,
            replay_stream,
            stream_dedup_within_watermark,
        )

        run, tr = self.run, self.run.tracer
        spark = run.spark
        src = os.path.join(inputs["root"], "live_src")
        lake = inputs["lake"]
        sched: gen.LiveSchedule = inputs["sched"]
        commits: list[tuple[int, int]] = []
        merge_cpu_s: list[float] = []
        live_at: list[float] = []
        # an empty trigger would MERGE an empty batch; this pipeline has
        # nothing to evict between data batches
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

        def merge_batch(batch_df, batch_id):
            with run.op("live_merge"):
                c = tree_cpu_s()
                with tr.span("versioned:merge_into", tr.new_trace()):
                    v = merge_into(spark, lake, batch_df, ["event_id"])
                commits.append((v, time.time_ns()))
                merge_cpu_s.append(tree_cpu_s() - c)

        with tr.span("sources.parquet:replay_stream"):
            stream = replay_stream(spark, src, gen.EVENT_DDL)
        with tr.span("streaming.replay:stream_dedup_within_watermark"):
            deduped = stream_dedup_within_watermark(
                stream, ["event_id"], "ts", f"{gen.JITTER_S} seconds")
        t_start = time.perf_counter()
        with tr.span("streaming.replay:process_stream"):
            q = process_stream(
                deduped, merge_batch,
                on_live_start=lambda: live_at.append(time.perf_counter()),
                checkpoint=os.path.join(inputs["root"], "live_ckpt"),
                available_now=False, past_path=src,
            )
        late_ms: list[float] = []
        try:
            # the backlog is drained once everything available is processed
            q.processAllAvailable()
            live_start_s = time.perf_counter() - t_start
            backlog_merges = len(commits)
            gen_thread = _Generator(sched, src, late_ms)
            gen_thread.start()
            gen_thread.join()
            gen_end_ns = time.time_ns()
            q.processAllAvailable()
            # closed-loop requests: each file is a micro-batch of its own,
            # so every request merges the same events whatever the speed
            first_request = len(merge_cpu_s)
            for k, table in enumerate(inputs["requests"]):
                _land(sched.stamp(table, time.time_ns()), src, f"req-{k:03d}.parquet")
                q.processAllAvailable()
            request_cpu_s = merge_cpu_s[first_request:]
            # the live query's state is still loaded here
            run.jvm.sample_live()
        finally:
            q.stop()
            spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
        run.check("live_start_hook_fired", bool(live_at),
                  "on_live_start never fired")
        run.check("one_batch_per_request",
                  len(request_cpu_s) == len(inputs["requests"]),
                  f"{len(inputs['requests'])} request files took "
                  f"{len(request_cpu_s)} micro-batches")
        out = {"live_start_s": live_start_s, "commits": commits,
               "late_ms": late_ms, "t0_ns": gen_thread.t0_ns,
               "gen_end_ns": gen_end_ns,
               "request_cpu_ms": [1e3 * c for c in request_cpu_s],
               "merge_cpu_ms": [1e3 * c for c in
                                merge_cpu_s[backlog_merges:first_request]]}
        return out

    # ------------------------------------------------------------------
    # the measured run
    # ------------------------------------------------------------------
    def measure(self, inputs: dict) -> None:
        self._reset()  # forget what the warm-up pass recorded
        t_end = time.perf_counter() + 0.4 * self.run.seconds
        while True:
            self.backfill_round(inputs)
            if len(self.native_s) == 1:  # memory of a fixed amount of work
                self.run.jvm.sample_live()
            # a traced run does one round, so that its per-layer counts
            # are those of a fixed amount of work, not of the engine's speed
            if self.run.trace or time.perf_counter() >= t_end:
                break
        self.live_result = self.live(inputs)

    def metrics(self, inputs: dict) -> dict:
        run = self.run
        n = inputs["backlog"].num_rows
        fold_eps = [n / s for s in self.fold_s]
        native_eps = [n / s for s in self.native_s]
        lat, lo, hi = self._latencies(inputs)
        live = self.live_result
        late = live["late_ms"]
        run.note("backfill_native_eps", median(native_eps), "1/s")
        run.note("backfill_fold_eps", median(fold_eps), "1/s")
        run.note("backfill_rounds", len(self.fold_s), "count")
        run.note("live_start_s", live["live_start_s"], "s")
        run.note("live_lo_p50_ms", np.percentile(lo, 50), "ms")
        run.note("live_lo_p99_ms", np.percentile(lo, 99), "ms")
        run.note("live_hi_p50_ms", np.percentile(hi, 50), "ms")
        run.note("live_hi_p99_ms", np.percentile(hi, 99), "ms")
        run.note("live_p90_ms", np.percentile(lat, 90), "ms")
        run.note("live_events", len(lat), "count")
        run.note("live_merges", len(live["commits"]), "count")
        late_p99 = np.percentile(late, 99)
        run.note("gen.late_p99_ms", late_p99, "ms")
        run.check("generator_on_schedule", late_p99 <= GEN_LATE_BOUND_MS,
                  f"p99 lateness {late_p99:.1f} ms > {GEN_LATE_BOUND_MS} ms")
        run.note("backfill_native_s", median(self.native_s), "s")
        run.note("live_p50_ms", np.percentile(lat, 50), "ms")
        run.note("live_merge_cpu_ms", median(live["merge_cpu_ms"]), "ms")
        return {
            "throughput_per_cpu_s": median(n / c for c in self.fold_cpu_s),
            "job_cpu_s": median(self.native_cpu_s),
            # the closed-loop requests, not the open-loop merges: a live
            # micro-batch holds whatever arrived while the previous one
            # ran, so its size, and with it its CPU cost, follows the
            # engine's speed and the host's load
            "request_cpu_ms": median(live["request_cpu_ms"]),
        }

    def _latencies(self, inputs: dict):
        """Per live event: end of the first merge commit whose new files
        hold it, minus its due time (from the lake's manifests and the
        files they add)."""
        lake = inputs["lake"]
        sched: gen.LiveSchedule = inputs["sched"]
        live = self.live_result
        commit_ns = dict(live["commits"])
        seen: set[int] = set()
        lat, lo, hi = [], [], []
        self.backlog_end = 0
        lo_end_ns = live["t0_ns"] + int(sched.phase_ends[0] * 1e9)
        prev: set[str] = set()
        for v in sorted(commit_ns):
            files = set(_manifest(lake, v)["files"])
            for f in sorted(files - prev):
                t = pq.read_table(os.path.join(lake, f),
                                  columns=["event_id", "created_ns"])
                ids = t.column("event_id").to_numpy()
                created = t.column("created_ns").to_numpy()
                for i, c in zip(ids.tolist(), created.tolist()):
                    if i in seen or not (sched.first_id <= i
                                         < sched.first_id + sched.n_events):
                        continue
                    seen.add(i)
                    ms = (commit_ns[v] - c) / 1e6
                    lat.append(ms)
                    (lo if c <= lo_end_ns else hi).append(ms)
                    self.backlog_end += commit_ns[v] > live["gen_end_ns"]
            prev = files
        return lat, lo, hi

    # ------------------------------------------------------------------
    # correctness, outside the timed region
    # ------------------------------------------------------------------
    def verify(self, inputs: dict) -> None:
        import refs

        run = self.run
        backlog = inputs["backlog"]
        got = self.native_out.toPandas()
        want = refs.sliding_window(backlog)
        ok, detail = refs.same_rows(got, want, exact=["n_events", "sum_value"],
                                    close=["avg_value"])
        run.check("backfill_window_matches_reference", ok, detail)

        got = self.fold_out.toPandas()
        got = (got.sort_values("n").groupby("user_id", as_index=False).last()
               [["user_id", "n", "ew"]]
               .rename(columns={"n": "n_events", "ew": "ewma_scaled"}))
        want = refs.oracle("stream_ewma_ooo", events=backlog)[
            ["user_id", "n_events", "ewma_scaled"]]
        ok, detail = refs.same_rows(got, want,
                                    exact=["n_events", "ewma_scaled"])
        run.check("backfill_fold_matches_reference", ok, detail)

        from async_stream_processing_spark.plans.versioned import read_version

        ids = read_version(run.spark, inputs["lake"]).select(
            "event_id").toPandas()["event_id"]
        sched: gen.LiveSchedule = inputs["sched"]
        expected = set(inputs["history"].column("event_id").to_pylist())
        expected |= set(inputs["live_backlog"].column("event_id").to_pylist())
        expected |= set(range(sched.first_id, sched.first_id + sched.n_events))
        for table in inputs["requests"]:
            expected |= set(table.column("event_id").to_pylist())
        run.check("live_lake_no_event_lost", expected <= set(ids),
                  f"{len(expected - set(ids))} events missing")
        run.check("live_lake_no_event_doubled",
                  len(ids) == len(set(ids)) and set(ids) <= expected,
                  f"{len(ids) - len(set(ids))} doubled, "
                  f"{len(set(ids) - expected)} unexpected")

    # ------------------------------------------------------------------
    # per-layer metrics of a traced run
    # ------------------------------------------------------------------
    def layer_metrics(self, inputs: dict) -> dict:
        """Streaming, state and lake-write counters of the traced run's
        one backfill round and its live tail, from the queries' progress
        reports and the lake's manifests."""
        tr = self.run.tracer
        queries = self._measured_queries(inputs)
        batches = [e for rows in queries.values() for e in rows]
        nb = max(1, len(batches))

        def mean_ms(*keys):
            return sum(float(e["durations"].get(k, 0)) for e in batches
                       for k in keys) / nb

        def last_batch(kind):
            return queries[kind][-1]

        busy = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                "addBatch", "commitOffsets")
        lake = inputs["lake"]
        versions = [v for v, _ in self.live_result["commits"]]
        merges = [_manifest(lake, v) for v in versions]
        return {
            "streaming.batches": float(len(batches)),
            "streaming.trigger_ms_p50": np.percentile(
                [float(e["durations"].get("triggerExecution", 0)) for e in batches], 50),
            "streaming.planning_ms": mean_ms("queryPlanning"),
            "streaming.wal_ms": mean_ms("walCommit", "commitOffsets"),
            "streaming.add_batch_ms": mean_ms("addBatch"),
            "streaming.idle_ms": mean_ms("triggerExecution") - mean_ms(*busy),
            "sources.list_ms": mean_ms("latestOffset"),
            "sources.rows_in": float(sum(e["rows"] for e in batches)),
            "streaming.state_rows": float(last_batch("native")["state_rows"]),
            "streaming.state_bytes": float(last_batch("native")["state_bytes"]),
            "streaming.state_commit_ms": sum(e["state_commit_ms"] for e in batches) / nb,
            "streaming.late_dropped": float(sum(e["late_dropped"] for e in batches)),
            "streaming.reorder.fold_ms": median(tr.durations_ms("streaming.reorder:drain_fold")),
            "streaming.reorder.buffered_rows": float(last_batch("fold")["state_rows"]),
            "streaming.reorder.state_bytes": float(last_batch("fold")["state_bytes"]),
            "streaming.live_start_s": self.live_result["live_start_s"],
            "versioned.merge_ms_p50": np.percentile(tr.durations_ms("versioned:merge_into"), 50),
            "versioned.files_rewritten_per_merge": (
                sum(m.get("touched_files", 0) for m in merges) / max(1, len(merges))),
            "versioned.head_files": float(len(merges[-1]["files"])),
            "gen.late_p99_ms": np.percentile(self.live_result["late_ms"], 99),
            "gen.backlog_end_events": float(self.backlog_end),
        }

    def _measured_queries(self, inputs: dict) -> dict:
        """Progress rows of the last measured query of each kind
        (``native``, ``fold``, ``live``), each sorted by batch id.

        A query is told by its source directory under the measured
        inputs and its state operator, not by the order its reports
        arrive in: the listener bus delivers them asynchronously, so
        the warm-up's last reports can still land after the measured
        window has begun."""
        def kind(e):
            src = " ".join(e["sources"])
            if os.path.join(inputs["root"], "live_src") in src:
                return "live"
            if os.path.join(inputs["root"], "backfill") not in src:
                return None
            return "fold" if "applyInPandasWithState" in e["ops"] else "native"

        deadline = time.monotonic() + 5.0
        while True:
            by_query: dict[tuple, list] = {}
            for e in self.run.progress.rows():
                if kind(e) is not None:
                    by_query.setdefault((kind(e), e["id"]), []).append(e)
            out = {k: sorted(rows, key=lambda e: e["batch"])
                   for (k, _), rows in by_query.items()}  # last query wins
            if len(out) == 3 or time.monotonic() > deadline:
                return out
            time.sleep(0.1)


def _manifest(lake: str, version: int) -> dict:
    """A lake version's manifest: the versioned table's on-disk commit
    record (``_manifests/v<version>.json``)."""
    with open(os.path.join(lake, "_manifests", f"v{version:09d}.json")) as fh:
        return json.load(fh)


def _land(table, out_dir: str, name: str) -> None:
    """Write a parquet file under a hidden name, then rename it, so the
    file source never lists a half-written file."""
    tmp = os.path.join(out_dir, "." + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out_dir, name))


class _Generator(threading.Thread):
    """The single open-loop load thread: lands each scheduled file at its
    due offset from ``t0_ns`` whether or not the engine keeps up, and
    records how late each landing was."""

    def __init__(self, sched: gen.LiveSchedule, out_dir: str,
                 late_ms: list[float]):
        super().__init__(name="perfbench-generator", daemon=True)
        self.sched = sched
        self.out_dir = out_dir
        self.late_ms = late_ms
        self.t0_ns = 0

    def run(self) -> None:
        self.t0_ns = time.time_ns() + 50_000_000
        stamped = [(due, self.sched.stamp(tab, self.t0_ns))
                   for due, tab in self.sched.files]
        for k, (due, tab) in enumerate(stamped):
            at_ns = self.t0_ns + int(due * 1e9)
            delay = (at_ns - time.time_ns()) / 1e9
            if delay > 0:
                time.sleep(delay)
            _land(tab, self.out_dir, f"live-{k:06d}.parquet")
            self.late_ms.append((time.time_ns() - at_ns) / 1e6)
