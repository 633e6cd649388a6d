"""Workload ``lake_and_curation``: one closed-loop client over the lake
and the curation tier.

Each round runs, in order:

1. the reference's computation classes as batch queries over a
   versioned event lake built in set-up (``asof_join``,
   ``mark_to_market``, ``sliding_weighted_mean``, ``sessionize_native``,
   ``cart_fold``, ``positional_zip``) -- one analytics rotation;
2. seeded point reads (``lookup_version``) and range reads
   (``scan_version``) against the same lake;
3. ``training_pipeline`` over a fresh corpus shard, so the pipeline's
   session caches miss as on new data.

This is the only workload that drives ``operators/`` and ``llm/``, and
it reads the lake format that the live tail of ``replay_then_live``
writes.
"""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import tree_cpu_s

LAKE_EVENTS = 8_000
LAKE_USERS = 300
LAKE_SPAN_S = 6 * 3600
LAKE_COMMITS = 3
LOOKUPS_PER_ROUND = 4
SCANS_PER_ROUND = 2
SCAN_WIDTH = 200
DOCS_PER_SHARD = 400
#: an untraced run does at least this many rounds; a traced run exactly
#: this many
MIN_ROUNDS = 2

#: per-event quantity, the same derivation the engine's reference
#: queries use (props is {"k": n}; vol = n + 1)
_VOL = "CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) + 1"


def generate(seed: int, root: str, scale: float) -> dict:
    """Write the event table under ``root``; ``scale`` < 1 gives the
    throwaway warm-up inputs.  Corpus shards are written one per round,
    by :func:`write_shard`."""
    rng = np.random.default_rng([seed, int(scale * 1000), 7])
    os.makedirs(root, exist_ok=True)
    n = max(300, int(LAKE_EVENTS * scale))
    ev = gen.events(rng, n, 0, gen.T0_US, LAKE_SPAN_S * scale, LAKE_USERS,
                    ooo_share=0.0, dup_share=0.0)
    pq.write_table(ev, os.path.join(root, "events.parquet"))
    return {"root": root, "events": ev,
            "n_docs": max(60, int(DOCS_PER_SHARD * scale)),
            "doc_seed": [seed, int(scale * 1000), 13],
            "rng": np.random.default_rng([seed, 11])}


def shard_path(inputs: dict, k: int) -> str:
    return os.path.join(inputs["root"], f"docs-{k:05d}.parquet")


def write_shard(inputs: dict, k: int) -> str:
    """Round ``k``'s corpus shard, seeded by the round: every round reads
    documents (and a file) no earlier round has seen."""
    rng = np.random.default_rng(inputs["doc_seed"] + [k])
    path = shard_path(inputs, k)
    pq.write_table(gen.documents(rng, inputs["n_docs"], k * 10**6), path)
    return path


class LakeAndCuration:
    name = "lake_and_curation"

    def __init__(self, run):
        self.run = run
        self._reset()

    def _reset(self) -> None:
        self.round_s: list[float] = []
        self.round_cpu_s: list[float] = []
        self.docs_per_s: list[float] = []
        self.docs_per_cpu_s: list[float] = []
        self.request_cpu_ms: list[float] = []
        self.request_ms: list[float] = []
        self.lookup_ms: list[float] = []
        self.scan_ms: list[float] = []
        self.results: dict = {}
        self.lookups: list[tuple[int, list]] = []
        self.scans: list[tuple[int, int, int]] = []
        self.shards_used: list[int] = []
        self.pair_cache_misses = 0
        self.files_read_frac: list[float] = []

    # ------------------------------------------------------------------
    # set-up
    # ------------------------------------------------------------------
    def generate(self, tag: str, scale: float) -> dict:
        return generate(self.run.seed, self.run.path(tag), scale)

    def setup(self, inputs: dict) -> None:
        """Build the versioned event lake."""
        from pyspark.sql import functions as F

        from async_stream_processing_spark.plans.versioned import commit_append

        spark, tr, root = self.run.spark, self.run.tracer, inputs["root"]
        ev = spark.read.parquet(os.path.join(root, "events.parquet"))
        lake = os.path.join(root, "lake")
        n = inputs["events"].num_rows
        step = -(-n // LAKE_COMMITS)
        for i in range(LAKE_COMMITS):
            part = ev.filter((F.col("event_id") >= i * step)
                             & (F.col("event_id") < (i + 1) * step))
            with tr.span("versioned:commit_append"):
                commit_append(part.coalesce(2), lake,
                              stats_cols=["event_id", "user_id"],
                              bloom_cols=["event_id"])
        inputs["lake"] = lake

    def warm(self, inputs: dict) -> None:
        self.round(inputs, 0)

    # ------------------------------------------------------------------
    # one closed-loop round
    # ------------------------------------------------------------------
    def analytics(self, inputs: dict) -> dict:
        """The analytics rotation's DataFrames over the lake head."""
        from pyspark.sql import functions as F

        from async_stream_processing_spark.operators.analytics import (
            sessionize_native,
        )
        from async_stream_processing_spark.operators.asof import asof_join
        from async_stream_processing_spark.operators.merge import positional_zip
        from async_stream_processing_spark.operators.positions import (
            mark_to_market,
        )
        from async_stream_processing_spark.operators.session_state import (
            cart_fold,
        )
        from async_stream_processing_spark.operators.windows import (
            sliding_weighted_mean,
        )
        from async_stream_processing_spark.plans.versioned import read_version

        tr = self.run.tracer
        with tr.span("versioned:read_version"):
            ev = read_version(self.run.spark, inputs["lake"])
        ev = (ev.withColumn("seq", F.col("event_id"))
              .withColumn("vol", F.expr(_VOL)))
        kind = lambda k: ev.filter(F.col("event_type") == k)  # noqa: E731
        views = kind("view").select("user_id", "ts", "seq",
                                    F.col("value").alias("mid"))
        out = {}
        with tr.span("operators:asof_join"):
            out["asof_join"] = asof_join(
                kind("click").select("event_id", "ts", "seq", "user_id"),
                views, on=["user_id"], right_cols=["mid"],
            ).select("event_id", "ts", "user_id", "mid")
        with tr.span("operators:mark_to_market"):
            trades = kind("purchase").select(
                "event_id", "ts", "seq", "user_id",
                F.col("vol").alias("qty"), F.col("value").alias("price"))
            out["mark_to_market"] = mark_to_market(
                trades, views, on=["user_id"],
            ).select("event_id", "ts", "user_id", "qty", "price", "mid", "pnl")
        with tr.span("operators:sliding_weighted_mean"):
            out["sliding_weighted_mean"] = sliding_weighted_mean(
                ev.withColumn("ts_us", F.unix_micros("ts")), value="value",
                weight="vol", interval_seconds=120, partition_by=["user_id"],
                out="vwap_2min", order_col="ts_us",
            ).select("event_id", "vwap_2min")
        with tr.span("operators:sessionize_native"):
            out["sessionize_native"] = sessionize_native(ev, gap_seconds=1800)
        with tr.span("operators:cart_fold"):
            out["cart_fold"] = cart_fold(ev)
        with tr.span("operators:positional_zip"):
            out["positional_zip"] = positional_zip(
                {"x": kind("click"), "y": kind("view")})
        return out

    def round(self, inputs: dict, k: int) -> None:
        from async_stream_processing_spark.llm.pipeline import training_pipeline
        from async_stream_processing_spark.plans.versioned import (
            lookup_version,
            scan_version,
        )

        run, tr, spark = self.run, self.run.tracer, self.run.spark
        rng = inputs["rng"]
        n_events = inputs["events"].num_rows

        t, c = time.perf_counter(), tree_cpu_s()
        failed = run.failed
        with tr.span("operators:rotation", tr.new_trace()):
            for name, df in self.analytics(inputs).items():
                with run.op(f"analytics_{name}"), tr.span(f"operators:{name}_run"):
                    df.write.format("noop").mode("overwrite").save()
                    self.results[name] = df
        if run.failed == failed:
            self.round_s.append(time.perf_counter() - t)
            self.round_cpu_s.append(tree_cpu_s() - c)

        for _ in range(LOOKUPS_PER_ROUND):
            eid = int(rng.integers(0, n_events))
            with run.op("lookup_version"):
                t, c = time.perf_counter(), tree_cpu_s()
                with tr.span("versioned:lookup_version", tr.new_trace()):
                    df = lookup_version(spark, inputs["lake"], "event_id", eid)
                    rows = [r.asDict() for r in df.collect()]
                ms = (time.perf_counter() - t) * 1e3
                self.request_cpu_ms.append((tree_cpu_s() - c) * 1e3)
                self.lookup_ms.append(ms)
                self.request_ms.append(ms)
                self.lookups.append((eid, rows))
                if run.trace:
                    self.files_read_frac.append(_files_frac(df, inputs["lake"]))
        for _ in range(SCANS_PER_ROUND):
            lo = int(rng.integers(0, n_events - SCAN_WIDTH))
            with run.op("scan_version"):
                t, c = time.perf_counter(), tree_cpu_s()
                with tr.span("versioned:scan_version", tr.new_trace()):
                    df = scan_version(spark, inputs["lake"], "event_id",
                                      lo, lo + SCAN_WIDTH - 1)
                    cnt = df.count()
                ms = (time.perf_counter() - t) * 1e3
                self.request_cpu_ms.append((tree_cpu_s() - c) * 1e3)
                self.scan_ms.append(ms)
                self.request_ms.append(ms)
                self.scans.append((lo, lo + SCAN_WIDTH - 1, cnt))
                if run.trace:
                    self.files_read_frac.append(_files_frac(df, inputs["lake"]))

        with run.op("training_pipeline"):
            docs = spark.read.parquet(write_shard(inputs, k))
            before = _pair_cache_keys()
            t, c = time.perf_counter(), tree_cpu_s()
            with tr.span("llm.pipeline:training_pipeline", tr.new_trace()):
                rows = training_pipeline(docs).collect()
            self.docs_per_s.append(inputs["n_docs"] / (time.perf_counter() - t))
            self.docs_per_cpu_s.append(inputs["n_docs"] / (tree_cpu_s() - c))
            self.pair_cache_misses += int(bool(_pair_cache_keys() - before))
            self.shards_used.append(k)
            self.results[f"pipeline-{k}"] = rows

    def measure(self, inputs: dict) -> None:
        self._reset()  # forget what the warm-up round recorded
        t_end = time.perf_counter() + self.run.seconds
        k = 0
        # at least two rounds, so no per-round figure rests on one sample;
        # a traced run does exactly that many, so that its per-layer
        # figures are those of a fixed amount of work
        while k < MIN_ROUNDS or (not self.run.trace
                                 and time.perf_counter() < t_end):
            self.round(inputs, k)
            if k < MIN_ROUNDS:  # memory of a fixed amount of work
                self.run.jvm.sample_live()
            k += 1

    def metrics(self, inputs: dict) -> dict:
        run = self.run
        run.note("analytics_round_s", median(self.round_s), "s")
        run.note("analytics_rounds", len(self.round_s), "count")
        run.note("lookup_p50_ms", np.percentile(self.lookup_ms, 50), "ms")
        run.note("lookup_p90_ms", np.percentile(self.lookup_ms, 90), "ms")
        run.note("scan_p50_ms", np.percentile(self.scan_ms, 50), "ms")
        run.note("curation_docs_per_s", median(self.docs_per_s), "1/s")
        run.note("request_p90_ms", np.percentile(self.request_ms, 90), "ms")
        run.note("requests", len(self.request_ms), "count")
        run.note("request_p50_ms", np.percentile(self.request_ms, 50), "ms")
        return {
            "throughput_per_cpu_s": median(self.docs_per_cpu_s),
            "job_cpu_s": median(self.round_cpu_s),
            "request_cpu_ms": median(self.request_cpu_ms),
        }

    # ------------------------------------------------------------------
    # correctness, outside the timed region
    # ------------------------------------------------------------------
    def verify(self, inputs: dict) -> None:
        import pandas as pd

        import refs

        run = self.run
        ev = inputs["events"]
        reference = {
            "asof_join": lambda: refs.asof_views(ev),
            "mark_to_market": lambda: refs.oracle("trade_pnl_asof", events=ev),
            "sliding_weighted_mean": lambda: refs.oracle(
                "vwap_2min", events=ev)[["event_id", "vwap_2min"]],
            "sessionize_native": lambda: refs.oracle("sessionize_native", events=ev),
            "cart_fold": lambda: refs.cart_fold(ev),
            "positional_zip": lambda: refs.oracle("positional_zip", events=ev),
        }
        for name, want in reference.items():
            if name not in self.results:
                run.check(f"analytics_{name}_matches_reference", False,
                          "no result: every run of it failed")
                continue
            ok, detail = refs.same_rows(self.results[name].toPandas(), want())
            run.check(f"analytics_{name}_matches_reference", ok, detail)

        by_id = {r["event_id"]: r for r in ev.to_pylist()}
        bad = [eid for eid, rows in self.lookups
               if len(rows) != 1 or rows[0]["event_id"] != eid
               or rows[0]["value"] != by_id[eid]["value"]
               or rows[0]["user_id"] != by_id[eid]["user_id"]]
        run.check("lookups_match_generated_rows", not bad,
                  f"{len(bad)} lookups wrong, e.g. event {bad[:3]}")
        bad = [s for s in self.scans if s[2] != s[1] - s[0] + 1]
        run.check("scans_match_generated_rows", not bad,
                  f"{len(bad)} scans returned the wrong row count")

        for shard in self.shards_used:
            docs = pq.read_table(shard_path(inputs, shard))
            want = refs.oracle("pipeline_end_to_end", documents=docs)
            got = pd.DataFrame([r.asDict() for r in self.results[f"pipeline-{shard}"]],
                               columns=list(want.columns))
            ok, detail = refs.same_rows(got, want)
            run.check(f"pipeline_shard_{shard}_matches_reference", ok, detail)

    # ------------------------------------------------------------------
    # per-layer metrics of a traced run
    # ------------------------------------------------------------------
    def layer_metrics(self, inputs: dict) -> dict:
        from async_stream_processing_spark.llm.dedup import (
            lsh_candidate_pairs,
            minhash_dedup_pairs,
            minhash_signatures,
        )

        tr, spark = self.run.tracer, self.run.spark
        out = {}
        for name in ("asof_join", "mark_to_market", "sliding_weighted_mean",
                     "sessionize_native", "cart_fold", "positional_zip"):
            runs = tr.durations_ms(f"operators:{name}_run")
            out[f"operators.{name}_s"] = median(runs) / 1e3
        out["versioned.lookup_ms"] = median(self.lookup_ms)
        out["versioned.scan_ms"] = median(self.scan_ms)
        out["versioned.files_read_frac"] = float(np.mean(self.files_read_frac))
        out["llm.pipeline_s"] = median(tr.durations_ms("llm.pipeline:training_pipeline")) / 1e3
        out["llm.cache_hit_frac"] = 1.0 - self.pair_cache_misses / len(self.shards_used)
        # the pair stage on its own, on the first shard, after the timed
        # region: candidates from LSH banding, then the verified pairs
        docs = spark.read.parquet(shard_path(inputs, 0))
        with tr.span("llm.dedup:lsh_candidate_pairs", tr.new_trace()):
            n_cand = lsh_candidate_pairs(minhash_signatures(docs)).count()
        t = time.perf_counter()
        with tr.span("llm.dedup:minhash_dedup_pairs", tr.new_trace()):
            n_pairs = minhash_dedup_pairs(docs).count()
        out["llm.pairs_s"] = time.perf_counter() - t
        out["llm.verified_over_candidates"] = n_pairs / max(1, n_cand)
        return out


def _pair_cache_keys() -> set:
    """Keys of the session's verified-pair cache.  A pipeline call after
    which a key is present that was not before computed its pairs; one
    that adds no key was served from the cache.  A full cache evicts one
    entry per insert, so its size alone would not tell the two apart."""
    from async_stream_processing_spark.llm import dedup

    return set(dedup._PAIRS_CACHE)


def _files_frac(df, lake: str) -> float:
    """Files the read opened over files in the lake head."""
    from async_stream_processing_spark.plans.versioned import history

    return len(df.inputFiles()) / history(lake)[-1]["n_files"]
