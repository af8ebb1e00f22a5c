"""The benchmark's workloads.  Each drives the engine's public entry points
exactly as a user would, in a closed loop with one caller.

A workload has four steps per request: ``prepare`` (untimed: draw fresh
labels or land a fresh day from the seed), ``run`` (timed: the public
calls and the action that materializes their result), ``check`` (untimed:
compare the output with the oracle) and, in the traced run only,
``layers`` (untimed: time the engine's layers one by one on the request's
inputs by prefix differencing).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd

import check
import gen
import tracing

LABEL_SCHEMA = (
    "label_row int, trace_id string, ano_id int, ano_type string, "
    "ref_start long, ref_end long, ano_start long, ano_end long"
)
# score_against_profile flags at |z| > 3 by default; a day has 240 window
# scores, so 3 would flag chance windows too.  The planted burst scores
# far above 6 and normal hours stay far below it.
ONLINE_Z = 6.0
ONLINE_TIMEOUT_S = 120
PREFIX_REPEATS = 3


@dataclass
class Request:
    index: int
    labels: list[tuple] = field(default_factory=list)
    path: str = ""
    extra: dict = field(default_factory=dict)
    tables: dict[str, list] = field(default_factory=dict)
    explained: int = 0


def noop(df) -> None:
    """Materialize ``df`` fully without collecting it to the driver."""
    df.write.format("noop").mode("overwrite").save()


def time_noop(tracer, name: str, request: int, df) -> float:
    """Fastest of ``PREFIX_REPEATS`` materializations: the layers are small
    enough that one timing is mostly scheduler noise."""
    best = float("inf")
    for _ in range(PREFIX_REPEATS):
        with tracer.span(name, request) as span:
            noop(df)
        best = min(best, span.end - span.start)
    return best


def operator_layers(spark, tracer, req: int, trace, labels, fp: bool) -> dict:
    """Per-operator seconds on run 0 of the request's inputs, by prefix
    differencing: materialize trace, slice+melt, +rewards, +leap (and
    slice+melt+C3) and subtract adjacent prefixes."""
    from pyspark.sql import functions as F

    from exstream_implementation_spark.operators.fp_filter import (
        false_positive_filter,
    )
    from exstream_implementation_spark.operators.leap import reward_leap_filter
    from exstream_implementation_spark.operators.rewards import (
        single_feature_rewards,
    )
    from exstream_implementation_spark.operators.slicing import (
        melt_features,
        slice_intervals,
    )
    from exstream_implementation_spark.schemas import feature_columns

    features = feature_columns(trace.columns)
    out = {"sources.trace_s": time_noop(tracer, "sources.trace", req, trace)}
    sliced = slice_intervals(trace, labels)
    melted = melt_features(sliced, features)
    t_slice = time_noop(tracer, "operators.slicing", req, melted)
    out["slicing.s"] = t_slice
    out["slicing.melted_rows"] = float(melted.count())
    max_group = (
        sliced.groupBy("ano_key").count().agg(F.max("count")).collect()[0][0]
    )
    out["rewards.max_group_rows"] = float(max_group)
    rewards = single_feature_rewards(
        melted, segmentation="auto", group_rows=max_group,
        feature_names=features,
    )
    t_rewards = time_noop(tracer, "operators.rewards", req, rewards)
    out["rewards.s"] = t_rewards - t_slice
    t_leap = time_noop(
        tracer, "operators.leap", req, reward_leap_filter(rewards)
    )
    out["leap.s"] = t_leap - t_rewards
    out["fp_filter.s"] = 0.0
    if fp:
        t_fp = time_noop(
            tracer, "operators.fp_filter", req, false_positive_filter(melted)
        )
        out["fp_filter.s"] = t_fp - t_slice
    return out


class Grid:
    """``run_config_grid`` over a reference-format folder of 1 Hz CSVs,
    all four result tables materialized, as the CLI does."""

    name = "grid-1hz"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dir = os.path.join(work, "grid")
        self.label_dir = os.path.join(work, "grid-labels")
        self.labels = gen.FreshLabels(seed, 1, gen.draw_grid_labels)
        self.rows_by_trace: dict[str, dict[int, list[float]]] = {}

    def generate(self) -> None:
        cols = gen.write_grid_folder(self.seed, self.dir)
        os.makedirs(self.label_dir, exist_ok=True)
        for trace_id, by_feature in cols.items():
            # the values as the CSV spells them, i.e. as Spark parses them
            parsed = [
                [float(f"{v:.6f}") for v in by_feature[f]]
                for f in gen.GRID_FEATURES
            ]
            self.rows_by_trace[trace_id] = {
                t: [col[t] for col in parsed] for t in range(gen.GRID_SECONDS)
            }
        self.labels.mark_seen(gen.canonical_grid_labels())

    def _sources(self, spark, labels_path: str):
        from exstream_implementation_spark.sources import (
            read_labels_csv,
            read_trace_csv,
        )

        traces = None
        for trace_id in gen.GRID_TRACES:
            t = read_trace_csv(
                spark, os.path.join(self.dir, f"{trace_id}.csv"), trace_id
            )
            traces = t if traces is None else traces.unionByName(t)
        return traces, read_labels_csv(spark, labels_path)

    def start(self, spark) -> None:
        """Static inputs: scan the folder's CSVs once."""
        traces, _ = self._sources(spark, os.path.join(self.dir, "labels.csv"))
        noop(traces)

    def warm_up(self, spark) -> None:
        """One explain with C2 and C3 and no instability runs on the
        folder's own ``labels.csv``.  It loads every code path a grid
        request uses in less time than a request: a full request as warm-up
        costs more than the benchmark's time budget has room for."""
        from exstream_implementation_spark import cache
        from exstream_implementation_spark.pipeline import (
            ExplainConfig,
            explain_anomalies,
        )

        traces, labels = self._sources(
            spark, os.path.join(self.dir, "labels.csv")
        )
        cfg = ExplainConfig(
            cluster=True, false_positive_filtering=True, instability_runs=0
        )
        explain_anomalies(traces, labels, cfg).collect()
        cache.release_tracked()

    def prepare(self, index: int) -> Request:
        req = Request(index, labels=self.labels.next())
        req.path = os.path.join(self.label_dir, f"labels-{index}.csv")
        gen.write_labels_csv(req.path, req.labels)
        return req

    def run(self, spark, req: Request, tracer) -> None:
        from exstream_implementation_spark.pipeline import run_config_grid

        with tracer.span("sources.build", req.index):
            traces, labels = self._sources(spark, req.path)
        out = run_config_grid(traces, labels)
        with tracer.span("pipeline.action", req.index):
            req.tables = {name: df.collect() for name, df in out.items()}
        req.explained = sum(len(rows) for rows in req.tables.values())

    def check(self, req: Request) -> list[str]:
        features = list(gen.GRID_FEATURES)
        ramp = features.index(gen.UPTIME)
        dup = features.index(gen.SCHED_DUP)
        problems = []
        for name, rows in req.tables.items():
            problems += check.check_labels_once(name, rows, req.labels)
            if "fpf" in name:
                problems += check.check_absent(name, rows, ramp, "ramp")
            if "cluster" in name:
                problems += check.check_absent(name, rows, dup, "duplicate")
        problems += check.check_against_oracle(
            "explanations", req.tables["explanations"], req.labels,
            self.rows_by_trace, features,
        )
        return problems

    def layers(self, spark, req: Request, tracer) -> dict:
        traces, labels = self._sources(spark, req.path)
        return operator_layers(spark, tracer, req.index, traces, labels, True)


class Online:
    """The paper's online loop: a fresh day lands in its own directory and
    the scored stream's foreachBatch explainer runs until the day's
    explanation is in the sink."""

    name = "online-trigger"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.profile_rows: dict[str, tuple[float, float, float, float]] = {}
        self.profile = None

    def generate(self) -> None:
        gen.write_profile_days(self.seed, os.path.join(self.work, "profile"))

    def start(self, spark) -> None:
        """Static input of every request: the reference profile, learned
        from the normal week."""
        from exstream_implementation_spark.streaming import (
            reference_profile,
            windowed_features,
        )
        from exstream_implementation_spark.streaming.source import (
            events_batch_as_stream_input,
        )

        batch = events_batch_as_stream_input(
            spark, os.path.join(self.work, "profile")
        )
        rows = reference_profile(windowed_features(batch)).collect()
        self.profile_rows = {
            r["event_type"]: (r["mu_n"], r["sigma_n"], r["mu_value"],
                              r["sigma_value"])
            for r in rows
        }
        self.profile = spark.createDataFrame(rows)

    def warm_up(self, spark) -> None:
        """One request on a day of its own."""
        from exstream_implementation_spark import cache

        self.run(spark, self.prepare(-1), tracing.Tracer(False))
        cache.release_tracked()

    def prepare(self, index: int) -> Request:
        # untimed requests take negative indices, so their days are no timed
        # request's day; the offset keeps the seed stream non-negative
        req = Request(index)
        req.path = os.path.join(self.work, "landing", f"day{index:+d}")
        day = gen.write_landing_day(self.seed, 1000 + index, req.path)
        req.extra["day"] = day
        req.labels = self._expected_labels(day["table"])
        return req

    def run(self, spark, req: Request, tracer) -> None:
        from exstream_implementation_spark.sources import events_trace
        from exstream_implementation_spark.streaming import (
            events_stream,
            score_against_profile,
            start_online_explainer,
            windowed_features,
        )

        sink: list = []
        with tracer.span("streaming.start", req.index):
            scored = score_against_profile(
                windowed_features(events_stream(spark, req.path)),
                self.profile,
                z_threshold=ONLINE_Z,
            )
            trace = events_trace(spark, req.path, bucket_seconds=gen.HOUR)
            query = start_online_explainer(spark, scored, trace, sink)
        with tracer.span("streaming.await", req.index):
            finished = query.awaitTermination(ONLINE_TIMEOUT_S)
        if not finished:
            query.stop()
            raise TimeoutError(f"online request {req.index} did not finish")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        req.tables = {"online": [row for _, row in sink]}
        req.explained = len(sink)
        req.extra["query"] = query
        req.extra["trace"] = trace

    def _expected_labels(self, table) -> list[tuple]:
        """The windows the scorer must flag, recomputed in pandas from the
        landed day and the learned profile, as engine label tuples."""
        df = table.select(["ts", "event_type", "value"]).to_pandas()
        df["bucket"] = df["ts"].astype("int64") // 1_000_000 // gen.HOUR
        agg = df.groupby(["bucket", "event_type"])["value"].agg(["size", "sum"])
        flagged = set()
        for (bucket, etype), (n, total) in agg.iterrows():
            mu_n, sd_n, mu_v, sd_v = self.profile_rows[etype]
            z_n = (n - mu_n) / (sd_n + 1e-12)
            z_v = (round(total, 6) - mu_v) / (sd_v + 1e-12)
            if abs(z_n) > ONLINE_Z or abs(z_v) > ONLINE_Z:
                flagged.add(int(bucket))
        return [
            ("events", i + 1, "online", b - 24, b, b, b)
            for i, b in enumerate(sorted(flagged))
        ]

    def _trace_rows(self, table) -> tuple[list[str], dict[int, list[float]]]:
        """``sources.events_trace`` recomputed in pandas: per hourly bucket,
        count and rounded value sum of each event type."""
        df = table.select(["ts", "event_type", "value"]).to_pandas()
        df["bucket"] = df["ts"].astype("int64") // 1_000_000 // gen.HOUR
        features, cols = [], []
        for etype in gen.EVENT_TYPES:
            sub = df[df["event_type"] == etype].groupby("bucket")["value"]
            features += [f"{etype}_n", f"{etype}_value"]
            cols += [sub.size().astype(float), sub.sum().round(6)]
        wide = pd.concat(cols, axis=1).fillna(0.0)
        rows = {
            int(b): [float(v) for v in vals]
            for b, vals in zip(wide.index, wide.to_numpy())
        }
        return features, rows

    def check(self, req: Request) -> list[str]:
        features, rows = self._trace_rows(req.extra["day"]["table"])
        labels = req.labels
        problems = []
        if req.extra["day"]["burst_bucket"] not in [lab[5] for lab in labels]:
            problems.append("online: the burst hour is not flagged")
        out = req.tables["online"]
        problems += check.check_labels_once("online", out, labels)
        problems += check.check_against_oracle(
            "online", out, labels, {"events": rows}, features
        )
        return problems

    def layers(self, spark, req: Request, tracer) -> dict:
        labels = spark.createDataFrame(
            [(i, *lab) for i, lab in enumerate(req.labels)], LABEL_SCHEMA
        )
        out = operator_layers(
            spark, tracer, req.index, req.extra["trace"], labels, False
        )
        progress = req.extra["query"].recentProgress
        dur = [p.durationMs for p in progress]
        out["streaming.trigger_ms"] = float(
            sum(d.get("triggerExecution", 0) for d in dur)
        )
        out["streaming.add_batch_ms"] = float(
            sum(d.get("addBatch", 0) for d in dur)
        )
        out["streaming.planning_ms"] = float(
            sum(d.get("queryPlanning", 0) for d in dur)
        )
        out["streaming.input_rows"] = float(
            sum(p.numInputRows for p in progress)
        )
        out["streaming.state_rows"] = float(
            max(
                (s.numRowsTotal for p in progress for s in p.stateOperators),
                default=0,
            )
        )
        return out


WORKLOADS = {w.name: w for w in (Grid, Online)}
