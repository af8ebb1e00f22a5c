"""EXstream benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload grid-1hz --seed 1 --seconds 5 --trace 0

Run from the repository root.  The command generates the workload's inputs
from the seed into a work directory under the working directory, sets
Spark up several times (the median is ``setup_s``), warms up untimed,
then sends requests with fresh labels one after another
until ``--seconds`` of request time have passed.  After each request, untimed, it records the storage the
request left cached, releases it with ``cache.release_tracked()`` and
checks the output against the oracle.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it carries the host canaries and the
sample counts.  The traced run alternates untraced and traced requests;
the traced ones record spans (written to ``.perfbench_out/``) and the
per-layer numbers, and the two halves give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, ROOT)

import stats  # noqa: E402
import tracing  # noqa: E402

SETUPS = 3
DEADLINE_S = 170  # the whole run, set-up included
CANARY_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "anomalies_per_s": "1/s",
    "cached_mb": "MB",
}
PER_LAYER = {
    "pipeline.build_s": "s",
    "pipeline.action_s": "s",
    "pipeline.py4j_calls": "count",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "sources.trace_s": "s",
    "slicing.s": "s",
    "slicing.melted_rows": "count",
    "rewards.s": "s",
    "rewards.max_group_rows": "count",
    "leap.s": "s",
    "correlation.s": "s",
    "correlation.jobs": "count",
    "fp_filter.s": "s",
    "cache.pinned_rdds": "count",
    "cache.pinned_mb": "MB",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "tracing.overhead_pct": "%",
    "host.canary_before_ms": "ms",
    "host.canary_after_ms": "ms",
}


def canary_ms() -> float:
    """Fixed-size CPU canary, median of three: a host that changes speed
    during a run shows as a before/after gap."""
    times = []
    for _ in range(CANARY_REPEATS):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def pin_environment(work: str) -> None:
    """Everything Spark and its Python workers write goes under ``work``;
    the workers import the engine from the working directory."""
    for sub in ("tmp", "spark-local", "checkpoints", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    paths = [ROOT, HERE, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)


def new_session(work: str):
    from exstream_implementation_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.streaming.checkpointLocation":
                os.path.join(work, "checkpoints"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Wrapped:
    """Traced-run span around an engine call: ``run_config_grid``, the C2
    call inside it, and the pipeline call inside the streaming handler.
    The wrapper replaces the module attribute the caller looks up and is
    removed when the run ends."""

    def __init__(self, module, attr: str, around):
        self.module, self.attr = module, attr
        self.orig = getattr(module, attr)

        def call(*args, **kwargs):
            return around(self.orig, *args, **kwargs)

        setattr(module, attr, call)

    def close(self) -> None:
        setattr(self.module, self.attr, self.orig)


class LayerProbe:
    """Per-request layer numbers for the traced run."""

    def __init__(self, spark, tracer):
        from exstream_implementation_spark import pipeline
        from exstream_implementation_spark.streaming import explain_trigger

        self.spark, self.tracer = spark, tracer
        self.py4j = tracing.Py4jCounter(spark)
        self.req = -1
        self.active = False
        self.acc: dict[str, float] = {}
        self.frames: list = []
        self.wrapped = [
            Wrapped(pipeline, "correlated_features_filter", self._correlation),
            Wrapped(pipeline, "run_config_grid", self._pipeline),
            Wrapped(explain_trigger, "explain_anomalies", self._pipeline),
        ]

    def group(self, req: int) -> str:
        return f"perfbench-{req}"

    def begin(self, req: int) -> None:
        self.req = req
        self.active = True
        self.acc = {"pipeline.build_s": 0.0, "pipeline.py4j_calls": 0.0}
        self.frames = []

    def _correlation(self, orig, *args, **kwargs):
        if not self.active:
            return orig(*args, **kwargs)
        sc = self.spark.sparkContext
        group = self.group(self.req) + "-correlation"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        with self.tracer.span("operators.correlation", self.req):
            sc.setJobGroup(group, group)
            try:
                return orig(*args, **kwargs)
            finally:
                if prev:
                    sc.setJobGroup(prev, prev)

    def _pipeline(self, orig, *args, **kwargs):
        if not self.active:
            return orig(*args, **kwargs)
        calls = self.py4j.calls
        with self.tracer.span("pipeline.build", self.req) as span:
            out = orig(*args, **kwargs)
        self.acc["pipeline.build_s"] += span.end - span.start
        self.acc["pipeline.py4j_calls"] += self.py4j.calls - calls
        self.frames += list(out.values()) if isinstance(out, dict) else [out]
        return out

    def end(self, workload, req) -> dict:
        self.active = False
        out = dict(self.acc)
        groups = [self.group(req.index)]
        query = req.extra.get("query")
        if query is not None:
            groups.append(str(query.runId))  # the stream thread's job group
        corr = tracing.job_metrics(self.spark, [groups[0] + "-correlation"])
        out["correlation.jobs"] = corr["jobs"]
        out["correlation.s"] = self.tracer.durations(
            "operators.correlation", req.index
        )
        jobs = tracing.job_metrics(self.spark, groups + [groups[0] + "-correlation"])
        out.update({f"spark.{k}": v for k, v in jobs.items()})
        out["spark.plan_ms"] = sum(tracing.plan_ms(df) for df in self.frames)
        out.update(workload.layers(self.spark, req, self.tracer))
        if query is None:
            out["pipeline.action_s"] = self.tracer.durations(
                "pipeline.action", req.index
            )
        else:
            # the foreachBatch handler's time after the pipeline call
            out["pipeline.action_s"] = (
                out["streaming.add_batch_ms"] / 1e3 - out["pipeline.build_s"]
            )
        return out

    def close(self) -> None:
        for w in self.wrapped:
            w.close()
        self.py4j.close()


def run(args, work: str) -> tuple[bool, int, int, dict, dict]:
    import workloads
    from exstream_implementation_spark import cache

    workload = workloads.WORKLOADS[args.workload](args.seed, work)
    t0 = time.perf_counter()
    workload.generate()
    generate_s = time.perf_counter() - t0

    info: dict = {
        "workload": args.workload, "seed": args.seed, "generate_s": generate_s
    }
    info["canary_before_ms"] = canary_ms()
    setups = []
    spark = None
    try:
        # the traced run reports no set-up time, so it sets up once
        for i in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()  # teardown, not set-up: untimed
            t0 = T_START if i == 0 else time.perf_counter()
            spark = new_session(work)
            workload.start(spark)
            setups.append(
                time.perf_counter() - t0 - (generate_s if i == 0 else 0.0)
            )
        t0 = time.perf_counter()
        workload.warm_up(spark)
        info["warm_up_s"] = time.perf_counter() - t0
        if args.trace:
            # one full request more, so the untraced request the traced one
            # is compared with is not the first full request of the run
            workload.run(spark, workload.prepare(-2), tracing.Tracer(False))
            cache.release_tracked()
        loop = closed_loop(args, spark, workload)
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            stop_spark(spark)
            info["stop_s"] = time.perf_counter() - t0
    info["canary_after_ms"] = canary_ms()
    info["setups_s"] = setups

    lat, traced_lat = loop["latencies"][False], loop["latencies"][True]
    attempted, failed = loop["attempted"], loop["failed"]
    info.update(
        requests=len(lat) + len(traced_lat),
        latencies_s=lat,
        failed_share=failed / max(attempted, 1),
        latency_p90_s=stats.tail_percentile(lat, 90),
        problems=loop["problems"][:20],
    )
    ok = failed == 0
    if not lat:
        return False, attempted, failed, {}, info
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        loop["tracer"].write(
            os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        )
        rows = loop["layers"]
        if not rows:
            return False, attempted, failed, {}, info
        layers = {
            name: statistics.median([r.get(name, 0.0) for r in rows])
            for name in PER_LAYER
        }
        layers["tracing.overhead_pct"] = 100.0 * (
            statistics.median(traced_lat) / statistics.median(lat) - 1.0
        )
        layers["host.canary_before_ms"] = info["canary_before_ms"]
        layers["host.canary_after_ms"] = info["canary_after_ms"]
        metrics = {k: stats.metric(v, PER_LAYER[k]) for k, v in layers.items()}
        return ok, attempted, failed, metrics, info
    values = {
        "setup_s": statistics.median(setups),
        "latency_p50_s": statistics.median(lat),
        "anomalies_per_s": loop["explained"] / sum(lat),
        "cached_mb": statistics.median(loop["cached_mb"]),
    }
    metrics = {k: stats.metric(v, END_TO_END[k]) for k, v in values.items()}
    return ok, attempted, failed, metrics, info


def closed_loop(args, spark, workload) -> dict:
    """One caller: prepare (untimed), run (timed), then, untimed, record
    the storage left cached, check the output and release the caches.  In
    the traced run every second request is traced."""
    from exstream_implementation_spark import cache

    tracer = tracing.Tracer(bool(args.trace))
    probe = LayerProbe(spark, tracer) if args.trace else None
    untraced = tracing.Tracer(False)
    res = {
        "latencies": {False: [], True: []}, "layers": [], "cached_mb": [],
        "problems": [], "explained": 0, "attempted": 0, "failed": 0,
        "tracer": tracer,
    }
    # the traced run needs one untraced and one traced request at least
    min_requests = 2 if probe is not None else 1
    busy = 0.0
    index = 0
    try:
        while busy < args.seconds or index < min_requests:
            traced = probe is not None and index % 2 == 1
            req = workload.prepare(index)
            res["attempted"] += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    probe.begin(index)
                    with tracing.job_group(spark, probe.group(index)):
                        with tracer.span("request", index):
                            workload.run(spark, req, tracer)
                else:
                    workload.run(spark, req, untraced)
            except Exception as exc:  # a failed request is counted, not fatal
                res["failed"] += 1
                res["problems"].append(
                    f"request {index}: {type(exc).__name__}: {exc}"
                )
                busy += time.perf_counter() - t0
                continue
            finally:
                index += 1
            latency = time.perf_counter() - t0
            busy += latency
            res["latencies"][traced].append(latency)
            res["explained"] += req.explained
            n_rdds, mb = tracing.storage(spark)
            res["cached_mb"].append(mb)
            bad = workload.check(req)
            if bad:
                res["failed"] += 1
                res["problems"] += [f"request {req.index}: {p}" for p in bad]
            if traced:
                row = probe.end(workload, req)
                row["cache.pinned_rdds"] = float(n_rdds)
                row["cache.pinned_mb"] = mb
                res["layers"].append(row)
            cache.release_tracked()
    finally:
        if probe is not None:
            probe.close()
        cache.release_tracked()
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="EXstream benchmark run")
    ap.add_argument("--workload", required=True,
                    choices=["grid-1hz", "online-trigger"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "exstream_implementation_spark")):
        print("run from the repository root: exstream_implementation_spark/ "
              "is not in the working directory", file=sys.stderr)
        return 2

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    pin_environment(work)
    try:
        ok, attempted, failed, metrics, info = run(args, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    info["total_s"] = time.perf_counter() - T_START
    print(json.dumps(info))
    if not metrics:
        print("no result: " + "; ".join(info.get("problems", [])),
              file=sys.stderr)
        return 1
    print(stats.result_line(ok, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
