"""Seeded input generator for the benchmark.

Every input the benchmark feeds the engine comes from here, and every byte
is a function of the seed: the same seed gives identical files.  Three kinds
of input exist:

* ``events.parquet`` tables in the shape of the testdata events table
  (event_id, ts timestamp[us], user_id, event_type, value, props), which
  ``sources.events_trace`` buckets into an EXstream metric trace: a normal
  week the online scorer learns its profile from, and one landing day per
  request;
* a reference-format grid folder (FIXTURES.md section 1 and 2): one 1 Hz CSV
  per trace with ten driver metrics, planted shifts in the anomaly
  intervals, an ``uptime`` ramp, a near-duplicate column pair, runs of
  duplicate values, and a ``labels.csv``;
* per-request label sets and landing days, drawn so that no request in a
  run repeats an earlier one.

Files are written only under the directory the caller passes in.

    python3 perfbench/gen.py --seed 7 --out <dir>    # write every input once
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z, the testdata events epoch
HOUR = 3600
DAY = 24 * HOUR

# events at the sf0.1 testdata density: 100k events over 30 days
EVENTS_PER_DAY = 100_000 // 30

LABEL_COLUMNS = (
    "trace_id", "ano_id", "ano_type", "ref_start", "ref_end", "ano_start",
    "ano_end",
)

# grid folder: FIXTURES.md section 1 names; the order fixes feature_order
SCHED = "driver_StreamingMetrics_streaming_lastCompletedBatch_schedulingDelay_value"
SCHED_DUP = "driver_StreamingMetrics_streaming_lastCompletedBatch_totalDelay_value"
RECORDS = "driver_StreamingMetrics_streaming_lastReceivedBatch_records_value"
UPTIME = "driver_uptime_value"
GRID_FEATURES = (
    SCHED,
    RECORDS,
    "driver_jvm_heap_used_value",
    "driver_cpu_load_value",
    "driver_processing_time_value",
    SCHED_DUP,
    "driver_BlockManager_memory_memUsed_MB_value",
    "driver_DAGScheduler_job_activeJobs_value",
    "driver_jvm_non_heap_used_value",
    UPTIME,
)
ANO_TYPES = {"1": "bursty input", "2": "stalled input", "3": "CPU contention"}
GRID_TRACES = ("1_1", "2_1", "3_1")
GRID_SECONDS = 7200
# planted anomaly intervals [start, start + width) in every grid trace
GRID_PLANTED = (1500, 3000, 4500, 6000)
GRID_PLANTED_WIDTH = 300
# per-request grid labels: fixed widths, so every request does equal work.
# C3 matches at most max_distance=40 apart, and z-normalized noise of
# length m sits about sqrt(2m) apart: references shorter than ~800 s make
# every noise feature a match, and C3 falls back to keeping one feature.
GRID_ANO_WIDTH = 240
GRID_REF_WIDTH = 900
GRID_MAX_JITTER = GRID_PLANTED_WIDTH - GRID_ANO_WIDTH  # ano stays planted
GRID_MAX_GAP = 300

# online landing days: normal traffic plus a last-hour burst of one type
ONLINE_PROFILE_DAYS = 7
ONLINE_BURST_EVENTS = 150


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) — adding a stream never
    shifts the draws of another."""
    return np.random.default_rng([seed, *stream])


def events_table(
    rng: np.random.Generator,
    start_s: int,
    seconds: int,
    n_events: int,
    burst: tuple[str, int, int] | None = None,
) -> pa.Table:
    """Uniform event arrivals over ``[start_s, start_s + seconds)``.
    ``burst=(event_type, burst_start_s, n_extra)`` adds ``n_extra`` events
    of one type inside the hour starting at ``burst_start_s``."""
    offs = rng.uniform(0, seconds, n_events)
    types = rng.integers(0, len(EVENT_TYPES), n_events)
    if burst is not None:
        btype, bstart, n_extra = burst
        offs = np.concatenate(
            [offs, bstart - start_s + rng.uniform(0, HOUR, n_extra)]
        )
        types = np.concatenate(
            [types, np.full(n_extra, EVENT_TYPES.index(btype))]
        )
    order = np.argsort(offs, kind="stable")
    offs, types = offs[order], types[order]
    n = len(offs)
    ts_us = (start_s * 1_000_000 + np.floor(offs * 1_000_000)).astype(np.int64)
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2000, n).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[t] for t in types]),
            "value": pa.array(value),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def write_events(table: pa.Table, directory: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "events.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def _grid_trace(rng: np.random.Generator) -> dict[str, np.ndarray]:
    n = GRID_SECONDS
    runs = n // 10
    cols = {
        SCHED: rng.normal(10.0, 1.0, n),
        RECORDS: rng.normal(1000.0, 40.0, n),
        "driver_jvm_heap_used_value": rng.normal(800.0, 30.0, n),
        "driver_cpu_load_value": rng.normal(50.0, 2.0, n),
        "driver_processing_time_value": rng.normal(200.0, 15.0, n),
        # runs of exactly duplicated values (worst-case-shuffle inputs)
        "driver_BlockManager_memory_memUsed_MB_value": np.repeat(
            np.round(rng.normal(512.0, 8.0, runs), 1), 10
        ),
        "driver_DAGScheduler_job_activeJobs_value": np.repeat(
            rng.integers(0, 4, runs).astype(np.float64), 10
        ),
        "driver_jvm_non_heap_used_value": rng.normal(120.0, 3.0, n),
        UPTIME: np.arange(n, dtype=np.float64),
    }
    for start in GRID_PLANTED:
        sl = slice(start, start + GRID_PLANTED_WIDTH)
        cols[SCHED][sl] += 40.0
        cols[RECORDS][sl] += 2000.0
    # near-duplicate of the scheduling delay, planted shift included
    cols[SCHED_DUP] = cols[SCHED] + rng.normal(0.0, 0.01, n)
    return {f: np.round(cols[f], 6) for f in GRID_FEATURES}


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="") as fh:
        fh.write(",".join(header) + "\n")
        for row in rows:
            fh.write(",".join(row) + "\n")


def write_trace_csv(path: str, cols: dict[str, np.ndarray]) -> None:
    text = {f: [f"{v:.6f}" for v in cols[f]] for f in GRID_FEATURES}
    _write_csv(
        path,
        ["timestamp", *GRID_FEATURES],
        (
            [str(t), *(text[f][t] for f in GRID_FEATURES)]
            for t in range(GRID_SECONDS)
        ),
    )


def write_labels_csv(path: str, labels: list[tuple]) -> None:
    """Reference labels layout: unnamed row index, then LABEL_COLUMNS."""
    _write_csv(
        path,
        ["", *LABEL_COLUMNS],
        ([str(i), *map(str, lab)] for i, lab in enumerate(labels)),
    )


def grid_label(trace_id: str, planted: int, jitter: int, gap: int) -> tuple:
    ano_start = GRID_PLANTED[planted] + jitter
    ref_end = ano_start - gap
    return (
        trace_id,
        planted + 1,
        ANO_TYPES[trace_id[0]],
        ref_end - GRID_REF_WIDTH,
        ref_end,
        ano_start,
        ano_start + GRID_ANO_WIDTH - 1,  # ano_end is inclusive
    )


def write_grid_folder(seed: int, directory: str) -> dict[str, dict]:
    """Per-trace CSVs plus ``labels.csv``.  Returns the trace columns by trace id, which the
    output check recomputes the oracle from."""
    os.makedirs(directory, exist_ok=True)
    traces = {}
    for i, trace_id in enumerate(GRID_TRACES):
        cols = _grid_trace(rng_for(seed, 2, i))
        write_trace_csv(os.path.join(directory, f"{trace_id}.csv"), cols)
        traces[trace_id] = cols
    write_labels_csv(os.path.join(directory, "labels.csv"), canonical_grid_labels())
    return traces


def canonical_grid_labels() -> list[tuple]:
    """``labels.csv``: the first two planted intervals of every trace."""
    return [grid_label(t, k, 0, 0) for t in GRID_TRACES for k in (0, 1)]


class FreshLabels:
    """Label sets drawn from the seed; ``next()`` never returns a set it
    has returned before, so no request reuses an earlier request's labels
    (and with them a cached plan or result)."""

    def __init__(self, seed: int, workload: int, draw):
        self._rng = rng_for(seed, 3, workload)
        self._draw = draw
        self._seen: set[tuple] = set()

    def mark_seen(self, labels: list[tuple]) -> None:
        self._seen.add(tuple(labels))

    def next(self) -> list[tuple]:
        for _ in range(1000):
            labels = self._draw(self._rng)
            key = tuple(labels)
            if key not in self._seen:
                self._seen.add(key)
                return labels
        raise RuntimeError("label space exhausted")


def draw_grid_labels(rng: np.random.Generator) -> list[tuple]:
    """Two labels per grid trace on two random planted intervals, each
    with a random jitter inside the interval and a random gap before its
    reference.  Six labels pool six reference slices, so C3 sees the
    ramp's shape recur more often than its keep limit of five."""
    return [
        grid_label(
            t,
            int(k),
            int(rng.integers(0, GRID_MAX_JITTER + 1)),
            int(rng.integers(0, GRID_MAX_GAP + 1)),
        )
        for t in GRID_TRACES
        for k in sorted(rng.choice(len(GRID_PLANTED), 2, replace=False))
    ]


def write_profile_days(seed: int, directory: str) -> str:
    """Normal traffic the online scorer learns its reference profile from."""
    table = events_table(
        rng_for(seed, 4),
        EPOCH_S,
        ONLINE_PROFILE_DAYS * DAY,
        ONLINE_PROFILE_DAYS * EVENTS_PER_DAY,
    )
    return write_events(table, directory)


def write_landing_day(seed: int, request: int, directory: str) -> dict:
    """Request ``request``'s day: its own calendar day after the profile
    week, normal traffic, and a burst of one seeded event type in the last
    hour.  Returns the day's facts the output check needs."""
    rng = rng_for(seed, 5, request)
    day_start = EPOCH_S + (ONLINE_PROFILE_DAYS + request) * DAY
    burst_type = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
    burst_start = day_start + 23 * HOUR
    table = events_table(
        rng,
        day_start,
        DAY,
        EVENTS_PER_DAY,
        burst=(burst_type, burst_start, ONLINE_BURST_EVENTS),
    )
    write_events(table, directory)
    return {"table": table, "burst_bucket": burst_start // HOUR}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    write_grid_folder(args.seed, os.path.join(args.out, "grid"))
    write_profile_days(args.seed, os.path.join(args.out, "profile"))
    write_landing_day(args.seed, 0, os.path.join(args.out, "landing-0"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
