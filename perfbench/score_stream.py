"""``score_stream`` workload: the NiFi flow as the engine runs it.

A seeded request table (``streaming.simulate.simulated_requests`` +
``with_invalid(every=37)``) is staged as parquet files before timing,
then replayed through ``streaming.score.score_and_route`` — AvailableNow,
one file per trigger — into the parquet success and dead-letter sinks.
The replay repeats (fresh sinks and checkpoint each time) until the run's
seconds are used; rows/s is the median over repetitions and the
latency percentiles are over micro-batch trigger times.

Checks, after timing, for every repetition: scored + dead-letter rows
equal the input, dead-letter rows are exactly ``seq % 37 == 0``, and the
scored rows hash-equal ``ScoringService.score_batch`` over the valid
input.

Run as ``python -m perfbench.score_stream <run_dir> <models> <seed>
<seconds> <trace> <spawn_monotonic> <size>``; writes ``result.json``.
"""

from __future__ import annotations

import os
import sys
import threading
import time

from perfbench import common

INVALID_EVERY = 37
#: (files per replay, rows per file); one file is one micro-batch
SIZES = {"full": (4, 50_000), "tiny": (2, 2_000)}
#: replays at least, so runs compare like with like; traced runs do
#: ``common.traced_min_ops()``
MIN_REPLAYS = 2


class _Progress:
    """StreamingQueryListener body: keeps every progress event."""

    def __init__(self):
        self.events: list[dict] = []
        self.lock = threading.Lock()

    def add(self, p) -> None:
        with self.lock:
            self.events.append(
                {
                    "run": str(p.runId),
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "add_batch_ms": p.durationMs.get("addBatch", 0),
                }
            )

    def wait_for(self, run_ids: list[str], batches: int, timeout: float = 20) -> None:
        """Progress events arrive asynchronously; wait for all of them."""
        end = time.time() + timeout
        while time.time() < end:
            with self.lock:
                n = sum(1 for e in self.events if e["run"] in run_ids and e["rows"])
            if n >= batches * len(run_ids):
                return
            time.sleep(0.05)
        raise RuntimeError("stream progress events missing")


def _hash(df, F):
    cols = sorted(df.columns)
    h = F.xxhash64(*cols)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(1 << 40))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).first()
    return tuple(row)


def main(run_dir, models_dir, seed, seconds, trace, t_spawn, size) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming import StreamingQueryListener

    from nfl_predictions_spark.api import ScoringService
    from nfl_predictions_spark.ml.pipeline import load_models
    from nfl_predictions_spark.session import get_spark
    from nfl_predictions_spark.streaming import score as stream_score
    from nfl_predictions_spark.streaming.simulate import simulated_requests, with_invalid

    spark = get_spark("perfbench-score-stream")
    spark.sparkContext.setLogLevel("OFF")
    session_start_s = time.monotonic() - t_spawn
    t = time.monotonic()
    pass_model, run_model = load_models(models_dir)
    load_s = time.monotonic() - t

    progress = _Progress()
    started: list[str] = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.append(str(event.runId))

        def onQueryProgress(self, event):
            progress.add(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())

    # -- inputs: staged before timing, not counted as set-up
    t = time.monotonic()
    files, per_file = SIZES[size]
    n_rows = files * per_file
    base = seed * 10**9

    def stage(path, start, n, parts):
        ticks = spark.range(start, start + n, 1, parts)
        with_invalid(simulated_requests(ticks, "id"), every=INVALID_EVERY).write.parquet(path)

    data = os.path.join(run_dir, "data")  # inputs and sinks; TMPDIR keeps the engine's own state
    in_dir, warm_dir = os.path.join(data, "requests"), os.path.join(data, "warm_requests")
    stage(in_dir, base, n_rows, files)
    stage(warm_dir, base + n_rows, 2_000, 1)
    schema = spark.read.parquet(in_dir).schema
    staging_s = time.monotonic() - t

    def replay(src, out_root):
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        stream_score.score_and_route(spark, stream, pass_model, run_model, out_root)

    t = time.monotonic()
    replay(warm_dir, os.path.join(data, "warm_out"))
    warmup_s = time.monotonic() - t
    setup_s = time.monotonic() - t_spawn - staging_s

    # -- tracing: spans around the batch plan build and the sink writes
    tracer = common.Tracer()
    tracing = threading.Event()
    on = lambda *a, **k: tracing.is_set()  # noqa: E731
    if trace:
        stream_score.score_best_play = tracer.wrap(
            stream_score.score_best_play, "ml.score.batch_plan", on
        )
        DataFrameWriter.parquet = tracer.wrap(DataFrameWriter.parquet, "streaming.sink_write", on)

    reps = []  # (out_root, seconds, traced, wall window, run ids)
    t0 = time.monotonic()
    # traced: the first replay untraced, then blocks of untraced and traced
    # ones (common.traced_at)
    min_reps = common.traced_min_ops() if trace else MIN_REPLAYS
    while time.monotonic() - t0 < seconds or len(reps) < min_reps:
        traced = trace and common.traced_at(len(reps))
        (tracing.set if traced else tracing.clear)()
        out_root = os.path.join(data, f"out{len(reps)}")
        n_started = len(started)
        w0, t = time.time(), time.monotonic()
        replay(in_dir, out_root)
        reps.append((out_root, time.monotonic() - t, traced, (w0, time.time()), started[n_started:]))
    tracing.clear()
    progress.wait_for([r for rep in reps for r in rep[4]], files)
    peak = common.peak_rss_mb()

    # -- checks, outside the timed region
    requests = spark.read.parquet(in_dir)
    invalid = F.col("seq") % INVALID_EVERY == 0
    expected_dlq = requests.filter(invalid).count()
    reference = _hash(
        ScoringService(spark, pass_model, run_model).score_batch(requests.filter(~invalid)), F
    )
    failed = checked = 0
    counts = []
    for out_root, *_ in reps:
        scored = spark.read.parquet(os.path.join(out_root, "scored"))
        dlq = spark.read.parquet(os.path.join(out_root, "dead_letter"))
        got = _hash(scored, F)
        n_dlq = dlq.count()
        n_bad_dlq = dlq.filter(~invalid).count()
        counts.append((got[0], n_dlq))
        lost = abs(n_rows - got[0] - n_dlq)
        wrong = (got[0] if got != reference else 0) + n_bad_dlq + abs(expected_dlq - n_dlq)
        failed += min(n_rows, lost + wrong)
        checked += 4

    timed_runs = {run for rep in reps for run in rep[4]}
    batches = [e for e in progress.events if e["run"] in timed_runs and e["rows"]]
    rates = [n_rows / rep[1] for rep in reps]
    result = {
        "attempted": n_rows * len(reps),
        "failed": failed,
        "wrong": failed,
        "checked": checked,
        "setup_s": setup_s,
        "p50_ms": common.quantile([e["trigger_ms"] for e in batches], 0.5),
        "p90_ms": common.quantile([e["trigger_ms"] for e in batches], 0.9),
        "rate_per_s": common.quantile(rates, 0.5),
        "layers": {
            "memory.peak_rss_mb": peak,
            "session.start_s": session_start_s,
            "ml.pipeline.load_s": load_s,
            "setup.warmup_s": warmup_s,
        },
        "detail": {"replay_s": [r[1] for r in reps], "rows_per_rep": n_rows, "staging_s": staging_s},
    }
    if trace:
        result["layers"].update(_trace_layers(spark, reps, batches, tracer, counts))
        import bench

        result["detail"]["calibration_sec"] = bench._calibration_sec(spark)
        tracer.dump(os.path.join(run_dir, "spans.json"))
    common.write_json(os.path.join(run_dir, "result.json"), result)
    spark.stop()


def _trace_layers(spark, reps, batches, tracer, counts) -> dict:
    traced = [r for r in reps if r[2]]
    traced_runs = {run for r in traced for run in r[4]}
    tb = [e for e in batches if e["run"] in traced_runs]
    st = common.self_times([s for s in tracer.spans if s["end"] is not None])
    jobs = common.rest(spark, "jobs")
    tasks = sum(common.tasks_run(j) for r in traced for j in common.jobs_between(jobs, *r[3]))
    i = reps.index(traced[0])
    med = lambda xs: common.quantile(xs, 0.5)  # noqa: E731
    return {
        "streaming.micro_batches": len(batches),
        "streaming.trigger_ms": med([e["trigger_ms"] for e in tb]),
        "streaming.add_batch_ms": med([e["add_batch_ms"] for e in tb]),
        "streaming.overhead_ms": med([e["trigger_ms"] - e["add_batch_ms"] for e in tb]),
        "ml.score.batch_plan_ms": med(st["ml.score.batch_plan"]) * 1e3,
        "streaming.sink_write_s": sum(st["streaming.sink_write"]) / len(traced),
        "streaming.sink_mb": common.dir_mb(reps[i][0]),
        "streaming.rows_scored": counts[i][0],
        "streaming.rows_dead_letter": counts[i][1],
        "spark.tasks_per_batch": tasks / len(tb),
        "trace.overhead_pct": common.overhead_pct([r[1] for r in reps]),
    }


if __name__ == "__main__":
    a = sys.argv[1:]
    main(a[0], a[1], int(a[2]), float(a[3]), a[4] == "1", float(a[5]), a[6])
