"""``query_mix`` workload: the analytics engine.

Oracle-backed HEADLINE queries, built through ``__spark_entry__.queries()``
over the seeded tables of ``querydata`` and written to the noop sink —
the same query-function-call-plus-sink unit ``bench.py`` times. The mix holds
construction-heavy queries (eager jobs, staged stores and stream replays
while the query function runs) and execution-heavy ones (the work happens in
the sink).

Set-up is the session plus one warm-up pass over the mix; that pass
collects each result (from cold stores), and after timing each result is
compared with its DuckDB oracle through ``tools/oracle_check.compare``.
Timed passes then repeat until the run's seconds are used, at least
``MIN_PASSES`` of them.

Run as ``python -m perfbench.query_mix <run_dir> <data_dir> <seconds>
<trace> <spawn_monotonic> <size>``; writes ``result.json``.
"""

from __future__ import annotations

import os
import sys
import time

from perfbench import common

CONSTRUCTION_HEAVY = ["q31_stream_tumbling"]
EXECUTION_HEAVY = [
    "q12_agg_pricing_summary",
    "q173_tpch_q21",
    "q156_tpch_q3",
    "q17_window_rank",
    "q01_scan_parquet",
]
MIX = {
    "full": CONSTRUCTION_HEAVY + EXECUTION_HEAVY,
    "tiny": ["q31_stream_tumbling", "q12_agg_pricing_summary"],
}
#: the tables the mix reads; ``querydata`` generates exactly these
TABLES = ["customer", "supplier", "orders", "lineitem", "events"]
#: timed passes at least, so runs compare like with like (passes still
#: get faster as the JIT warms); traced runs do ``common.traced_min_ops()``
MIN_PASSES = 2
#: scale factor of the seeded tables per size
SCALE = {"full": 0.01, "tiny": 0.001}


def oracle_problems(data_dir: str, outputs: dict) -> dict[str, list[str]]:
    """Per query, the differences between its collected rows and its
    DuckDB oracle over the same parquet (empty list: equal)."""
    import duckdb

    import __spark_entry__ as entry
    from tools.oracle_check import compare

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, (cols, rows) in outputs.items():
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        out[name] = compare(name, rows, cols, res.fetchall(), duck_cols)
    con.close()
    return out


def main(run_dir, data_dir, seconds, trace, t_spawn, size) -> None:
    import __spark_entry__ as entry
    from nfl_predictions_spark.session import get_spark

    spark = get_spark("perfbench-query-mix")
    spark.sparkContext.setLogLevel("OFF")
    session_start_s = time.monotonic() - t_spawn
    query_fns = entry.queries()
    mix = MIX[size]

    # -- warm-up pass: also the outputs the oracle check reads
    t = time.monotonic()
    outputs, failed_names = {}, set()
    for name in mix:
        try:
            df = query_fns[name](spark, data_dir)
            outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # a raising query is a failed operation
            print(f"{name}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            failed_names.add(name)
    warmup_s = time.monotonic() - t
    setup_s = time.monotonic() - t_spawn

    tracer = common.Tracer()
    passes = []  # (traced, {name: (construct_s, exec_s, wall windows) or None})
    t0 = time.monotonic()
    # traced: the first pass untraced, then blocks of untraced and traced
    # ones (common.traced_at)
    min_passes = common.traced_min_ops() if trace else MIN_PASSES
    while time.monotonic() - t0 < seconds or len(passes) < min_passes:
        traced = trace and common.traced_at(len(passes))
        runs = {}
        for name in mix:
            w0, a = time.time(), time.monotonic()
            span = tracer.start(f"operators.{name}", rid=len(passes)) if traced else None
            try:
                df = query_fns[name](spark, data_dir)
                b, wb = time.monotonic(), time.time()
                df.write.format("noop").mode("overwrite").save()
                c = time.monotonic()
                runs[name] = (b - a, c - b, (w0, wb, time.time()))
            except Exception as e:
                print(f"{name}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
                runs[name] = None
            if span:
                tracer.finish(span)
        passes.append((traced, runs))
    peak = common.peak_rss_mb()

    problems = oracle_problems(data_dir, outputs)
    wrong = {n for n, p in problems.items() if p}
    for n in sorted(wrong):
        print(f"{n}: {' | '.join(problems[n])[:500]}", file=sys.stderr)

    runs_failed = sum(1 for _, runs in passes for r in runs.values() if r is None)
    # the mix wall: query-function call + noop sink summed over the queries of a
    # pass; a pass with a failed query misses every limit
    pass_walls = [
        sum(r[0] + r[1] for r in runs.values()) if all(runs.values()) else float("inf")
        for _, runs in passes
    ]
    result = {
        # every timed query run, plus one check per query of the mix
        "attempted": len(passes) * len(mix) + len(mix),
        "failed": runs_failed + len(wrong | failed_names),
        "wrong": len(wrong),
        "checked": len(problems),
        "setup_s": setup_s,
        "p50_ms": common.quantile(pass_walls, 0.5) * 1e3,
        "p90_ms": common.quantile(pass_walls, 0.9) * 1e3,
        "rate_per_s": len(mix) / common.quantile(pass_walls, 0.5),
        "layers": {
            "session.start_s": session_start_s,
            "setup.warmup_s": warmup_s,
            "memory.peak_rss_mb": peak,
        },
        "detail": {
            "mix_wall_s": pass_walls,
            "query_s": [{n: r and r[0] + r[1] for n, r in runs.items()} for _, runs in passes],
        },
    }
    if trace:
        result["layers"].update(_trace_layers(spark, passes, mix))
        import bench

        result["detail"]["calibration_sec"] = bench._calibration_sec(spark)
        tracer.dump(os.path.join(run_dir, "spans.json"))
    common.write_json(os.path.join(run_dir, "result.json"), result)
    spark.stop()


def _trace_layers(spark, passes, mix) -> dict:
    """Construct/exec split per query (median over passes) and the Spark
    work of each phase, attributed by submission time to the phase's
    wall-clock window, over the traced passes."""
    med = lambda xs: common.quantile(xs, 0.5)  # noqa: E731
    layers = {}
    for name in mix:
        ok = [runs[name] for _, runs in passes if runs[name]]
        layers[f"operators.{name}.construct_s"] = med([r[0] for r in ok])
        layers[f"operators.{name}.exec_s"] = med([r[1] for r in ok])
    layers["operators.construct_s"] = med(
        [sum(r[0] for r in runs.values() if r) for _, runs in passes]
    )
    layers["operators.exec_s"] = med([sum(r[1] for r in runs.values() if r) for _, runs in passes])

    jobs, stages = common.rest(spark, "jobs"), common.rest(spark, "stages")
    stage_of = {s["stageId"]: s for s in stages if s.get("submissionTime")}
    traced = [runs for t, runs in passes if t]
    per_pass = []
    for runs in traced:
        eager = execd = tasks = 0
        shuffle = spill = 0
        for r in runs.values():
            if r is None:
                continue
            w0, wb, w1 = r[2]
            c_jobs, e_jobs = common.jobs_between(jobs, w0, wb), common.jobs_between(jobs, wb, w1)
            eager += len(c_jobs)
            execd += len(e_jobs)
            for j in c_jobs + e_jobs:
                tasks += common.tasks_run(j)
                for sid in j["stageIds"]:
                    s = stage_of.get(sid)
                    if s:
                        shuffle += s.get("shuffleWriteBytes", 0)
                        spill += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        per_pass.append((eager, execd, tasks, shuffle / 1e6, spill / 1e6))
    for i, key in enumerate(
        ["spark.eager_jobs", "spark.exec_jobs", "spark.tasks", "spark.shuffle_write_mb", "spark.spill_mb"]
    ):
        layers[key] = med([p[i] for p in per_pass])
    layers["trace.overhead_pct"] = common.overhead_pct(
        [sum(r[0] + r[1] for r in runs.values()) if all(runs.values()) else None
         for _, runs in passes]
    )
    return layers


if __name__ == "__main__":
    a = sys.argv[1:]
    main(a[0], a[1], float(a[2]), a[3] == "1", float(a[4]), a[5])
