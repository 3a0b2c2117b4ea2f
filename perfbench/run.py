"""The repo benchmark: one command, three workloads, outputs checked.

    python3 perfbench/run.py --workload serve_api --seed 1 --seconds 6 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``serve_api``    /api requests against ``ScoringService.serve_http``
- ``score_stream`` the NiFi flow: ``streaming.score.score_and_route``
- ``query_mix``    oracle-backed HEADLINE queries through the noop sink

Every run gets a private, empty TMPDIR and SPARK_LOCAL_DIRS under the
checkout (cold engine stores), ``SPARK_GRAFT_CPUS`` = nproc, and the
Spark UI only when traced. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``). A
per-layer metric of a layer the workload does not touch reads 0. The
full result, with ``nproc``, the host calibration probe of ``bench.py``
(traced runs) and the spans, goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

#: a run must end within this many seconds (model training excepted)
RUN_BUDGET_S = 170
PREPARE_BUDGET_S = 700

#: per-layer metrics each workload must report; the rest read 0 there
SETUP_LAYERS = [
    "session.start_s", "setup.warmup_s", "store.tmp_mb", "memory.peak_rss_mb", "trace.overhead_pct",
]
LAYERS = {
    "serve_api": SETUP_LAYERS + [
        "ml.pipeline.load_s", "api.http_ms", "api.score_json_ms",
        "ml.score.create_df_ms", "ml.score.plan_ms", "ml.score.collect_ms",
        "spark.jobs_per_request", "spark.stages_per_request", "spark.tasks_per_request",
    ],
    "score_stream": SETUP_LAYERS + [
        "ml.pipeline.load_s", "streaming.micro_batches", "streaming.trigger_ms",
        "streaming.add_batch_ms", "streaming.overhead_ms", "ml.score.batch_plan_ms",
        "streaming.sink_write_s", "streaming.sink_mb", "streaming.rows_scored",
        "streaming.rows_dead_letter", "spark.tasks_per_batch",
    ],
    "query_mix": SETUP_LAYERS + [
        "operators.construct_s", "operators.exec_s", "spark.eager_jobs",
        "spark.exec_jobs", "spark.tasks", "spark.shuffle_write_mb", "spark.spill_mb",
    ],
}


def _worker(module: str, args: list, run_dir: str, trace: bool, deadline: float) -> dict:
    proc = common.spawn(module, [str(a) for a in args], run_dir, ui=trace)
    code = common.reap(proc, deadline - time.time())
    if code != 0:
        raise RuntimeError(f"{module} worker exited with {code}")
    return common.read_json(os.path.join(run_dir, "result.json"))


def run_workload(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    if workload in ("serve_api", "score_stream"):
        from perfbench.prepare import ensure_models

        ensure_models(time.time() + PREPARE_BUDGET_S)
    deadline = time.time() + RUN_BUDGET_S
    run_dir = common.make_run_dir(f"{workload}-s{seed}-t{int(trace)}")
    try:
        if workload == "serve_api":
            from perfbench.serve_api import drive

            res = drive(run_dir, seed, seconds, trace, deadline)
        elif workload == "score_stream":
            res = _worker(
                "score_stream",
                [run_dir, common.MODELS_DIR, seed, seconds, int(trace), time.monotonic(), size],
                run_dir, trace, deadline,
            )
        else:
            from perfbench import query_mix, querydata

            data = querydata.generate(
                os.path.join(run_dir, "data"), seed, query_mix.SCALE[size], query_mix.TABLES
            )
            res = _worker(
                "query_mix",
                [run_dir, data, seconds, int(trace), time.monotonic(), size],
                run_dir, trace, deadline,
            )
        res["layers"]["store.tmp_mb"] = common.dir_mb(os.path.join(run_dir, "tmp"))
        spans = os.path.join(run_dir, "spans.json")
        if os.path.exists(spans):
            res["spans"] = common.read_json(spans)
        elif workload == "serve_api" and trace:
            res["spans"] = common.read_json(os.path.join(run_dir, "service.json"))["spans"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return res


def summarize(workload: str, res: dict, trace: bool, spec: dict) -> dict:
    metrics = {}
    if trace:
        missing = [k for k in LAYERS[workload] if k not in res["layers"]]
        if missing:
            raise RuntimeError(f"{workload} did not report {missing}")
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": float(res[m["name"]]), "unit": m["unit"]}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:  # e.g. a percentile that falls on failed operations
        raise RuntimeError(f"{workload}: no finite value for {bad}")
    return {
        "correct": res["wrong"] == 0 and res["checked"] > 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's minimal inputs")
    args = ap.parse_args(argv)
    if not common.engine_present():
        print(f"perfbench: no engine to measure under {common.ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    trace = bool(args.trace)
    res = run_workload(args.workload, args.seed, args.seconds, trace, args.size)
    out = summarize(args.workload, res, trace, spec)
    os.makedirs(common.OUT_DIR, exist_ok=True)
    common.write_json(
        os.path.join(common.OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
        dict(res, workload=args.workload, seed=args.seed, seconds=args.seconds,
             size=args.size, nproc=common.nproc(), stores="cold (private TMPDIR)",
             summary=out),
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
