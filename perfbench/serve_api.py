"""``serve_api`` workload: the reference app's own traffic.

One service process (``python -m perfbench.serve_api``) boots the way
the reference does — session, ``load_models``, ``ScoringService`` —
and serves ``/api`` through the engine's ``serve_http``. The benchmark
process (``drive``) is one client in a closed loop: each request is
sent after the previous reply arrives, as the reference's
single-threaded Flask app and NiFi's ``InvokeHTTP`` do. The engine's
server speaks HTTP/1.0, so every request opens its own loopback
connection.

Traffic is the engine's own simulated request stream: the service
process draws it before timing from ``streaming.simulate``
(``simulated_requests`` over a seeded ``spark.range`` plus
``with_invalid(every=37)``, the share of unseen ``PlayType_lag`` labels
``score_stream`` uses too) and hands it to the client, one request per
sequence number; an unseen label must get a 400. A request that gets no reply
at all is a failure and counts as missing every latency limit.

After the timed loop the client sends one incomplete request per
required field and one with an unseen label, untimed; each must get a
400. Then the service scores every request that got a 200 with
``score_batch`` and the client checks each reply against it.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time

from perfbench import common

INVALID_EVERY = 37
#: requests drawn per run: more than the closed loop can send in
#: ``run_seconds`` even at a few ms per request
TRAFFIC_ROWS = 10_000
#: requests per run at least; traced runs send more, for six blocks of
#: the traced/untraced comparison
MIN_REQUESTS = 12


def traffic(spark, seed: int, n: int) -> list[dict]:
    """The seeded request stream, in sequence order: each row is the 10
    request fields plus ``seq``. Every run's stream starts one past a
    multiple of 37, so each run sends the same kinds in the same order:
    the 37th request, the 74th, ... carry the unseen label."""
    from nfl_predictions_spark.streaming.simulate import simulated_requests, with_invalid

    start = seed * INVALID_EVERY * 10**6 + 1
    ticks = spark.range(start, start + n, 1, 1)
    reqs = with_invalid(simulated_requests(ticks, "id"), every=INVALID_EVERY)
    return [r.asDict() for r in reqs.orderBy("seq").collect()]


def kind_of(rec: dict) -> str:
    return "unseen" if rec["seq"] % INVALID_EVERY == 0 else "valid"


def check_requests(first: dict) -> list[tuple[str, dict]]:
    """Untimed checks after the loop: ``first`` without each required
    field in turn, and ``first`` with an unseen label."""
    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA

    fields = SCORE_REQUEST_SCHEMA.fieldNames()
    out = [("incomplete", {f: first[f] for f in fields if f != drop}) for drop in fields]
    out.append(("unseen", dict({f: first[f] for f in fields}, PlayType_lag="Bogus")))
    return out


def post(port: int, payload: dict, timeout: float = 60):
    """One /api round trip: (status or None if no reply, body, seconds)."""
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("POST", "/api", json.dumps(payload), {"Content-Type": "application/json"})
        resp = conn.getresponse()
        body = resp.read()
        return resp.status, body, time.perf_counter() - t0
    except (http.client.HTTPException, OSError):
        return None, b"", time.perf_counter() - t0
    finally:
        conn.close()


def drive(run_dir: str, seed: int, seconds: float, trace: bool, deadline: float) -> dict:
    """The benchmark side: start the service, time set-up, run the closed
    loop, then have the service score the same requests and check."""
    from nfl_predictions_spark.ml.score import GOLDEN_REQUEST

    port_file = os.path.join(run_dir, "port")
    t_spawn = time.monotonic()
    proc = common.spawn(
        "serve_api",
        [run_dir, common.MODELS_DIR, str(seed), "1" if trace else "0", str(t_spawn)],
        run_dir, ui=trace, stdin=subprocess.PIPE,
    )
    try:
        while not os.path.exists(port_file):
            if proc.poll() is not None or time.time() > deadline:
                raise RuntimeError("service did not start")
            time.sleep(0.02)
        ready = common.read_json(port_file)
        port = ready["port"]
        status, _, warmup_s = post(port, GOLDEN_REQUEST)
        if status != 200:
            raise RuntimeError(f"warm-up request failed: {status}")
        # drawing the traffic is the benchmark's work, not the service's set-up
        setup_s = time.monotonic() - t_spawn - ready["traffic_s"]

        sent = []  # (rid, kind, record, status, body, seconds)
        todo = iter(common.read_json(os.path.join(run_dir, "requests.json")))
        min_requests = common.traced_min_ops(6) if trace else MIN_REQUESTS
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds or len(sent) < min_requests) \
                and time.time() < deadline - 30:
            rec = next(todo, None)
            if rec is None:
                break
            rid = len(sent)
            payload = {k: v for k, v in rec.items() if k != "seq"}
            if trace and common.traced_at(rid):
                payload["_rid"] = rid
            status, body, dt = post(port, payload)
            sent.append((rid, kind_of(rec), rec, status, body, dt))
        wall = time.perf_counter() - t0
        checks = [(kind, *post(port, rec)) for kind, rec in check_requests(sent[0][2])]

        ok = [(rid, rec) for rid, kind, rec, status, _, _ in sent if status == 200]
        common.write_json(os.path.join(run_dir, "scored_requests.json"), ok)
        proc.stdin.write(b"stop\n")
        proc.stdin.flush()
        proc.stdin.close()
    except BaseException:
        common.reap(proc, 0)
        raise
    code = common.reap(proc, deadline - time.time())
    if code != 0:
        raise RuntimeError(f"service exited with {code}")
    service = common.read_json(os.path.join(run_dir, "service.json"))
    expected = {int(k): v for k, v in service["expected"].items()}

    failed = wrong = 0
    lat = []
    for rid, kind, rec, status, body, dt in sent:
        good = check_reply(kind, status, body, expected.get(rid))
        if status is None or not good:
            failed += 1
            wrong += status is not None
            dt = float("inf")
        lat.append(dt)
    for kind, status, body, _ in checks:
        if not check_reply(kind, status, body, None):
            failed += 1
            wrong += status is not None

    res = {
        "attempted": len(sent) + len(checks),
        "failed": failed,
        "wrong": wrong,
        "checked": len(sent) + len(checks),
        "setup_s": setup_s,
        "p50_ms": common.quantile(lat, 0.5) * 1e3,
        "p90_ms": common.quantile(lat, 0.9) * 1e3,
        "rate_per_s": sum(1 for x in lat if x != float("inf")) / wall,
        "layers": {
            "memory.peak_rss_mb": service["peak_rss_mb"],
            "session.start_s": service["session_start_s"],
            "ml.pipeline.load_s": service["load_s"],
            "setup.warmup_s": warmup_s,
        },
        "detail": {
            "kinds": {k: sum(1 for s in sent if s[1] == k) for k in ("valid", "unseen")},
            "checks": [(kind, status) for kind, status, _, _ in checks],
            "calibration_sec": service.get("calibration_sec"),
            "latencies_ms": [round(x * 1e3, 1) for x in lat],
        },
    }
    if trace:
        res["layers"].update(_trace_layers(sent, service, expected))
    return res


def check_reply(kind: str, status, body: bytes, expected) -> bool:
    """A valid request must get 200 and exactly its ``score_batch`` row;
    incomplete and unseen-label requests must get 400."""
    if kind != "valid":
        return status == 400
    if status != 200 or expected is None:
        return False
    try:
        return json.loads(body) == expected
    except ValueError:
        return False


def _trace_layers(sent, service, expected) -> dict:
    """Per-layer medians over the traced requests that got a 200 (those
    that carry ``_rid``, see ``common.traced_at``); ``trace.overhead_pct``
    compares them with the untraced ones around them."""
    ok = {s[0] for s in sent if s[1] == "valid" and s[3] == 200}
    spans = [s for s in service["spans"] if s["rid"] in ok]
    st = common.self_times(spans)
    by_rid = {s["rid"]: s["end"] - s["start"] for s in spans if s["name"] == "api.score_json"}
    traced = [s for s in sent if s[0] in by_rid]
    http_ms = [(dt - by_rid[rid]) * 1e3 for rid, _, _, _, _, dt in traced]
    med = lambda name: common.quantile(st[name], 0.5) * 1e3  # noqa: E731
    counts = [c for rid, c in service["spark_counts"] if rid in by_rid]
    return {
        "api.http_ms": common.quantile(http_ms, 0.5),
        "api.score_json_ms": common.quantile(list(by_rid.values()), 0.5) * 1e3,
        "ml.score.create_df_ms": med("ml.score.create_df"),
        "ml.score.plan_ms": med("ml.score.score_record"),
        "ml.score.collect_ms": med("ml.score.collect"),
        "spark.jobs_per_request": common.quantile([c[0] for c in counts], 0.5),
        "spark.stages_per_request": common.quantile([c[1] for c in counts], 0.5),
        "spark.tasks_per_request": common.quantile([c[2] for c in counts], 0.5),
        "trace.overhead_pct": common.overhead_pct([s[5] if s[0] in ok else None for s in sent]),
    }


# -- the service process ------------------------------------------------------


def _install_tracer(tracer, spark, api, DataFrame):
    """Spans around the public calls one request makes, plus a job group
    per request. Only requests that carry ``_rid`` are traced; the rest
    pass straight through."""
    sc = spark.sparkContext
    score_json = api.ScoringService.score_json

    def traced_score_json(self, payload):
        rid = json.loads(payload).get("_rid") if '"_rid"' in payload else None
        if rid is None:
            return score_json(self, payload)
        sc.setJobGroup(f"perfbench-req-{rid}", "perfbench request")
        span = tracer.start("api.score_json", rid)
        try:
            return score_json(self, payload)
        finally:
            tracer.finish(span)
            sc.setLocalProperty("spark.jobGroup.id", None)

    inner = lambda *a, **k: tracer.current() is not None  # noqa: E731
    api.ScoringService.score_json = traced_score_json
    api.score_record = tracer.wrap(api.score_record, "ml.score.score_record", inner)
    spark.createDataFrame = tracer.wrap(spark.createDataFrame, "ml.score.create_df", inner)
    DataFrame.first = tracer.wrap(DataFrame.first, "ml.score.collect", inner)


def _job_counts(spark, rids) -> list[tuple[int, list[int]]]:
    """Exact (jobs, stages, tasks) per traced request, from its job group."""
    st = spark.sparkContext.statusTracker()
    out = []
    for rid in rids:
        jobs = st.getJobIdsForGroup(f"perfbench-req-{rid}")
        infos = [st.getJobInfo(j) for j in jobs]
        stages = [s for info in infos if info for s in info.stageIds]
        tasks = sum(st.getStageInfo(s).numTasks for s in stages if st.getStageInfo(s))
        out.append((rid, [len(jobs), len(stages), tasks]))
    return out


def service_main(run_dir: str, models_dir: str, seed: int, trace: bool, t_spawn: float) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nfl_predictions_spark import api
    from nfl_predictions_spark.ml.pipeline import load_models
    from nfl_predictions_spark.schemas import SCORE_REQUEST_SCHEMA
    from nfl_predictions_spark.session import get_spark

    spark = get_spark("perfbench-serve-api")
    spark.sparkContext.setLogLevel("OFF")
    session_start_s = time.monotonic() - t_spawn
    t1 = time.monotonic()
    service = api.ScoringService(spark, *load_models(models_dir))
    load_s = time.monotonic() - t1
    t1 = time.monotonic()
    common.write_json(os.path.join(run_dir, "requests.json"), traffic(spark, seed, TRAFFIC_ROWS))
    traffic_s = time.monotonic() - t1

    tracer = common.Tracer()
    if trace:
        # the session's concrete DataFrame class (classic, not Connect)
        _install_tracer(tracer, spark, api, type(spark.range(0)))
    server = service.serve_http()
    threading.Thread(
        target=lambda: (sys.stdin.readline(), server.shutdown()), daemon=True
    ).start()
    common.write_json(
        os.path.join(run_dir, "port"), {"port": server.server_address[1], "traffic_s": traffic_s}
    )
    server.serve_forever(poll_interval=0.05)
    server.server_close()
    peak = common.peak_rss_mb()

    # -- after the timed loop: reference outputs for every 200 reply
    scored = common.read_json(os.path.join(run_dir, "scored_requests.json"))
    expected = {}
    if scored:
        fields = SCORE_REQUEST_SCHEMA.fields
        rows = [(*(rec[f.name] for f in fields), rid) for rid, rec in scored]
        schema = T.StructType([*fields, T.StructField("_rid", T.LongType())])
        df = spark.createDataFrame(rows, schema)
        for r in service.score_batch(df).select(
            "_rid", "best_play",
            F.round("passing_yards", 2).alias("passing_yards"),
            F.round("running_yards", 2).alias("running_yards"),
        ).collect():
            d = r.asDict()
            expected[d.pop("_rid")] = d
    out = {"session_start_s": session_start_s, "load_s": load_s, "peak_rss_mb": peak,
           "expected": expected, "spans": tracer.spans, "spark_counts": []}
    if trace:
        import bench

        rids = sorted({s["rid"] for s in tracer.spans if s["name"] == "api.score_json"})
        out["spark_counts"] = _job_counts(spark, rids)
        out["calibration_sec"] = bench._calibration_sec(spark)
    common.write_json(os.path.join(run_dir, "service.json"), out)
    spark.stop()


if __name__ == "__main__":
    a = sys.argv[1:]
    service_main(a[0], a[1], int(a[2]), a[3] == "1", float(a[4]))
