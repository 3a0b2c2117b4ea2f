"""Benchmark self-test at tiny size.

    python3 perfbench/selftest.py

First the pure-Python parts (reply check, percentiles, span self time,
seeded inputs, the oracle comparison) on hand-made cases; then every
workload once untraced and once traced at ``--size tiny`` (a few
requests, a few thousand stream rows, two mix queries at sf0.001). It
asserts that each run prints every metric of BENCHMARK.json with its
unit, that each workload reports the layers it exercises, and that the
output checks ran and passed. Exits non-zero on the first failure.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, query_mix, querydata, run  # noqa: E402
from perfbench.serve_api import check_reply  # noqa: E402


def unit_checks() -> None:
    good = {"best_play": "Passing Play", "passing_yards": 4.62, "running_yards": 2.39}
    body = json.dumps(good).encode()
    assert check_reply("valid", 200, body, good)
    assert not check_reply("valid", 200, body, dict(good, passing_yards=4.63))
    assert not check_reply("valid", 400, b"{}", good)
    assert not check_reply("unseen", None, b"", None)  # dropped connection
    assert check_reply("unseen", 400, b"{}", None)
    assert check_reply("incomplete", 400, b"{}", None)

    assert common.quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert common.quantile([1.0, 2.0, float("inf")], 0.9) == float("inf")
    # an idle tracer reads 0 %, also under a curved warming trend and an
    # every-other-operation rhythm; the first operation is in no block
    assert [common.traced_at(k) for k in range(9)] == [0, 0, 1, 1, 0, 1, 0, 0, 1]
    assert common.overhead_pct([9.0] + [5.0] * 8) == 0.0
    trend = [20.0 - k + (0.5 if k % 2 else -0.5) for k in range(9)]
    assert abs(common.overhead_pct(trend)) < 1e-9
    curved = [100.0 / (k + 1) for k in range(9)]
    assert abs(common.overhead_pct(curved)) < 0.5 * abs(
        common.overhead_pct(curved[:5])), "flipped blocks must cancel curvature"
    assert common.overhead_pct([9.0, 5.0, 6.0, None, 5.0, 6.0, 5.0, 5.0, 6.0]) == 20.0

    spans = [
        {"id": 0, "name": "outer", "start": 0.0, "end": 10.0, "parent": None, "rid": 1},
        {"id": 1, "name": "inner", "start": 2.0, "end": 5.0, "parent": 0, "rid": 1},
        {"id": 2, "name": "inner", "start": 4.0, "end": 6.0, "parent": 0, "rid": 1},
    ]
    st = common.self_times(spans)
    assert st["outer"] == [6.0] and st["inner"] == [3.0, 2.0], st

    digest = lambda d: hashlib.sha256(  # noqa: E731
        b"".join(open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in query_mix.TABLES)
    ).hexdigest()
    gen = lambda tmp, d, seed: querydata.generate(  # noqa: E731
        os.path.join(tmp, d), seed, 0.001, query_mix.TABLES
    )
    with tempfile.TemporaryDirectory(dir=common.ROOT) as tmp:
        a, b, c = digest(gen(tmp, "a", 7)), digest(gen(tmp, "b", 7)), digest(gen(tmp, "c", 8))
        import pyarrow.parquet as pq

        keys = pq.read_table(os.path.join(tmp, "a", "lineitem.parquet"),
                             columns=["l_orderkey", "l_linenumber"]).to_pylist()
    assert a == b != c, "seeded inputs must repeat per seed and differ across seeds"
    pairs = {(k["l_orderkey"], k["l_linenumber"]) for k in keys}
    assert len(pairs) == len(keys), "(l_orderkey, l_linenumber) must be a key"

    from tools.oracle_check import compare

    assert compare("q", [(1, "x")], ["a", "b"], [(1, "x")], ["a", "b"]) == []
    assert compare("q", [(1, "x")], ["a", "b"], [(1, "y")], ["a", "b"]) != []
    print("unit checks: ok")


def workload_checks() -> None:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(common.PERFBENCH_DIR, "run.py"),
                "--workload", workload, "--seed", "3", "--seconds", "2",
                "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            assert proc.returncode == 0, proc.stderr[-3000:]
            line = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(line) == {"correct", "attempted", "failed", "metrics"}, line
            assert line["correct"] is True and line["attempted"] >= 1, line
            want = spec["per_layer"] if trace else spec["end_to_end"]
            assert set(line["metrics"]) == {m["name"] for m in want}, line["metrics"]
            for m in want:
                got = line["metrics"][m["name"]]
                assert got["unit"] == m["unit"] and math.isfinite(got["value"]), (m, got)
            detail_path = os.path.join(common.OUT_DIR, f"{workload}-s3-t{trace}.json")
            with open(detail_path) as f:
                detail = json.load(f)
            assert detail["checked"] > 0 and detail["wrong"] == 0, detail_path
            if trace:
                assert set(run.LAYERS[workload]) <= set(detail["layers"]), detail["layers"]
                assert detail["spans"], "traced run recorded no spans"
            print(f"{workload} trace={trace}: ok "
                  f"(attempted {line['attempted']}, failed {line['failed']})")


if __name__ == "__main__":
    unit_checks()
    workload_checks()
    print("selftest: ok")
