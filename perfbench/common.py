"""Shared pieces of the benchmark: checkout paths, per-run isolation,
the span recorder, percentiles, memory and process-tree bookkeeping.

Nothing here imports pyspark: the orchestrator (``run.py``) and the HTTP
client start no JVM; the Spark-side worker processes import it too.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

PERFBENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERFBENCH_DIR)
#: everything the benchmark builds or leaves behind lives under these
#: two checkout-local directories (both ignored by git)
BUILD_DIR = os.path.join(ROOT, ".perfbench_build")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
MODELS_DIR = os.path.join(BUILD_DIR, "models")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def engine_present() -> bool:
    """The benchmark measures the engine of the checkout it runs in;
    without it there is nothing to measure."""
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("nfl_predictions_spark/api.py", "__spark_entry__.py", "bench.py")
    )


def make_run_dir(tag: str) -> str:
    """A private, empty directory per run. It holds the run's TMPDIR and
    SPARK_LOCAL_DIRS, so every engine store under ``tempfile`` starts
    cold, and nothing an earlier process staged can leak in."""
    run = os.path.join(BUILD_DIR, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run, sub))
    return run


def worker_env(run_dir: str, ui: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        TMPDIR=tmp,
        # the JVM's temp files go to the private TMPDIR too, and no
        # hsperfdata file lands in /tmp
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # session.py defaults to 32 cores; size the session to the host
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_UI="true" if ui else "false",
        PYTHONPATH=ROOT,
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / 1e6


# -- processes ----------------------------------------------------------------


def spawn(module: str, args: list[str], run_dir: str, ui: bool, **kw) -> subprocess.Popen:
    """Start ``python -m perfbench.<module>`` in its own process group,
    with the run's private environment and the run's work dir as cwd
    (Spark drops ``spark-warehouse``/``derby.log`` into its cwd). Its
    output goes to ``.perfbench_out/<run tag>.log``."""
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = os.path.basename(run_dir).rsplit("-", 1)[0]
    with open(os.path.join(OUT_DIR, f"{tag}.log"), "a") as log:
        return subprocess.Popen(
            [sys.executable, "-m", f"perfbench.{module}", *args],
            cwd=os.path.join(run_dir, "work"),
            env=worker_env(run_dir, ui),
            start_new_session=True,
            stdout=log,
            stderr=log,
            **kw,
        )


def _group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def reap(proc: subprocess.Popen, timeout: float) -> int | None:
    """Wait for a worker, then kill and wait out anything left in its
    process group (the JVM and Python workers it started). Returns the
    worker's exit code, or None if it had to be killed."""
    try:
        code = proc.wait(timeout=max(0.1, timeout))
    except subprocess.TimeoutExpired:
        code = None
    try:
        os.killpg(proc.pid, signal.SIGKILL if code is None else signal.SIGTERM)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while _group_members(proc.pid) and time.time() < deadline:
        time.sleep(0.1)
    for pid in _group_members(proc.pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return code


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process plus its JVM
    child, from /proc."""

    def hwm(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    kb = hwm(os.getpid())
    me = str(os.getpid())
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
            if rest.split()[1] == me and head.endswith("(java"):
                kb += hwm(int(name))
        except OSError:
            continue
    return kb / 1024


# -- statistics ----------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (inclusive); ``inf`` entries count as
    missing every limit, so a failed operation lands in the top tail."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == float("inf"):
        return xs[hi] if pos > lo else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


#: a traced run's first operation, the coldest, is untraced and left
#: out of the overhead comparison
WARM_OPS = 1
#: after it come blocks of four operations, alternately untraced,
#: traced, traced, untraced and traced, untraced, untraced, traced. In
#: each block the traced and the untraced pair have the same mean
#: position and one odd and one even operation each, so a warming trend
#: and an every-other-operation rhythm (seen in stream replays) cancel;
#: the flipped order of every second block cancels the curvature of the
#: warming trend
TRACED_BLOCKS = 2


def traced_min_ops(blocks: int = TRACED_BLOCKS) -> int:
    """Operations a traced run times at least, for ``blocks`` blocks."""
    return WARM_OPS + 4 * blocks


def traced_at(k: int) -> bool:
    """Whether a traced run traces its ``k``-th timed operation."""
    if k < WARM_OPS:
        return False
    block, pos = divmod(k - WARM_OPS, 4)
    return (pos in (1, 2)) == (block % 2 == 0)


def overhead_pct(times: list) -> float:
    """Tracing overhead in %: the median over complete blocks (see
    ``TRACED_BLOCKS``) of the traced pair's mean time against the
    untraced pair's. ``None`` times (failed operations) are skipped."""
    pcts = []
    for b in range(WARM_OPS, len(times) - 3, 4):
        block = [(times[k], traced_at(k)) for k in range(b, b + 4) if times[k] is not None]
        on = [x for x, t in block if t]
        off = [x for x, t in block if not t]
        if on and off:
            base = sum(off) / len(off)
            pcts.append((sum(on) / len(on) - base) / base * 100)
    return quantile(pcts, 0.5)


# -- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent id,
    request id); spans are written out once, at the end of the run.
    Times are ``time.monotonic()`` — one system-wide clock, so spans from
    the client and the service process line up."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()

    def current(self):
        return getattr(self._local, "stack", [None])[-1]

    def start(self, name: str, rid=None) -> dict:
        stack = self._local.__dict__.setdefault("stack", [None])
        parent = stack[-1]
        span = {
            "id": len(self.spans),
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
        }
        self.spans.append(span)
        stack.append(span)
        return span

    def finish(self, span: dict) -> None:
        span["end"] = time.monotonic()
        self._local.stack.pop()

    def wrap(self, fn, name: str, enabled=lambda *a, **k: True):
        """Wrap ``fn`` so each call is a span (a child of the current
        span, sharing its request id). ``enabled(*args, **kwargs)``
        decides per call whether to record; other calls pass through."""
        tracer = self

        def wrapper(*args, **kwargs):
            if not enabled(*args, **kwargs):
                return fn(*args, **kwargs)
            span = tracer.start(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.finish(span)

        wrapper.__wrapped__ = fn
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, list[float]]:
    """Per span name, each span's self time in seconds: its duration
    minus the part of its interval its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, list[float]] = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
    return out


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


# -- Spark status REST API (traced runs turn the UI on) -----------------------


def rest(spark, what: str) -> list[dict]:
    """``/api/v1/applications/<app>/<what>`` of this session's UI."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{what}", timeout=30) as r:
        return json.load(r)


def submitted_at(job: dict) -> float:
    """A REST job's submission time as epoch seconds."""
    import datetime

    stamp = job["submissionTime"].replace("GMT", "+0000")
    return datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def jobs_between(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    """Jobs submitted inside the wall-clock window [t0, t1]. Windows are
    phases the benchmark ran one after another, so this attributes every
    job to exactly one phase (REST times have millisecond resolution)."""
    return [j for j in jobs if t0 - 0.001 <= submitted_at(j) <= t1 + 0.001]


def tasks_run(job: dict) -> int:
    return int(job["numTasks"]) - int(job.get("numSkippedTasks", 0))
