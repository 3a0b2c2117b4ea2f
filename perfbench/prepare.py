"""One-time model preparation: train the engine's two GBT pipelines with
its public ``trained_models`` and save them with ``save_models`` into a
directory the benchmark owns. Cold training takes about a minute, so it
happens once per checkout; every run then boots the way the reference
app does, ``load_models`` -> ``ScoringService``.

Run as ``python -m perfbench.prepare <out_dir>`` (``run.py`` does this
when the models are missing, under a lock).
"""

from __future__ import annotations

import fcntl
import os
import shutil
import sys
import time

from perfbench import common

_DONE = "_done"


def ensure_models(deadline: float) -> str:
    """Return the models dir, training it first if absent. Concurrent
    runs in one checkout serialise on a lock; the dir is published by
    rename, so a half-written model dir is never used."""
    os.makedirs(common.BUILD_DIR, exist_ok=True)
    with open(os.path.join(common.BUILD_DIR, "models.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(common.MODELS_DIR, _DONE)):
            return common.MODELS_DIR
        run_dir = common.make_run_dir("prepare")
        staging = os.path.join(run_dir, "models")
        proc = common.spawn("prepare", [staging], run_dir, ui=False)
        code = common.reap(proc, deadline - time.time())
        if code != 0:
            raise RuntimeError(f"model preparation failed (exit {code})")
        shutil.rmtree(common.MODELS_DIR, ignore_errors=True)
        os.rename(staging, common.MODELS_DIR)
        shutil.rmtree(run_dir, ignore_errors=True)
        return common.MODELS_DIR


def main(out_dir: str) -> None:
    from nfl_predictions_spark.ml.pipeline import save_models
    from nfl_predictions_spark.ml.queries import trained_models
    from nfl_predictions_spark.session import get_spark

    spark = get_spark("perfbench-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        save_models(*trained_models(spark), out_dir)
    finally:
        spark.stop()
    with open(os.path.join(out_dir, _DONE), "w") as f:
        f.write("ok")


if __name__ == "__main__":
    main(sys.argv[1])
