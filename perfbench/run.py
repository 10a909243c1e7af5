"""Benchmark entry point.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. This launcher owns the per-run
sandbox and the memory reading; ``worker.py`` does the measuring:

- Sandbox: a fresh directory under ``.perfbench-sandbox/`` holds the
  run's TMPDIR, Spark local dirs, warehouse, engine scratch and
  generated inputs. It is deleted at exit, so no replay-prep, shard or
  format cache survives from one run to the next.
- The worker runs in a new session. Every process of the run (the
  driver Python process, the JVM, the Python workers) is in that
  session; PSS is summed over it every ``PSS_INTERVAL_S`` seconds and
  the peak is ``peak_pss_mb``. At exit any process left in the session
  is killed and reaped before the launcher returns.
- The last stdout line is the result JSON. Exit status 0 only when the
  outputs were checked correct and no operation failed; on a crash or
  timeout nothing is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

T0 = time.time()
PSS_INTERVAL_S = 0.5
WORKER_TIMEOUT_S = 170.0
# JVM heap cap for the run (the engine's local default is 12g).
DRIVER_MEM = "2g"

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402


class PeakPss(threading.Thread):
    """Samples the session's total PSS at a fixed interval, until the
    worker marks the end of measurement (its oracle checks follow)."""

    def __init__(self, sid: int, marker: str):
        super().__init__(daemon=True)
        self.sid = sid
        self.marker = marker
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(PSS_INTERVAL_S) and not os.path.exists(self.marker):
            parts = procstat.tree_pss_parts_mb(self.sid)
            total = sum(parts.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_parts = total, parts

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _reap_session(sid: int) -> None:
    """Kill every process still in the run's session and wait until
    none is left."""
    deadline = time.time() + 20.0
    while time.time() < deadline:
        members = procstat.session_members(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} did not exit")


def _terminate(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated launcher still reaps the run's processes (finally below);
    # a second SIGTERM must not cut that clean-up short.
    signal.signal(signal.SIGTERM, _terminate)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "table_demo_spark")):
        print("perfbench: run from the root of a checkout", file=sys.stderr)
        return 2

    sandboxes = os.path.join(root, ".perfbench-sandbox")
    os.makedirs(sandboxes, exist_ok=True)
    sandbox = tempfile.mkdtemp(prefix="run-", dir=sandboxes)
    for sub in ("tmp", "spark-local", "scratch", "data"):
        os.makedirs(os.path.join(sandbox, sub))
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(sandbox, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(sandbox, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=root,
        PYTHONDONTWRITEBYTECODE="1",
        # Every JVM of the run (spark-submit's launcher too) keeps its
        # temp files in the sandbox and writes no hsperfdata.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(sandbox, 'tmp')} -XX:-UsePerfData",
        PERFBENCH_T0=repr(T0),
    )
    env.pop("OMP_NUM_THREADS", None)
    result_path = os.path.join(sandbox, "result.json")
    measured_flag = os.path.join(sandbox, "measured")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", repr(args.seconds),
        "--trace", str(args.trace),
        "--sandbox", sandbox,
        "--out", result_path,
        "--measured", measured_flag,
    ]
    proc = subprocess.Popen(
        cmd, env=env, cwd=root, stdout=sys.stderr, start_new_session=True
    )
    sampler = PeakPss(proc.pid, measured_flag)
    sampler.start()
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
        print("perfbench: worker timed out", file=sys.stderr)
    finally:
        sampler.stop()
        _reap_session(proc.pid)
        proc.wait()
        result = None
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
        shutil.rmtree(sandbox, ignore_errors=True)
        try:
            os.rmdir(sandboxes)
        except OSError:
            pass  # another run's sandbox is still there
    if result is None:
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 1

    print(f"perfbench: peak PSS parts (MB): {sampler.peak_parts}", file=sys.stderr)
    if not args.trace:
        result["metrics"]["peak_pss_mb"] = {"value": sampler.peak_mb, "unit": "MB"}
    for name, m in result["metrics"].items():
        extra = f"  ({m['samples']} samples)" if "samples" in m else ""
        print(f"{name:<48} {m['value']:>14} {m['unit']}{extra}")
    for m in result["metrics"].values():
        m.pop("samples", None)
    print(json.dumps(result))
    ok = result["correct"] and result["failed"] == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
