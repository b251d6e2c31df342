#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

Run it from anywhere inside a checkout of the repository. Generated
inputs, shards, event logs and span files go under ``.perfbench_work/``
at the checkout root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("training_pipeline", "query_mix")


def isolate(run_dir: str) -> None:
    """Point the Python workers at the repository and keep every
    temporary file of this run under ``run_dir``. Workers are separate
    processes: they see ``PYTHONPATH``, not this process's sys.path."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local")):
        os.environ[var] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ.pop("SIFT_SPARK_MASTER", None)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    to init: the Python worker daemon outlives the JVM that forked it,
    and this process must still be able to wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Live (not zombie) descendants of this process, from /proc."""
    children: dict[int, list[int]] = {}
    state: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        state[int(entry)] = fields[0]
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [os.getpid()]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return [p for p in out if state.get(p) != "Z"]


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark() -> None:
    """Stop the session and end the gateway JVM: it exits on EOF on its
    stdin, which is otherwise only closed when this process exits."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:  # the JVM may already be gone
            log(f"stopping the session: {e!r}")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def stop_descendants(grace: float = 10.0) -> None:
    """Wait until every process this run started has ended: first for
    them to exit by themselves (the worker daemon exits when the JVM
    has), then with SIGTERM, then with SIGKILL."""
    start = time.monotonic()
    sig = None
    while True:
        reap()
        live = descendants()
        if not live:
            return
        waited = time.monotonic() - start
        want = None if waited < grace else signal.SIGTERM if waited < 2 * grace else signal.SIGKILL
        if want is not None:
            if want != sig:
                log(f"sending {want.name} to leftover processes {live}")
            sig = want
            for pid in live:
                try:
                    os.kill(pid, want)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="steady-pass time to measure after the cold pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: report per-layer metrics instead of end-to-end ones")
    ap.add_argument("--scale", type=float, default=0.1,
                    help="input scale factor (0.1 matches the sf0.1 test corpus)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sift_spark", "__init__.py")):
        print(f"perfbench: no sift_spark package in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(run_dir)
    become_subreaper()
    # on SIGTERM, unwind through the clean-up below as on any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    from harness import Run

    try:
        result = Run(args, ROOT, run_dir, WORK).run()
    finally:
        stop_spark()
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
