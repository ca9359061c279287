"""Crawl-engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The run's Spark work happens in one child
process with a fresh JVM (perfbench/crawl.py). With `--trace 0` it
reports end-to-end metrics; with `--trace 1` it reports per-layer
metrics from a traced pass and writes its spans to .perfbench/spans/.
The last line of stdout is the JSON result. The child raises on any
oracle mismatch, so a failed run prints no result and exits non-zero.
Scratch files live under .perfbench/ and are deleted at the end.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("fresh-crawl", "recrawl")
# a run must end within 180 s; leave room for clean-up
DEADLINE_S = 170


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGKILL what is left of a child's process group (its JVM and
    Python workers) and wait until all of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_child(args, work: str, spans_dir: str, deadline: float) -> dict:
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "crawl.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--spans-dir", spans_dir,
        "--out", out,
    ]
    root = os.getcwd()
    env = dict(
        os.environ,
        # Python workers start in other directories and must find the package
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    # the child's stdout goes to our stderr: our stdout carries the result
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    if code != 0:
        raise RuntimeError(f"crawl process {'timed out' if code is None else f'exited {code}'}")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # turn SIGTERM into SystemExit so the child's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gepris_spark", "streaming", "microbatch.py")):
        print("perfbench: run from the repository root (gepris_spark/ not found)", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    spans_dir = os.path.join(base, "spans")
    try:
        res = run_child(args, work, spans_dir, deadline)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = res["metrics"]
    for name, m in out.items():
        print(f"{name:32s} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        tail = res["tail"]
        n = len(res["batch_s"])
        print(
            f"{'batch_s.tail':32s} "
            + (f"{tail[1]:.6g} s (p{tail[0]}, n={n})" if tail else f"n/a (n={n} batches)")
        )
        print(f"{'batch_fail_ratio':32s} {res['failed'] / res['attempted']:.6g} ratio")
    print(
        json.dumps(
            {
                "correct": True,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
