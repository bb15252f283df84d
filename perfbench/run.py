"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload search_solo --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout (the directory holding
`quickwit_spark/` and `BENCHMARK.json`). The run itself happens in a
child process (`perfbench/worker.py`) placed in its own session: this
supervisor samples the resident memory (Pss) of every process in that
session (the Python driver, the JVM and the Spark Python workers) for
`peak_rss_mb`, and when the child exits it stops whatever is left of the
session and waits until it is gone. All scratch files go under
`.perfbench_work/` in the checkout and are removed at the end.

The last line of standard output is the result object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`). The line before it (starting with `# context`) carries
the host context: core count, load averages, host loop speed, library
versions, seed, corpus size, segment count, the tail percentile and any
answer mismatches.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RUN_TIMEOUT_S = 170


def session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, session, ...; a zombie holds no memory
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def session_memory(sid: int) -> dict[str, list[int]]:
    """Per command name (java, python3, ...): the proportional set size
    in bytes of each process of the session. Pss splits a page shared
    by n processes n ways, so forked Python workers do not count their
    parent's pages again."""
    out: dict[str, list[int]] = {}
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out.setdefault(comm, []).append(pss * 1024)
    return out


class MemorySampler(threading.Thread):
    """Samples the session's memory until `done` is set; keeps the peak
    total and how it was made up."""

    def __init__(self, sid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.peak = 0
        self.peak_parts: dict = {}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            mem = session_memory(self.sid)
            total = sum(sum(v) for v in mem.values())
            if total > self.peak:
                self.peak = total
                self.peak_parts = {
                    comm: {"processes": len(v), "mb": round(sum(v) / 2**20, 1)}
                    for comm, v in mem.items()
                }
            self.done.wait(self.period)


def stop_session(sid: int, grace: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; return
    once none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace
        while session_pids(sid) and time.monotonic() < deadline:
            try:
                os.killpg(sid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.2)
        if not session_pids(sid):
            return


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--trace-out", help="write the traced run's spans and counters here (JSON)"
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "quickwit_spark", "__init__.py")):
        print(f"perfbench: no quickwit_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_benchmark()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        QWS_DRIVER_MEM="1g",
        PYTHONPATH=ROOT,
    )
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    if args.trace_out:
        cmd += ["--trace-out", os.path.abspath(args.trace_out)]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, start_new_session=True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    sampler = MemorySampler(proc.pid)
    sampler.start()
    log: list[str] = []
    reader = threading.Thread(target=lambda: log.extend(proc.stdout), daemon=True)
    reader.start()
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        sampler.done.set()
        sampler.join()
        stop_session(proc.pid)
        proc.wait()
        reader.join(timeout=5)
    try:
        with open(result_path) as f:
            result = json.load(f)
    except (OSError, json.JSONDecodeError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        sys.stderr.write("".join(log[-60:]))
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1

    context = result.pop("context")
    context["peak_rss_mb"] = sampler.peak / 2**20
    context["peak_rss_parts"] = sampler.peak_parts
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": sampler.peak / 2**20, "unit": "MB"}
    expected = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in expected if m not in result["metrics"]]
    if missing:
        print(f"perfbench: metrics missing from the run: {missing}", file=sys.stderr)
        return 1
    result["metrics"] = {m: result["metrics"][m] for m in expected}
    bad = [m for m, v in result["metrics"].items() if not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: metrics without a finite value: {bad}", file=sys.stderr)
        return 1
    print("# context " + json.dumps(context, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
