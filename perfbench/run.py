"""Benchmark launcher: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 25 --trace 0

It pins the Spark environment, starts the engine server process
(perfbench/server.py), waits until it is ready (that wait is `setup_s`),
runs the seeded load generator process (perfbench/generator.py) against
it over pgwire, stops the server and prints a summary followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the server wraps the
engine's layer entry points and the metrics are the per-layer ones.

Everything it writes goes under .perfbench_work/ in the checkout; the run's
work directory is removed at exit, a traced run's spans file is kept.
NOTES.md explains the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

WORKLOADS = ("ingest", "serve")
READY_TIMEOUT_S = 150.0
STOP_TIMEOUT_S = 60.0
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def spark_env(cores: str, driver_memory: str, work: str, trace: bool) -> dict:
    """The server's pinned Spark environment."""
    n = str(len(os.sched_getaffinity(0))) if cores == "nproc" else cores
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        # the serial collector grows the heap only as live data needs it, so
        # peak RSS follows what the engine holds rather than GC pacing
        f"spark.driver.extraJavaOptions=-XX:+UseSerialGC -Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData",
    ]
    if trace:  # keep every job of the run for the per-statement counts
        conf += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": n,
        "SPARK_GRAFT_DRIVER_MEM": driver_memory,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c!r}" if " " in c else f"--conf {c}"
                                        for c in conf) + " pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
    })
    return env


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over `pid` and its descendants."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def children_map() -> dict[int, list[int]]:
    """parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(pid: int) -> list[int]:
    children, out, todo = children_map(), [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process, so that
    `end_descendants` can end and reap every one of them: the JVM outlives
    the server's Python when both are killed, and the PySpark worker daemon
    moves itself into a process group of its own, out of reach of the
    server's `killpg`."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_descendants(timeout: float = 30.0) -> None:
    """Kill every process this one started, directly or not, and reap each
    until none is left."""
    deadline = time.monotonic() + timeout
    while True:
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return  # no child, so (as subreaper) no descendant, left
        if time.monotonic() > deadline:
            raise RuntimeError("child processes did not end in time")
        time.sleep(0.05)


def stop_on_signal(signum, _frame) -> None:
    """SIGTERM / SIGHUP end the run through its cleanup, as Ctrl-C does."""
    raise SystemExit(128 + signum)


def pct(values: list[float], p: int) -> float:
    """The p-th percentile (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Server:
    """The engine server process (perfbench/server.py) in its own process
    group, with its JVM."""

    def __init__(self, script: str, argv: list[str], work: str, env: dict):
        self.work = work
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", script), "--workdir", work, *argv],
            cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def wait_line(self, word: str, timeout: float) -> str:
        """The rest of the first stdout line that starts with `word`."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"no {word} from the engine process in time") from None
            if line is None:
                raise RuntimeError(f"engine process exited before {word}")
            if line.split(None, 1)[:1] == [word]:
                return line[len(word):].strip()

    def stop(self) -> dict:
        """Ask the process for its report, then end it; returns the report."""
        self.proc.stdin.write("stop\n")
        self.proc.stdin.flush()
        self.wait_line("REPORTED", STOP_TIMEOUT_S)
        self.kill()
        with open(os.path.join(self.work, "server_report.json")) as f:
            return json.load(f)

    def kill(self) -> None:
        """End the whole process group (Python and JVM) and reap it."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.log.close()

    def log_tail(self, n: int = 30) -> str:
        with open(os.path.join(self.work, "server.log")) as f:
            return "".join(f.readlines()[-n:])


def write_preload(stream, work: str) -> None:
    for table, rows in stream.preload.items():
        with open(os.path.join(work, f"{table}.csv"), "w") as f:
            f.writelines(",".join(map(str, r)) + "\n" for r in rows)


def run_workload(args, work: str) -> tuple[dict, dict]:
    """Server + generator run of one workload: (generator result,
    launcher-side figures incl. the server report)."""
    from perfbench.workload import StatementStream

    write_preload(StatementStream(args.seed), work)
    env = spark_env(args.cores, args.driver_memory, work, bool(args.trace))
    t0 = time.perf_counter()
    server = Server("server.py", ["--trace", str(args.trace)], work, env)
    gen = None
    try:
        port = json.loads(server.wait_line("READY", READY_TIMEOUT_S))["port"]
        setup_s = time.perf_counter() - t0
        out = os.path.join(work, "generator.json")
        gen = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "generator.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--port", str(port), "--out", out],
            cwd=ROOT, env={**os.environ, "PYTHONPATH": ROOT, "TMPDIR": env["TMPDIR"]},
        )
        if gen.wait(timeout=args.seconds + 120) != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(out) as f:
            res = json.load(f)
        rss = tree_peak_rss_mb(server.proc.pid)
        report = server.stop()
        if args.trace:  # the spans outlive the work directory
            os.replace(os.path.join(work, "spans.jsonl"), work + ".spans.jsonl")
    except Exception:
        print(server.log_tail(), file=sys.stderr)
        raise
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        server.kill()
    return res, {"setup_s": setup_s, "peak_rss_mb": rss, **report}


def gated() -> list[str]:
    """The end-to-end metrics BENCHMARK.json gates; the others are printed only."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["end_to_end"]]


def end_to_end(res: dict, side: dict) -> dict[str, tuple[float, str]]:
    out = {
        "setup_s": (side["setup_s"], "s"),
        "freshness_ms_p50": (statistics.median(res["freshness_ms"]), "ms"),
        "freshness_ms_mean": (statistics.fmean(res["freshness_ms"]), "ms"),
        "read_ms_p50": (statistics.median(res["read_ms"]), "ms"),
        "read_ms_p75": (pct(res["read_ms"], 75), "ms"),
        "read_ms_p90": (pct(res["read_ms"], 90), "ms"),
        "read_ms_mean": (statistics.fmean(res["read_ms"]), "ms"),
        "read_capacity_qps": (res["read_capacity_qps"], "reads/s"),
        "peak_rss_mb": (side["peak_rss_mb"], "MiB"),
    }
    if res.get("open_read_ms"):  # serve: reads of the open loop, timed from due
        for p in (50, 75, 90):
            out[f"open_read_ms_p{p}"] = (pct(res["open_read_ms"], p), "ms")
    if "write_s" in res:  # ingest: rows changed per second of its write loop
        out["ingest_rows_per_s"] = (res["rows"] / res["write_s"], "rows/s")
    return out


def per_layer(res: dict, side: dict) -> dict[str, tuple[float, str]]:
    out = {}
    for name, v in side["layers"].items():
        unit = ("ms" if name.endswith(("_ms", "_p50", "_p90")) else
                "ratio" if name.endswith("_ratio") else "count")
        out[name] = (v, unit)
    out["mv.state_bytes"] = (float(side["state_bytes"]), "bytes")
    out["mv.state_files"] = (float(side["state_files"]), "count")
    out["generator.lateness_ms_max"] = (res["lateness_ms_max"], "ms")
    # the traced run's own end-to-end figures, to set against untraced runs
    out["trace.freshness_ms_mean"] = (statistics.fmean(res["freshness_ms"]), "ms")
    out["trace.read_ms_p50"] = (statistics.median(res["read_ms"]), "ms")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", default="nproc",
                    help="Spark local[N] cores; 'nproc' = CPUs this process may use")
    ap.add_argument("--driver-memory", default="2g")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "risingwave_spark", "api.py")):
        print("perfbench: run from the root of a checkout of the engine "
              "(no risingwave_spark/ here)", file=sys.stderr)
        return 2

    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, stop_on_signal)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        res, side = run_workload(args, work)
    finally:
        end_descendants()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        shown = metrics = per_layer(res, side)
    else:
        shown = end_to_end(res, side)
        metrics = {k: shown[k] for k in gated()}
    attempted, failed = res["attempted"], res["failed"]
    for e in res["errors"]:
        print(f"# error: {e}")
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}: "
          f"{res['statements']} statements, {len(res['read_ms'])} closed-loop reads, "
          f"error_rate={failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    for name, (v, unit) in shown.items():
        print(f"# {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
