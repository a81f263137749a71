"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_filter --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a source checkout.  The run sets up several times
and reports the median set-up time, measures whole calls of the
user-facing command for ``--seconds`` seconds, checks every call's
output, and prints one JSON object as the last line of standard output.
With ``--trace 1`` it instead re-executes the workload layer by layer
under spans and Spark's event log, writes the spans and per-layer
metrics under ``.perfbench/trace/``, and prints the per-layer metrics.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mysql_data_quality_spark" / "__init__.py"
SETUP_REPS = 2
CORES = 4
#: a tail needs this many samples beyond it
TAIL_MARGIN = 10
#: stop after this many calls even if they are all fast
MAX_CALLS = 1000


T0 = time.perf_counter()


def note(msg: str) -> None:
    """Progress line on stderr, with seconds since start."""
    print(f"perfbench [{time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work``, and let the Python
    workers that Spark forks import the package from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)


def start_session(work: Path, event_log: Path | None = None):
    from mysql_data_quality_spark.core.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the driver JVM and
    the Python workers it forked (the benchmark process itself, which
    holds the generator and the oracle, is left out)."""
    total_kb = 0
    for pid in _descendants():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_all(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    pids = _descendants()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """Running and not a zombie waiting to be reaped."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def tail_rank(n: int) -> int:
    """0-based rank of the highest sample that has TAIL_MARGIN samples
    above it (the maximum when there are too few samples)."""
    return n - 1 - TAIL_MARGIN if n > TAIL_MARGIN else n - 1


def measure(wl, seconds: float, call) -> dict:
    """Call ``wl`` back to back until the timed calls add up to
    ``seconds`` (at least one call); the untimed checks between calls
    do not count."""
    samples, attempted, failed = [], 0, 0
    while sum(samples) < seconds and attempted < MAX_CALLS:
        attempted += 1
        try:
            dt, ok = call(wl)
        except Exception as e:  # a failed call is a result, not a crash
            print(f"perfbench: call failed: {e!r}", file=sys.stderr)
            failed += 1
            break  # the state a raising call leaves is not worth timing
        samples.append(dt)
        failed += not ok
        note(f"call {attempted}: {dt:.3f}s ok={ok}")
    if not samples:
        raise RuntimeError("every measured call failed")
    srt = sorted(samples)
    return {
        "attempted": attempted,
        "failed": failed,
        "samples": srt,
        "p50": statistics.median(srt),
        "tail": srt[tail_rank(len(srt))],
    }


def run(args, wl, work: Path) -> dict:
    """Set up, then measure (or trace); every process is stopped before
    this returns or raises."""
    from perfbench import layers
    from perfbench.workloads import call

    spark = None
    event_log = work / "eventlog" if args.trace else None
    try:
        setup_s = []
        for _ in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(work, event_log)
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
            note(f"set-up {len(setup_s)}: {setup_s[-1]:.2f}s")
        if args.trace:
            traced = layers.traced_run(wl, spark, args, ROOT / ".perfbench")
        else:
            m = measure(wl, args.seconds, call)
            rss = peak_rss_mb()
    finally:
        note("stopping")
        stop_all(spark)
        wl.close()
        note("stopped")
    if args.trace:
        return layers.finish_trace(traced, event_log)
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-{args.seed}.json").write_text(
        json.dumps({"increment_s.p50": m["p50"], "samples": m["samples"]})
    )
    n = len(m["samples"])
    print(
        f"# {args.workload}: {n} calls, tail = sample {tail_rank(n) + 1}"
        f" of {n} ascending; failed_frac "
        f"{m['failed'] / m['attempted']:.4f} ratio"
    )
    return {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {
            "docs_per_s": (
                wl.n_docs * len(m["samples"]) / sum(m["samples"]), "docs/s"
            ),
            "increment_s.p50": (m["p50"], "s"),
            "increment_s.tail": (m["tail"], "s"),
            "setup_s": (statistics.median(setup_s), "s"),
            "peak_rss_mb": (rss, "MB"),
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE.is_file():
        die(f"no package at {PACKAGE.parent}: run from a source checkout")
    if args.seconds <= 0:
        die("--seconds must be positive")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare_env(work)
        result = run(args, WORKLOADS[args.workload](work, args.seed), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
