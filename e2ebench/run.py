"""End-to-end benchmark of tapes_spark on local[4].

    python3 e2ebench/run.py --workload full_submit --seed 1 --seconds 10 \
        --trace 0

Runs one workload as a closed loop with one client.  The run starts a
fresh Spark session (JVM included) and times its first pass, which is
what a one-shot ``spark-submit`` pays; that pass outlasts ``--seconds``
on its own, so a run is one pass.  The pass's outputs are checked
outside the timed window.  Prints a human report and, as the last line
of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs a discarded first pass, a traced and an untraced
pass and the per-layer probes, and reports the per-layer metrics.  Exits 1
if any output check failed, 2 if the repository is not there.
Everything the run writes stays under ``.bench_out/`` in the checkout.
See e2ebench/README.md.
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
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
# the run's time limit, counted from its start: at CANCEL_S a watchdog
# cancels the running Spark jobs, so the pass or check under way fails
# and the run shuts down; at KILL_S, if it has not exited yet, it kills
# its process tree and exits 1 without a result -- within the 180 s a run
# is allowed
CANCEL_S = 150.0
KILL_S = 172.0
# the metrics of the final JSON line; the report adds peak_rss_mb and the
# workload figures (peak memory spreads too widely between runs of the
# same code to gate on: 3.4-5.9 GB on full_submit)
END_TO_END = (("setup_s", "s"), ("pass_s", "s"))
# setup_s is the median of this many session starts, each in a new JVM;
# the pass runs in the last one
SETUP_STARTS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("full_submit", "query_reads"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Proportional resident memory of *pid* and its descendants: pages
    shared between processes (forked Python workers) are split among
    them instead of counted once per process."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), sampled from /proc every *interval* seconds while
    ``sampling`` is set.  Reading the tree's smaps_rollup takes ~40 ms of
    the driver process with an 8 GB heap reserved, so sampling more often
    would perturb the pass it measures."""

    def __init__(self, interval: float = 0.5):
        self.peak = 0
        self.samples = 0
        self.sampling = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,),
                                        daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            if self.sampling.is_set():
                self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
                self.samples += 1

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pids) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(p)
        except (OSError, IndexError):
            pass
    return out


def shutdown(spark) -> None:
    """Stop Spark and the JVM, then wait for every process this run
    started; stragglers are killed after 30 s."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    # the next get_spark in this process then launches a new JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while _alive(pids) and time.time() < deadline:
        time.sleep(0.2)
    for p in _alive(pids):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ----------------------------------------------------------------- main

def start_session(workload_cls, run_dir: str, trace: bool):
    from tapes_spark.session import get_spark
    from workloads import CORES

    tmp = os.path.join(OUT, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **workload_cls.extra_conf,
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"e2ebench-{workload_cls.name}", parallelism=CORES,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _log(msg: str) -> None:
    print(f"e2ebench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def setup_env() -> None:
    """Keep every file Spark, the JVM and Python write inside OUT, and make
    the repository and the benchmark importable."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the JVM spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # measure the driver heap the program ships (session.py's default),
    # whatever the calling shell sets
    os.environ.pop("SPARK_DRIVER_MEM", None)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def kill_tree() -> None:
    """Kill every process this run started and wait for them to end."""
    pids = descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5
    while _alive(pids) and time.time() < deadline:
        time.sleep(0.1)


def _hard_exit() -> None:
    """Last resort past KILL_S: kill every process this run started and
    exit without printing a result."""
    _log(f"no exit after {KILL_S:.0f} s: killing the process tree")
    kill_tree()
    os._exit(1)


def run(args, run_dir: str) -> dict:
    """Set up, run the workload's pass(es) and check them.  Returns the
    figures ``main`` reports."""
    from workloads import WORKLOADS

    t_run = time.perf_counter()
    cls = WORKLOADS[args.workload]
    wl = cls(run_dir, os.path.join(OUT, "cache"), args.seed)
    wl.prepare()
    unit = len(getattr(wl, "leaves", ())) or 1
    out = {"attempted": unit, "failed": unit, "errors": [], "setup_s": 0.0,
           "setup_samples": 0,
           "peak_bytes": 0, "rss_samples": 0, "layers": None,
           "samples": {}}
    rss = RssSampler()
    starts = []
    try:
        for i in range(SETUP_STARTS):
            if i:
                shutdown(spark)
                # the pass's event log is the only one the fold reads
                shutil.rmtree(os.path.join(run_dir, "eventlog"),
                              ignore_errors=True)
            t0 = time.perf_counter()
            spark = start_session(cls, run_dir, bool(args.trace))
            starts.append(time.perf_counter() - t0)
    except Exception:  # noqa: BLE001 - reported as a failed run
        rss.close()
        kill_tree()
        out["errors"] = [traceback.format_exc()]
        return out
    out["setup_s"] = statistics.median(starts)
    out["setup_samples"] = len(starts)
    _log("sessions started in " + ", ".join(f"{t:.1f}" for t in starts)
         + " s")
    watchdog = threading.Timer(CANCEL_S - (time.perf_counter() - t_run),
                               spark.sparkContext.cancelAllJobs)
    watchdog.daemon = True
    watchdog.start()
    wl.spark = spark
    tracer = None
    try:
        if args.trace:
            out["attempted"] = 3 * unit
            tracer, errors = wl.traced()
        else:
            rss.sampling.set()
            try:
                wall = wl.run_pass("p1")
            finally:
                rss.sampling.clear()
            _log(f"pass: {wall:.2f} s")
            errors = wl.check()
    except Exception:  # noqa: BLE001 - a failed pass is counted
        errors = [traceback.format_exc()]
    finally:
        watchdog.cancel()
        rss.close()
        if tracer is not None:
            tracer.dump(os.path.join(run_dir, "spans.json"))
        shutdown(spark)
        _log("processes stopped")
    out.update(samples=wl.samples(), errors=errors,
               failed=min(out["attempted"], len(errors)),
               peak_bytes=rss.peak, rss_samples=rss.samples)
    if args.trace and not errors:
        out["layers"] = wl.fold(os.path.join(run_dir, "eventlog"))
    return out


def report(res: dict) -> dict[str, tuple[float, str, int]]:
    """The human report, ``{name: (value, unit, sample count)}``."""
    samples = res["samples"]
    walls = samples.get("pass_s", [])
    out = {
        "setup_s": (res["setup_s"], "s", res["setup_samples"]),
        "pass_s": (statistics.median(walls or [0.0]), "s", len(walls)),
        "peak_rss_mb": (res["peak_bytes"] / 1e6, "MB", res["rss_samples"]),
    }
    turns = samples.get("turns", [])
    if turns and walls:
        out["turns_per_s"] = (
            statistics.median(t / w for t, w in zip(turns, walls)), "1/s",
            len(walls))
    leaves = sorted(samples.get("query_s", []))
    if leaves:
        out["query_s_p50"] = (statistics.median(leaves), "s", len(leaves))
        out["query_s_p90"] = (
            leaves[min(len(leaves) - 1, int(0.9 * len(leaves)))], "s",
            len(leaves))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "tapes_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"e2ebench: no tapes_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    setup_env()
    from workloads import per_layer_names

    run_dir = os.path.join(OUT, "runs", f"{args.workload}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    killer = threading.Timer(KILL_S, _hard_exit)
    killer.daemon = True
    killer.start()
    try:
        res = run(args, run_dir)
    finally:
        killer.cancel()
    errors, attempted, failed = res["errors"], res["attempted"], res["failed"]
    ok = not errors
    if args.trace:
        figures = {}
        metrics = {name: _metric(0.0, u) for name, u in per_layer_names()}
        for name, v in (res["layers"] or {}).items():
            metrics[name]["value"] = float(v)
    else:
        figures = report(res)
        metrics = {n: _metric(figures[n][0], u) for n, u in END_TO_END}
    for e in errors:
        print(f"e2ebench: check failed: {e}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={attempted} failed={failed} "
          f"failed_ratio={failed / max(attempted, 1):.4f}")
    for name, (v, u, n) in figures.items():
        print(f"# {name:<16} {v:12.4f} {u:<4} n={n}")
    print(json.dumps({"correct": ok, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
