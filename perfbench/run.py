"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_hourly --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts one ``local[nproc]`` SparkSession through the program's
``get_spark``, warms up, measures the workload's closed loop for
``--seconds``, checks the program's outputs, and prints one JSON object as
the last line of standard output::

    {"correct": true, "attempted": 57, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the program's public functions are wrapped in spans and the metrics are the
per-layer ones (see README.md in this directory). A ``report:`` line before
it carries the workload's own named metrics, the run's environment and any
errors. All run state lives in a fresh directory inside the checkout that
is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import Ops, PeakRss, descendants, median  # noqa: E402
from workloads import PER_LAYER, WORKLOADS, Ctx  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "stored_bytes_per_row": "B/row",
}


# The session's JVM heap. The program's default (16g) is sized for large inputs;
# these inputs need far less, and a smaller heap keeps the benchmark's
# footprint small on a host it shares.
JVM_HEAP = "2g"
# Set-up, warm-up, the last operation past the deadline and the checks must
# fit in this many seconds beyond --seconds, or the run is aborted.
RUN_SLACK_S = 140


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not a.seconds > 0:
        ap.error("--seconds must be positive")
    return a


def _program_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "rxlan_aws_lakehouse_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def _isolate(work: str) -> int:
    """Point every scratch location of the session and its workers into
    ``work``, make the program importable by Python workers, and pin the
    session to this machine's CPUs. Returns the CPU count."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(work, "scratch")
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["TZ"] = "UTC"
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    os.chdir(work)
    return cpus


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait for the JVM and
    every other process this run started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    _kill_tree()


class RunTimeout(BaseException):
    """The run outlived its time limit. A BaseException, so that neither the
    failure accounting (``Ops`` catches ``Exception``) nor py4j's error
    wrapping swallows it: it ends the run, through every ``finally``."""


# When the run outlives --seconds + RUN_SLACK_S, RunTimeout is raised, and
# the run kills its session's processes and removes its directory; if that
# clean-up is itself stuck for HARD_STOP_S more, the process does the same
# from the signal handler and exits at once.
HARD_STOP_S = 12
EXIT_TIMEOUT = 3


def _kill_tree() -> None:
    """Kill every process this run started and reap its children."""
    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass  # not our child: its own parent, killed too, reaps it


def _hard_stop(work: str) -> None:
    _kill_tree()
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench: clean-up after a timeout did not finish; killed", file=sys.stderr)
    os._exit(EXIT_TIMEOUT)


def _watchdog(seconds: float, work: str) -> None:
    """Raise ``RunTimeout`` in the main thread when the run outlives
    ``seconds``, then kill the run outright if the clean-up it triggers
    hangs too: a hung operation must not keep the run alive."""

    def hard(_signum, _frame):
        _hard_stop(work)

    def expire(_signum, _frame):
        signal.signal(signal.SIGALRM, hard)
        signal.alarm(HARD_STOP_S)
        raise RunTimeout(f"perfbench: run exceeded {seconds:.0f} s")

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(max(1, int(seconds)))


def _num(x: float) -> float | None:
    return None if isinstance(x, float) and math.isnan(x) else x


def main(argv=None) -> int:
    a = _args(argv)
    if not _program_present():
        print(
            "perfbench: the program (rxlan_aws_lakehouse_spark/, __spark_entry__.py) "
            f"is not in {ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    work = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    out_dir = os.path.join(HERE, "out")
    _watchdog(a.seconds + RUN_SLACK_S, work)
    try:
        cpus = _isolate(work)
        load_before = os.getloadavg()
        from spans import Tracer

        ops = Ops()
        ctx = Ctx(seed=a.seed, seconds=a.seconds, work=work, ops=ops)
        wl = WORKLOADS[a.workload]()
        wl.prepare(ctx)
        spark = None
        try:
            with PeakRss() as rss:
                t0 = time.perf_counter()
                from rxlan_aws_lakehouse_spark.session import get_spark

                spark = get_spark(f"perfbench-{a.workload}")
                spark.sparkContext.setLogLevel("ERROR")
                session_s = time.perf_counter() - t0
                ctx.spark = spark
                if a.trace:
                    ctx.tracer = Tracer(spark.sparkContext)
                res = wl.run(ctx)
        except RunTimeout:
            # the JVM gateway may be cut off mid-call and cannot be stopped
            # cleanly: kill the session's processes before the run's
            # directory is removed
            _kill_tree()
            spark = None
            raise
        finally:
            if spark is not None:
                _stop_spark(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    setup_s = session_s + res.warmup_s
    op_p50 = median(res.op_samples)
    read_p50 = median(res.read_samples)
    if a.trace:
        tr = ctx.tracer
        L = dict(res.layers)
        L["session.start_s"] = session_s
        L["session.warmup_s"] = res.warmup_s
        L["trace.op_p50_s"] = op_p50
        busy = sum(res.op_samples) + sum(res.read_samples)
        L["trace.overhead_frac"] = tr.bookkeeping_s / max(1e-9, busy)
        names = {**PER_LAYER, **wl.extra_layers}
        metrics = {k: {"value": L.get(k, 0), "unit": u} for k, u in names.items()}
        os.makedirs(out_dir, exist_ok=True)
        tr.dump(os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": op_p50,
            "read_p50_s": read_p50,
            "stored_bytes_per_row": res.stored_bytes_per_row,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    named = {"setup_s": (setup_s, "s"), **res.named, "peak_rss_mb": (rss.peak_mb, "MB")}
    named["failed_ops_frac"] = (ops.failed / max(1, ops.attempted), "ratio")
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "samples": {"op": len(res.op_samples), "read": len(res.read_samples)},
        "op_samples_s": [round(x, 4) for x in res.op_samples],
        "named": {k: {"value": _num(v), "unit": u} for k, (v, u) in named.items()},
        "params": res.params,
        "errors": ops.errors[:5],
    }
    print("report: " + json.dumps(report))
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RunTimeout as e:
        _kill_tree()
        signal.alarm(0)
        print(e, file=sys.stderr)
        sys.exit(EXIT_TIMEOUT)
