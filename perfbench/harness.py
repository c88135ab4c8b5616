"""State and helpers shared by the three workloads: the Spark session
the benchmark starts, outcome counting, the timed-pass loop, peak RSS,
and cleanup of everything the run started."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from .tracing import Tracer

CORES = 4  # every workload is sized for local[4]


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Bench:
    """One benchmark run. Workloads fill ``e2e`` (end-to-end metrics),
    ``layer`` (per-layer metrics, traced runs only) and ``info``
    (parameters and sample counts, printed to standard error), and
    count every checked operation through :meth:`record`."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.run_dir = os.path.join(work, "runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        # off until the traced part of a traced run begins, so that
        # everything before it runs exactly as in an untraced run
        self.tracer = Tracer(False)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed, "seconds": seconds}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.children: list[subprocess.Popen] = []

    # -- session ---------------------------------------------------------
    def start_spark(self, cores: int = CORES, event_log: bool = False):
        """Start the session through ``session.get_spark``; returns its
        start time in seconds. Scratch space stays inside the run dir."""
        from flink_assignment_spark.session import get_spark

        conf = {
            "spark.local.dir": os.environ.get("SPARK_LOCAL_DIRS", self.run_dir),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ.get('TMPDIR', self.run_dir)}",
        }
        if event_log:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- outcomes --------------------------------------------------------
    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok

    def attempt(self, what: str, fn, *args):
        """Run ``fn(*args)``; an exception counts as one failed
        operation (and returns None) instead of ending the run."""
        try:
            return fn(*args)
        except Exception:  # a failing query is a measured outcome
            self.record(False, f"{what} raised:\n{traceback.format_exc()}")
            return None

    # -- timing ----------------------------------------------------------
    def warm_up(self, one_pass, check, passes: int) -> float:
        """``passes`` untimed passes (their outputs are still checked);
        returns the seconds they took."""
        t0 = time.perf_counter()
        results = [one_pass() for _ in range(passes)]
        took = time.perf_counter() - t0
        for r in results:
            check(r)
        return took

    def timed_passes(self, one_pass, check) -> list[float]:
        """Run ``one_pass()`` back to back while another pass of median
        length still fits in ``seconds`` (always at least once),
        handing each pass's result to ``check`` outside the timing;
        returns each pass's duration."""
        out: list[float] = []
        while not out or sum(out) + median(out) <= self.seconds:
            t0 = time.perf_counter()
            result = one_pass()
            out.append(time.perf_counter() - t0)
            check(result)
        return out

    # -- memory ----------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """Sum of peak RSS (``VmHWM``) of the JVM and every process it
        started (the Python workers), read from ``/proc``."""
        jvm = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        parent = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as fh:
                        parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = {jvm}, [jvm]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        hwm = {}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            hwm[pid] = int(line.split()[1]) / 1024.0
            except OSError:
                continue
        self.info.update(jvm_hwm_mb=hwm.get(jvm, 0.0), worker_hwm_mb=sorted(
            round(v) for p, v in hwm.items() if p != jvm))
        return sum(hwm.values())

    # -- cleanup ---------------------------------------------------------
    def close(self) -> None:
        for p in self.children:
            if p.poll() is None:
                p.terminate()
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        self.stop_spark()
        # the JVM exits when its stdin closes; wait for it (and with it
        # the Python workers it forked) before the run returns
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.run_dir, ignore_errors=True)


def median(xs) -> float:
    return float(statistics.median(xs))

