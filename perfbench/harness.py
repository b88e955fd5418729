"""Shared run state for the benchmark workloads: the Spark session
built through ``streamtasks_spark.session.get_spark``, the work
directory, operation counters, JVM liveness and host readings."""

from __future__ import annotations

import gc
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
HEAP_FRACTION = 16  # driver heap = MemTotal / HEAP_FRACTION

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s]: {msg}",
          file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples above it, and
    that percentile's rank; the maximum when there are 10 samples or
    fewer."""
    s = sorted(samples)
    i = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


class Bench:
    """One run: the Spark session, the work directory, the operation
    counters and the JVM liveness check shared by the workloads."""

    def __init__(self, args) -> None:
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.tiny = args.scale == "tiny"
        self.work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.heap = f"{mem_total_mb() // HEAP_FRACTION}m"
        self.attempted = 0
        self.failed = 0
        self.dead = False
        self.spark = None
        self.jvm = None
        self.event_dir = os.path.join(self.work, "eventlog")

    def start_session(self, event_log: bool) -> None:
        """``get_spark`` plus one trivial job; with ``event_log`` the
        Spark event log goes to ``event_dir``."""
        from streamtasks_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # temp files (and no hsperfdata file in /tmp) inside the run dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.jvm = self.spark.sparkContext._gateway.proc

    def flush_event_log(self) -> None:
        """Wait until the listener bus has logged every event so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jvm_alive(self) -> bool:
        return self.jvm is not None and self.jvm.poll() is None

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to
        exit."""
        if self.spark is not None and self.jvm_alive():
            try:
                self.spark.stop()
            except Exception:
                log("spark.stop failed:\n" + traceback.format_exc())
        if self.jvm is not None:
            try:
                self.jvm.stdin.close()
            except OSError:
                pass
            try:
                self.jvm.wait(timeout=30)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()

    def op(self, what: str, fn):
        """Run one operation; count it; return its value or None."""
        self.attempted += 1
        if self.dead:
            self.failed += 1
            return None
        try:
            return fn()
        except Exception as e:  # one failed operation must not end the run
            self.failed += 1
            if not self.jvm_alive():
                self.dead = True
                log(f"{what}: JVM is gone ({type(e).__name__}); "
                    "remaining operations count as failed")
            else:
                log(f"{what} FAILED:\n" + traceback.format_exc())
            return None

    def fail(self, what: str, n: int = 1) -> None:
        """Count ``n`` operations as attempted and failed."""
        self.attempted += n
        self.failed += n
        log(f"{what}: {n} failed")

    def reset_peak_rss(self) -> None:
        """Collect garbage in both processes, then restart their
        peak-RSS counters, so that ``peak_rss_mb`` covers the timed
        window only (not data generation or the DuckDB oracles, which
        run in this process)."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        for pid in (os.getpid(), self.jvm.pid):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_rss_mb(self) -> float:
        rss = vm_hwm_mb(os.getpid())
        if self.jvm_alive():
            rss += vm_hwm_mb(self.jvm.pid)
        return rss

    def calib_md5_sec(self) -> float:
        """The host-health constant quoted with every record: a fixed
        md5-heavy aggregation on the warm session."""
        t0 = time.perf_counter()
        self.spark.range(200_000).selectExpr(
            "md5(cast(id as string)) AS h"
        ).selectExpr("count(distinct substring(h, 1, 7)) AS n").write \
            .format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
