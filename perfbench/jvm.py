"""Spark session lifecycle and process probes for the benchmark.

One driver JVM per benchmark process. A session is started through the
repository's own ``session.get_spark`` so the benchmark runs the JVM and
Spark settings a user gets; stopping and restarting the session reuses
the JVM, which is how set-up is repeated inside one run.
"""

from __future__ import annotations

import gc
import os
import resource

from k8s_log_etl_spark.session import get_spark


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def confine_to(work_dir: str) -> None:
    """Keep Spark's and Python's scratch files under ``work_dir``. Must run
    before the first session starts: the JVM reads these at launch."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def start_session(master: str, work_dir: str):
    cores = int(master[len("local["):-1])
    return get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def release(spark) -> None:
    """Between timed operations: drop Python-side plan references, then
    let the JVM collect, so ContextCleaner reclaims cached and
    checkpointed blocks before the next operation."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class JvmProbe:
    """Reads the driver JVM's management beans and both processes' RSS."""

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        mf = self._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        return sum(max(int(b.getCollectionTime()), 0) for b in self._gcs) / 1000.0

    def jit_compile_s(self) -> float:
        return int(self._jit.getTotalCompilationTime()) / 1000.0

    def reset_peak_rss(self) -> None:
        """Restart both processes' high-water marks at their current RSS
        (Linux ``clear_refs`` 5); a no-op where the kernel refuses."""
        for pid in ("self", str(self.pid)):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb("self") + _vm_hwm_kb(str(self.pid))) / 1024.0


def _vm_hwm_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    if pid == "self":
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return 0


class StageStats:
    """Task time, shuffle and spill bytes of the stages run since
    ``mark``, from the application status store (kept with the UI off)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._mark = -1

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        self._mark = max((s.stageId() for s in self._stages()), default=-1)

    def delta(self) -> dict[str, float]:
        new = [s for s in self._stages() if s.stageId() > self._mark]
        return {
            "task_ms": float(sum(s.executorRunTime() for s in new)),
            "shuffle_bytes": float(sum(s.shuffleWriteBytes() for s in new)),
            "spill_bytes": float(sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in new)),
        }
