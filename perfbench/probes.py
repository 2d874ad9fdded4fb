"""Probes read from outside the program: Spark's status store and /proc.

Both only read state the engine already keeps, so they add no work to the
operations they measure; the status-store read itself is a few py4j calls
and is timed as tracing overhead.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

# Counters summed over the stages (and jobs) that ran since the last read.
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
)


class StatusStoreProbe:
    """Per-span Spark counters from the driver's AppStatusStore.

    The store keeps only the newest ``spark.ui.retainedStages`` stages, so
    it must be read after every span; ``read()`` returns the counters of
    everything newer than the previous read and fails loudly if stages were
    evicted in between (the numbers would be silently short otherwise).
    The store is filled from the asynchronous listener bus, so each read
    first waits for the bus to drain: a span's last stages are then final.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        # PySpark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); there is no one-argument form.
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._stage_mark = -1
        self._job_mark = -1
        self.read()  # start after everything that already ran

    def read(self) -> dict[str, float]:
        self._bus.waitUntilEmpty(60_000)
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        stage_mark, oldest = self._stage_mark, None
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            oldest = sid if oldest is None else min(oldest, sid)
            if sid <= self._stage_mark or s.status().toString() == "SKIPPED":
                continue
            stage_mark = max(stage_mark, sid)
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
        if oldest is not None and oldest > self._stage_mark + 1 and self._stage_mark >= 0:
            raise RuntimeError(
                f"status store evicted stages {self._stage_mark + 1}..{oldest - 1} "
                "before they were read; read it more often or raise spark.ui.retainedStages"
            )
        self._stage_mark = stage_mark
        job_mark = self._job_mark
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            jid = it.next().jobId()
            if jid > self._job_mark:
                out["jobs"] += 1
                job_mark = max(job_mark, jid)
        self._job_mark = job_mark
        return out


def peak_rss_bytes(pid: int) -> int:
    """VmHWM (peak resident set) of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    """Pid of the JVM the PySpark gateway launched for this driver."""
    return spark.sparkContext._gateway.proc.pid


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        if ppid == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    todo, found = [pid], []
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end its JVM and every process under it, and wait.

    ``SparkSession.stop`` leaves the gateway JVM (and the Python workers it
    forked) running until this interpreter exits; the benchmark must not
    leave them behind, so close the JVM's stdin (its shutdown signal), wait,
    and kill whatever is left after the timeout.
    """
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
