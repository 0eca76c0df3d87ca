"""Spark stage metrics read in-process, and the processes under the JVM.

Stage metrics come from Spark's in-process status store (the store the web UI
would serve, read over py4j; no UI port is opened).  Stages are
attributed to an operation by stage id: every stage whose id is above
the watermark taken before the operation belongs to it.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time

MIB = float(1 << 20)


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)


def _stages(spark) -> list:
    gw = spark.sparkContext._gateway
    seq = _store(spark).stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    return [seq.apply(i) for i in range(seq.length())]


def stage_watermark(spark) -> int:
    """Highest stage id so far (-1 before the first stage)."""
    _drain(spark)
    return max((s.stageId() for s in _stages(spark)), default=-1)


def stage_stats(spark, after: int) -> dict:
    """Totals over every stage with id > ``after``: tasks, task duration
    median and max, shuffle bytes written, bytes spilled, failed tasks."""
    _drain(spark)
    store = _store(spark)
    tasks = failed = 0
    shuffle = spill = 0
    durations: list[int] = []
    for s in _stages(spark):
        if s.stageId() <= after or str(s.status()) == "SKIPPED":
            continue
        tasks += s.numTasks()
        failed += s.numFailedTasks()
        shuffle += s.shuffleWriteBytes()
        spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        seq = store.taskList(s.stageId(), s.attemptId(), 1 << 20)
        for i in range(seq.length()):
            d = seq.apply(i).duration()
            if d.isDefined():
                durations.append(int(d.get()))
    return {
        "tasks": tasks,
        "failed_tasks": failed,
        "shuffle_write_mb": shuffle / MIB,
        "spill_mb": spill / MIB,
        "task_median_ms": float(statistics.median(durations)) if durations else 0.0,
        "task_max_ms": float(max(durations)) if durations else 0.0,
    }


def spark_conf(spark) -> dict:
    return dict(spark.sparkContext.getConf().getAll())


# ---------------------------------------------------------------------------
# processes under the Spark JVM


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _python_workers() -> list[int]:
    pid = jvm_pid()
    if pid is None:
        return []
    out = []
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    out.append(p)
        except OSError:
            pass
    return out


def reset_worker_peaks() -> None:
    """Reset VmHWM of the PySpark processes (Linux clear_refs 5)."""
    for p in _python_workers():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among the PySpark processes under the JVM, MiB."""
    peak = 0
    for p in _python_workers():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024.0


def stop_all(spark) -> None:
    """Stop the session, its JVM and every process under it; wait for
    each to be gone."""
    from pyspark import SparkContext

    pid = jvm_pid()
    below = descendants(pid) if pid else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            SparkContext._gateway = None
            SparkContext._jvm = None
            gw.close()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 20
        for p in below:
            while _alive(p) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            end = time.monotonic() + 10
            while _alive(p) and time.monotonic() < end:
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
