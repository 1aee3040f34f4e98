"""Process plumbing shared by the workloads: a work directory inside the
checkout, the Spark session and its clean shutdown, engine counters,
memory, and the statistics the report uses."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", "_work")


def make_workdir(workload: str, seed: int) -> str:
    """A fresh work directory under the checkout; temp files of Python,
    Spark and the JVM all go there, so the run writes nothing outside
    the checkout."""
    path = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "spark-local", "scratch", "in"):
        os.makedirs(os.path.join(path, sub))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(path, "scratch")
    # every JVM the session starts (the spark-submit launcher too): temp
    # files in the work directory, no hsperfdata file in the system temp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(path, 'tmp')}"
    # a 2 GB driver heap instead of the session's 8 GB default: the
    # inputs are tens of MB, and peak_rss_mb should not depend on how
    # far an oversized heap is let grow. Pinned, so the caller's
    # environment cannot change the figures.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # python workers are separate processes: they import the program
    # from the checkout through PYTHONPATH
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return path


def start_spark(work: str):
    from sstable_migrator_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def stop_spark(spark) -> None:
    """Stop the session, close the gateway, wait for the JVM to exit,
    then for the Python worker daemons it forked (they exit when the
    JVM closes their pipe; any still alive after 30 s are killed)."""
    import signal
    import subprocess
    import time

    from pyspark import SparkContext

    proc = _jvm_proc()
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """Running, not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the Spark JVM plus this process."""
    proc = _jvm_proc()
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(proc.pid) if proc is not None else 0)
    return kb / 1024.0


def _stages_newest_first(spark):
    """The engine's own status store, newest stage first."""
    jsc = spark.sparkContext._jsc.sc()
    gw = spark.sparkContext._gateway
    return jsc.statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()


def last_stage_id(spark) -> int:
    it = _stages_newest_first(spark)
    return it.next().stageId() if it.hasNext() else -1


def stage_totals(spark, after: int) -> dict[str, int]:
    """Shuffle bytes written and bytes spilled by the stages with an id
    above ``after``. Taken around a call (``after = last_stage_id()``
    before it), it is what the call's jobs shuffled and spilled —
    including writes the program plans internally, where
    ``shuffle_summary`` cannot look."""
    out = {"shuffle_bytes": 0, "spill_bytes": 0}
    it = _stages_newest_first(spark)
    while it.hasNext():
        s = it.next()
        if s.stageId() <= after:
            break
        out["shuffle_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.diskBytesSpilled() + s.memoryBytesSpilled()
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)
