"""Session set-up, process CPU accounting and teardown shared by the
workloads. Everything the benchmark writes stays under ``<checkout>/
.perfbench_work``: Spark's local and warehouse directories, the JVM's
temp directory and the Python temp directory are pointed there before
the JVM starts."""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")


def prepare_env(cpus: int) -> None:
    """Fresh work directory and the environment the JVM inherits."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            # keep every job and stage of a run for the traced attribution
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_spark():
    """The package's own session factory, quiet logs."""
    from tweetaggregates_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (the gateway JVM exits when its
    stdin closes), and wait until the JVM and every process it started,
    such as Python workers, have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    table = _proc_table()
    children = {p: table[p][2] for p in _descendants(table, os.getpid()) if p != os.getpid()}
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while live := [p for p, (_, _, start) in _proc_table().items() if children.get(p) == start]:
        if time.time() > deadline:
            for pid in live:
                os.kill(pid, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.05)


_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, user + system + reaped children's CPU ticks, start
    time); the start time tells a process from a later one with its pid."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] = ppid; [11..14] = utime, stime, cutime, cstime; [19] = starttime
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]),
                            int(fields[19]))
    return table


def _descendants(table: dict, root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """CPU seconds of this process and all its live descendants (the JVM
    and its Python workers), including children they have reaped."""
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid())) / _CLK


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
