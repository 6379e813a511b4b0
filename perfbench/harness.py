"""Process-level plumbing of the benchmark:
where a run may write, how the Spark session is built, and the clocks
read from ``/proc`` (process age, CPU time of a process tree).

The benchmark drives the program from outside: it imports the public
entry points and never patches them.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TICK = os.sysconf("SC_CLK_TCK")


def confine(work_dir: str) -> None:
    """Keep every file the run writes under ``work_dir`` (which lies inside
    the checkout), and let Spark's Python workers import the program."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work_dir: str, event_log_dir: str | None = None) -> dict[str, str]:
    """``extra_conf`` for ``get_spark``: no console progress bar, and local
    dirs inside ``work_dir``. With ``event_log_dir``, Spark's event log is
    written there uncompressed as one file."""
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # no /tmp/hsperfdata file: the JVM, too, writes only under work_dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work_dir: str, event_log_dir: str | None = None):
    """The program's set-up as a user runs it: import the entry points,
    build the session sized to the box, and complete one trivial job."""
    from parquet_processor_spark.pipeline import aggregate, run  # noqa: F401
    from parquet_processor_spark.registry import all_queries
    from parquet_processor_spark.session import get_spark

    all_queries()
    spark = get_spark(
        "perfbench", cpus=cpus(), extra_conf=session_conf(work_dir, event_log_dir)
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time
    (clock-tick resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat("self")[19]) / _TICK


def _stat(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its live
    descendants (the Spark JVM, its Python workers), including the
    children each has already reaped."""
    parent: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            st = _stat(name)
        except OSError:  # exited while listing
            continue
        parent[int(name)] = int(st[1])
        stats[int(name)] = st
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st:
            total += sum(int(st[i]) for i in (11, 12, 13, 14))
        todo.extend(c for c, p in parent.items() if p == pid)
    return total / _TICK


def _gateway_proc():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def jvm_pid() -> int:
    """The Spark driver JVM that this process launched."""
    return _gateway_proc().pid


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit; the JVM leaves when the
    pipe to its stdin closes."""
    proc = _gateway_proc()
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
