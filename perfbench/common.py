"""Settings shared by ``run.py`` and its worker processes.

All scratch state (generated inputs, Spark local dirs, JVM temp files,
stream checkpoints, trace artifacts) lives under ``.perfbench_work`` in
the checkout, so a run reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def child_env(work: str) -> dict[str, str]:
    """Environment for a Spark-running worker process."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYTHONHASHSEED="0",
        # Every JVM (the spark-submit launcher too): temp files in
        # ``work``, no hsperfdata file under /tmp.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    env.pop("KBROWSE_CONFIG", None)
    return env


def spark_conf(work: str) -> dict[str, str]:
    """Extra session conf keeping the JVM's files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def now() -> float:
    """System-wide monotonic clock, comparable across processes."""
    return time.monotonic()


def reset_peak_rss(pid: int | str = "self") -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")
