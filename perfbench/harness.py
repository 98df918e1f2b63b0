"""Run-environment pinning and measurement helpers shared by every workload.

Nothing here imports Spark: the environment must be pinned before the
first ``pyspark`` import reads it.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import threading
import time

#: Spark master width, capped by the host's core count. Two task slots
#: leave the other cores of a 4-core host to the JVM's GC and JIT threads,
#: the Python driver and the Python workers. On an idle 4-core host two
#: slots were no slower than four; with two busy-loop processes beside the
#: run, a 16k-event replay batch slowed by 7 % with two slots and by 90 %
#: with four.
MAX_CORES = 2
#: driver JVM heap; set explicitly because the library default (16g) is
#: larger than some hosts' RAM, which would make GC behaviour host-dependent.
#: The heap is also committed and touched at start (-Xms, AlwaysPreTouch):
#: otherwise its resident size depends on how far it grew before a
#: collection, which swung peak_rss_mb by 10-20 % between runs.
#: peak_rss_mb leaves out this heap, because it is resident from the start.
DRIVER_HEAP_MB = 1024
DRIVER_MEM = f"{DRIVER_HEAP_MB}m"
#: input split size, the same as bench.py
MAX_PARTITION_BYTES = "8m"


def cores() -> int:
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def pin_environment(work: str) -> dict[str, str]:
    """Point every scratch location at ``work`` and fix the knobs the
    session factory reads from the environment. Returns the Spark conf
    that completes the pinning."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return {
        "spark.sql.files.maxPartitionBytes": MAX_PARTITION_BYTES,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def source_digest(root: str) -> str:
    """sha256 over the library's Python sources: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "csv_cruncher_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # not a clone; do not let git search parent directories
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host since boot,
    summed over its cores (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_record(root: str, phase: str) -> dict:
    """What a noisy run needs for diagnosis: cores, load, stolen CPU time,
    code identity."""
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {
        "phase": phase,
        "nproc": os.cpu_count(),
        "cores_used": cores(),
        "loadavg": [float(x) for x in load],
        "steal_s": steal_s(),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "time": time.time(),
    }


# ------------------------------------------------------------- memory --


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size, so pages that forked Python workers share
    with their parent count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


#: seconds between two samples of the process tree's memory
SAMPLE_INTERVAL_S = 0.25


class TreeMemorySampler:
    """Samples the summed PSS of this process and all its descendants
    (driver Python, Spark JVM, Python workers) on a background thread,
    between ``start`` and ``stop``."""

    def __init__(self):
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in tree_pids(me))
            self.peak_kb = max(self.peak_kb, total)
            self.samples += 1
            self._stop.wait(SAMPLE_INTERVAL_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------- sizes --


def dir_bytes(path: str) -> int:
    """Exact byte count of every regular file under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(dirpath, fn)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


MB = 1024.0 * 1024.0


# -------------------------------------------------------------- output --


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(obj: dict) -> None:
    print(json.dumps(obj, separators=(",", ":")), flush=True)
