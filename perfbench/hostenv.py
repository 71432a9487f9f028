"""Launch environment derived from the host, and the record that goes with
every result (code identity, load, versions, inputs)."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys

# source files whose content identifies the program under test
_SOURCE_DIRS = ("admarus_spark",)
_SOURCE_FILES = ("__spark_entry__.py",)


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb(mem_total: int) -> int:
    """A sixth of RAM, 1..4 GB: the session pre-touches its whole heap, and
    the corpora here need well under 2 GB of it."""
    return max(1, min(4, int(mem_total / 6 / 2**30)))


def launch_env(run_dir: str) -> dict[str, str]:
    """Environment for the Spark session: cores from the CPU affinity mask,
    driver heap from MemTotal (the session defaults assume 32 cores and a
    24 GB heap), and every temporary path inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb(mem_total_bytes())}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # keep the JVM's own files (perf data, crash logs, tmp) in the run dir
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-XX:ErrorFile={os.path.join(run_dir, 'hs_err_pid%p.log')}"
        ),
    }


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    paths = [os.path.join(root, f) for f in _SOURCE_FILES]
    for d in _SOURCE_DIRS:
        for dirpath, dirnames, files in os.walk(os.path.join(root, d)):
            dirnames[:] = sorted(x for x in dirnames if x != "__pycache__")
            paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def process_age_s() -> float:
    """Seconds since this process started (interpreter start and imports,
    when read before the session starts)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def run_record(root: str, env: dict[str, str]) -> dict:
    import pyspark

    return {
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "platform": platform.platform(),
        "cpus": host_cpus(),
        "mem_total_gb": round(mem_total_bytes() / 2**30, 1),
        "launch_env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")},
        "loadavg_start": loadavg(),
        "startup_s": process_age_s(),
    }
