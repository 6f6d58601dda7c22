"""Paths, environment, inputs and host readings shared by the benchmark.

Everything the benchmark writes lives under ``.perfbench/`` in the
directory it is run from (the repository root): generated tables, feeds,
Spark's local and temp dirs, sinks, event logs and the per-run records.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(STATE, "data")
ENGINE = os.path.join(ROOT, "airflow_spotify_etl_spark")
SELFCHECK = os.path.join(ROOT, "tools", "selfcheck.py")
DATA_SEED = 42
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def missing_sources() -> list[str]:
    return [p for p in (ENGINE, SELFCHECK) if not os.path.exists(p)]


def prepare_env() -> None:
    """One local Spark worker thread per CPU, and every scratch file of
    Spark, the JVM and Python inside ``.perfbench/``."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for p in (os.path.join(ROOT, "tools"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def divert_stdout(path: str) -> None:
    """Point file descriptor 1, which the JVM inherits, at ``path`` and
    keep Python's ``sys.stdout`` on the original stream, so Spark's
    console logging cannot interleave with the benchmark's report."""
    sys.stdout.flush()
    keep = os.dup(1)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.close(fd)
    sys.stdout = os.fdopen(keep, "w", buffering=1)


def ensure_tables(sf: float) -> str:
    from gendata import generate

    return generate(os.path.join(DATA, f"sf{sf}"), sf, DATA_SEED)


def query_number(name: str) -> int:
    m = re.match(r"q(\d+)_", name)
    return int(m.group(1)) if m else 10**9


# -- host readings ---------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` start time)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / CLK_TCK


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_reading(root: int) -> tuple[float, dict[str, float]]:
    """CPU seconds used by ``root`` and its live descendants, including
    children they have already reaped, and the CPU seconds of each live JIT
    compiler thread of their JVMs, by thread id. A compiler thread the JVM
    retires between two readings takes the CPU it used since the first one
    with it."""
    total, jit = 0, {}
    for pid in [root] + descendants(root):
        f = _stat_fields(pid)
        if not f:
            continue
        total += sum(int(x) for x in f[11:15])
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            name = raw[raw.index("(") + 1: raw.rindex(")")]
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                t = raw.rsplit(")", 1)[1].split()
                jit[tid] = (int(t[11]) + int(t[12])) / CLK_TCK
    return total / CLK_TCK, jit


def jit_delta(a: dict[str, float], b: dict[str, float]) -> float:
    return sum(v - a.get(t, 0.0) for t, v in b.items())


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole host from ``/proc/stat``;
    busy excludes idle, iowait and steal."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return (sum(v[:7]) - v[3] - v[4]) / CLK_TCK, v[7] / CLK_TCK


def java_children(root: int) -> list[int]:
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def source_digest() -> str:
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ENGINE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None
