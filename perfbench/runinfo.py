"""Run record, memory and latency helpers shared by every workload."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import time

# bench.py's fixed DuckDB load-sentinel probe
SENTINEL_SQL = ("SELECT count(*), sum(l_extendedprice * l_discount) "
                "FROM lineitem WHERE l_quantity > 10")
SENTINEL_ROWS = 1_000_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def versions() -> dict:
    import pyspark
    return {"python": platform.python_version(),
            "spark": pyspark.__version__}


def sentinel(threads: int) -> float:
    """The load-sentinel probe, run in a child process so its DuckDB
    stays out of the driver's time and memory.  It shows machine-load
    drift between the start and end of a run and gates nothing."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__),
                          str(threads)], capture_output=True, text=True,
                         timeout=120, check=True)
    return float(out.stdout.split()[-1])


def _probe(threads: int) -> float:
    """Median of three runs of the probe (after one warm run) over a
    fixed in-memory lineitem of SENTINEL_ROWS rows."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(
            "CREATE TABLE lineitem AS SELECT "
            "CAST(i % 50 + 1 AS DOUBLE) AS l_quantity, "
            "CAST(900 + (i * 7919) % 120000 / 100.0 AS DOUBLE) "
            "AS l_extendedprice, CAST(i % 11 / 100.0 AS DOUBLE) "
            f"AS l_discount FROM range({SENTINEL_ROWS}) t(i)")
        con.execute(SENTINEL_SQL).fetchall()
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(SENTINEL_SQL).fetchall()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)
    finally:
        con.close()


def cpu_ticks() -> list[int] | None:
    """The machine's CPU tick counters (the ``cpu`` line of
    /proc/stat), or None where there is no /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return None


def steal_share(before, after) -> float | None:
    """Share of all CPU ticks between two ``cpu_ticks()`` readings that
    the hypervisor took (steal): the VM's own drift, which no timing in
    the run can tell apart from a slower program."""
    if not before or not after:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def children(pid: int) -> list[int]:
    """Direct children of ``pid`` (the JVM a Python driver launched)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii",
                      errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows its closing paren
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


# JVM threads whose CPU time moves with the host's load rather than
# with the program's work: the JIT compilers (warm-up, delayed when
# the host is busy) and the garbage collector's workers (which spin
# while they wait for each other)
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread",
                       "G1 ")


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the comm field, or None."""
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _comm(path: str) -> str:
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def cpu_reading(pid: int) -> tuple[float, dict]:
    """CPU seconds of a process and its descendants (user and system
    time of each, plus what each collected from children that exited),
    and the CPU seconds of each live JVM service thread among them,
    keyed by thread id."""
    tick = os.sysconf("SC_CLK_TCK")
    total, service = 0, {}
    todo = [pid]
    while todo:
        p = todo.pop()
        f = _stat_fields(f"/proc/{p}/stat")
        if f is None:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo += children(p)
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            if not _comm(f"/proc/{p}/task/{tid}/comm").startswith(
                    JVM_SERVICE_THREADS):
                continue
            tf = _stat_fields(f"/proc/{p}/task/{tid}/stat")
            if tf is not None:
                service[int(tid)] = (int(tf[11]) + int(tf[12])) / tick
    return total / tick, service


def program_cpu_s(before: tuple, after: tuple) -> float:
    """CPU seconds between two ``cpu_reading``s, less the JVM service
    threads' share.  A service thread is charged by its own growth, so
    one that starts or stops between the readings takes nothing else
    with it."""
    (t0, s0), (t1, s1) = before, after
    return t1 - t0 - sum(v - s0.get(tid, 0.0) for tid, v in s1.items())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over the given processes and their children."""
    seen = set()
    total = 0.0
    for pid in pids:
        for p in [pid] + children(pid):
            if p not in seen:
                seen.add(p)
                total += vm_hwm_mb(p)
    return total


def latency_stats(samples: list[float]) -> dict:
    """Median and tail.  The tail is the highest percentile with at
    least ten samples beyond it, or the maximum when there are fewer
    than eleven samples."""
    s = sorted(samples)
    n = len(s)
    if n > 10:
        rank = n - 11
        pct = 100.0 * (rank + 1) / n
    else:
        rank, pct = n - 1, 100.0
    return {"p50": statistics.median(s), "tail": s[rank],
            "tail_pct": round(pct, 1), "n": n}


def end_to_end(setup_s: float, run_cpu_s: float, rss: float) -> dict:
    """The metrics BENCHMARK.json's end_to_end list names."""
    return {"setup_s": (setup_s, "s"), "run_cpu_s": (run_cpu_s, "s"),
            "peak_rss_mb": (rss, "MB")}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    # python3 perfbench/runinfo.py <threads>: one sentinel probe
    print(_probe(int(sys.argv[1])))
