"""Host facts for the result record, peak RSS of the benchmark's process
tree (Python driver, Spark JVM, Python workers) and process shutdown."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def host_facts(root: Path) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "git_commit": git_commit(root),
        "pyspark": pyspark.__version__,
    }


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        # the ppid is the 2nd field after the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return state[state.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    return left


def _status_kb(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(root_pid: int) -> None:
    """Reset the kernel's peak-RSS mark (VmHWM) of the process tree."""
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            Path(f"/proc/{pid}/clear_refs").write_text("5")
        except OSError:
            continue


def peak_rss_bytes(root_pid: int) -> int:
    """Summed VmHWM of the process tree since the last reset: each
    process's own kernel-tracked peak, so no sampling interval can miss
    a spike (processes that exited before the call are not counted)."""
    return 1024 * sum(
        _status_kb(pid, "VmHWM:") for pid in [root_pid, *descendants(root_pid)]
    )


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM gateway down and wait until the JVM
    and the Python workers it started have exited (killing stragglers)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in wait_gone(started, timeout=30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(started, timeout=10)
