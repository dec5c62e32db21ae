"""Host-noise telemetry and process-tree memory for one benchmark run.

Nothing here is gated: it is recorded beside the metrics so that a slow
run on a busy machine can be told apart from a slow change.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_times() -> dict[str, int]:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, map(int, fields)))


def _pressure(kind: str) -> dict[str, int]:
    """Total stall microseconds from /proc/pressure/<kind> ("some"/"full")."""
    out: dict[str, int] = {}
    try:
        with open(f"/proc/pressure/{kind}") as fh:
            for line in fh:
                parts = line.split()
                out[parts[0]] = int(parts[-1].split("=")[1])
    except OSError:
        pass
    return out


def host_snapshot() -> dict:
    return {
        "t": time.monotonic(),
        "loadavg": os.getloadavg(),
        "cpu": _cpu_times(),
        "psi_cpu": _pressure("cpu"),
        "psi_io": _pressure("io"),
    }


def host_delta(before: dict, after: dict) -> dict:
    """Load average at both ends, steal and iowait as shares of all CPU
    ticks, and pressure-stall time as a share of the wall time between."""
    wall_us = (after["t"] - before["t"]) * 1e6
    ticks = {k: after["cpu"][k] - before["cpu"][k] for k in after["cpu"]}
    total = sum(ticks.values()) or 1
    out = {
        "wall_s": round(wall_us / 1e6, 3),
        "loadavg_before": [round(x, 2) for x in before["loadavg"]],
        "loadavg_after": [round(x, 2) for x in after["loadavg"]],
        "steal_frac": round(ticks["steal"] / total, 5),
        "iowait_frac": round(ticks["iowait"] / total, 5),
    }
    for kind in ("cpu", "io"):
        a, b = after[f"psi_{kind}"], before[f"psi_{kind}"]
        for level in a:
            out[f"psi_{kind}_{level}_frac"] = round((a[level] - b.get(level, 0)) / wall_us, 5)
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it, so forked workers are not counted
    once per fork. Falls back to RSS where smaps_rollup is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def tree_rss_by_name(root: int) -> dict[str, int]:
    out: dict[str, int] = {}
    for pid in process_tree(root):
        name = _comm(pid)
        out[name] = out.get(name, 0) + _pss_bytes(pid)
    return out


class RssSampler:
    """Samples the resident memory of this process's whole tree (Python
    driver, JVM, Python workers) on a background thread and keeps the
    peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_name = tree_rss_by_name(me)
            total = sum(by_name.values())
            if total > self.peak:
                self.peak, self.peak_by_name = total, by_name
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
