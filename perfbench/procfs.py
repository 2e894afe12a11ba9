"""/proc readings shared by the run loop and the tracer: CPU seconds,
peak RSS (VmHWM, resettable through clear_refs) and process trees."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus its reaped children's when asked)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    out, frontier = [], {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out.extend(kids)
        frontier = kids
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def clear_peak_rss(pid: int | str = "self") -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")
