"""Peak resident memory of this process and all its descendants (the
Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | None = None) -> tuple[float, dict]:
    """Sum over the process tree of each live process's peak RSS (VmHWM),
    and that sum split into the driver, the JVM and the other processes
    (the Python workers)."""
    root = pid or os.getpid()
    parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
    for p in descendants(root):
        mb = _status_kb(p, "VmHWM") / 1024.0
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            comm = ""
        if p == root:
            parts["driver"] += mb
        elif comm == "java":
            parts["jvm"] += mb
        else:
            parts["workers"] += mb
            parts["n_workers"] += 1
    return parts["driver"] + parts["jvm"] + parts["workers"], parts
