"""Peak resident memory from /proc (psutil is not available)."""

from __future__ import annotations

import os


def vm_hwm_kb(pid: int) -> int:
    """VmHWM — the peak resident set size — of a live process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"/proc/{pid}/status has no VmHWM line")


def _ppid_and_comm(pid: int) -> tuple[int, str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return int(raw[raw.rindex(")") + 2 :].split()[1]), comm


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid, _ = _ppid_and_comm(int(entry))
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def find_jvms() -> list[int]:
    """Java processes descended from this process — the Spark driver JVM
    that PySpark's gateway launched."""
    out = []
    for pid in descendants(os.getpid()):
        try:
            if _ppid_and_comm(pid)[1] == "java":
                out.append(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus the driver JVM(s), in MB."""
    kb = vm_hwm_kb(os.getpid()) + sum(vm_hwm_kb(p) for p in find_jvms())
    return kb / 1024.0
