"""Process-tree accounting from /proc: CPU seconds, storage I/O, and the
peak resident set of Python workers.

The engine runs as three kinds of process: this Python process, the JVM it
launches, and the `pyspark.daemon` with its forked workers under the JVM.
A snapshot sums every live descendant of this process plus this process
itself. Workers that exited and were reaped by a live parent appear in that
parent's `cutime`/`cstime`, so CPU of short-lived workers is not lost.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(v) for v in fields[11:15])
    return ppid, utime + stime + cutime + cstime


def descendants() -> list[int]:
    """This process and every live descendant, from one walk of /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """CPU seconds (user+system, with reaped children) of `pids`."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total / _TICK


def io_bytes(pids: list[int]) -> tuple[int, int]:
    """(read_bytes, write_bytes) sent to the storage layer by `pids`."""
    rd = wr = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    key, _, val = line.partition(":")
                    if key == "read_bytes":
                        rd += int(val)
                    elif key == "write_bytes":
                        wr += int(val)
        except OSError:
            continue
    return rd, wr


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(pids: list[int]) -> list[int]:
    """The `pyspark.daemon` process and the workers it forked, of `pids`."""
    return [
        pid for pid in pids
        if "pyspark.daemon" in _cmdline(pid) or "pyspark.worker" in _cmdline(pid)
    ]


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the kernel's peak-RSS (VmHWM) tracking of each process."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) among `pids`, in MiB."""
    peak = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024
