"""Measurement helpers: process CPU and memory from /proc,
host diagnostics and on-disk byte accounting. Pure standard library, so
the hermetic tests import it without Spark."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU-seconds of process ``pid`` (all its threads)."""
    with open(f"/proc/{pid}/stat") as f:
        # The command name may hold spaces; fields resume after ')'.
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def proc_peak_rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def host_record(jvm_pid: int, steal_before: int) -> dict:
    """Per-run host diagnostics for the run record (not gated)."""
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "steal_ticks": steal_ticks() - steal_before,
        "loadavg": list(os.getloadavg()),
        "jvm_peak_rss_bytes": proc_peak_rss_bytes(jvm_pid),
    }


def tree_bytes(root: str) -> dict:
    """Byte and file counts under ``root``, split into parquet data files
    and everything else: Hadoop checksums, commit markers and the
    versioned tables' JSON manifests.

    Data-file bytes repeat exactly when the same rows are written in the
    same order. Manifests do not: they carry the commit's wall-clock
    ``ts_ms`` and absolute paths (so their size depends on where the
    checkout lives), and are reported apart so they never move a ratio
    that must repeat."""
    out = {"data_bytes": 0, "data_files": 0, "meta_bytes": 0, "meta_files": 0}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            size = os.path.getsize(os.path.join(dirpath, name))
            kind = "data" if name.endswith(".parquet") else "meta"
            out[f"{kind}_bytes"] += size
            out[f"{kind}_files"] += 1
    return out
