"""Spans around calls into the program's layers, and per-layer folding
of Spark's event log.

A span is (id, name, layer, start, end, parent). While a span is open,
its layer is the Spark job group, so every Spark job the call starts is
attributed to that layer in the event log. Spans are kept in memory and
written out when the run ends. With tracing off the tracer records
nothing and patches nothing, so untraced runs measure the program alone.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = (
    "stages",
    "tasks",
    "exec_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
)

# Stage accumulables summed per field; times are milliseconds.
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("exec_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
}

UNGROUPED = "(none)"


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark  # whose job group a span sets, if any
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, layer: str | None, op: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if layer is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(layer, op)

    @contextmanager
    def span(self, layer: str, op: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": f"{layer}.{op}",
            "layer": layer,
            "op": op,
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(layer, op)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._set_group(parent["layer"], parent["op"])
            else:
                self._set_group(None, None)

    def instrument(self, module, layer: str, *names: str) -> None:
        """Wrap ``module.<name>`` so every call through the module
        attribute opens a span of ``layer``. Undone by ``restore``."""
        if not self.enabled:
            return
        for name in names:
            fn = getattr(module, name)

            @functools.wraps(fn)
            def wrapper(*args, _fn=fn, _op=name, **kwargs):
                with self.span(layer, _op):
                    return _fn(*args, **kwargs)

            self._patched.append((module, name, fn))
            setattr(module, name, wrapper)

    def restore(self) -> None:
        while self._patched:
            module, name, fn = self._patched.pop()
            setattr(module, name, fn)

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def fold_event_log(paths: list[str]) -> dict[str, dict]:
    """Fold an uncompressed Spark event log (its files, in order) into
    per-job-group totals:
    jobs, plus every field of ``STAGE_FIELDS`` and ``exec_cpu_s``.

    A stage is attributed to the group of the first job that listed it;
    jobs started outside any group fold under ``UNGROUPED``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(("jobs", "exec_cpu_s", *STAGE_FIELDS), 0)
    )
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or UNGROUPED
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            rec = out[stage_group.get(info["Stage ID"], UNGROUPED)]
            rec["stages"] += 1
            rec["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                field = _ACCUMULABLES.get(acc.get("Name"))
                if field is not None:
                    key, scale = field
                    rec[key] += float(acc.get("Value", 0)) * scale
    return dict(out)


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def find_event_log(log_dir: str) -> list[str]:
    """The files of the single finished event log in ``log_dir``: Spark 4
    writes a directory ``eventlog_v2_<app>`` of ``events_<n>_<app>``
    files, read in ``n`` order."""
    names = [
        n for n in os.listdir(log_dir) if not n.endswith(".inprogress")
    ]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [
        n for n in os.listdir(path)
        if n.startswith("events_") and not n.endswith(".inprogress")
    ]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]
