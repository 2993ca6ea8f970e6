"""Per-layer metrics of a traced run, byte accounting and the tracing
overhead record. Layer names are the program's modules."""

from __future__ import annotations

import json
import os
import statistics

import measure
import tracing

# Job groups whose Spark stages are folded into per-layer stage totals.
STAGE_LAYERS = (
    "io.readers", "quality", "io.writers", "models", "io.versioned",
    "ext.dedup",
)
# read_amplification = bytes these job groups scan / input bytes. On
# backfill they scan nothing but landing files: schema inference (readers),
# the gate's aggregate (quality) and the load (writers) each re-read them.
LANDING_LAYERS = ("io.readers", "quality", "io.writers")
VIEWS = ("sales_per_artist", "sales_per_country")

PER_LAYER = (
    ("session.start_s", "s"),
    ("io.readers.call_s", "s"),
    ("io.readers.read_amplification", "ratio"),
    ("transforms.plan_s", "s"),
    ("quality.gate_s", "s"),
    ("quality.jobs", "count"),
    ("quality.exec_cpu_s", "s"),
    ("quality.rules", "count"),
    ("quality.gate_trips", "count"),
    ("io.writers.load_s", "s"),
    ("io.writers.bytes", "bytes"),
    ("io.writers.files", "count"),
    ("pipeline.window_s", "s"),
    ("pipeline.overhead_s", "s"),
    ("pipeline.attempts", "count"),
    ("pipeline.skipped_tasks", "count"),
    *((f"models.view_s.{v}", "s") for v in VIEWS),
    ("models.shuffle_bytes", "bytes"),
    ("io.versioned.commit_s", "s"),
    ("io.versioned.snapshot_read_s", "s"),
    ("io.versioned.compact_s", "s"),
    ("io.versioned.bytes_rewritten", "bytes"),
    ("io.versioned.live_files", "count"),
    ("ext.dedup.batch_s", "s"),
    ("ext.dedup.verified_pairs", "count"),
    ("trace.run_s", "s"),
    *(
        (f"{layer}.{f}", "s" if f.endswith("_s") else
         "bytes" if f.endswith("_bytes") else "count")
        for layer in STAGE_LAYERS
        for f in tracing.STAGE_FIELDS
    ),
)

# Where each workload's program writes its tables, under the run root.
STORES = {
    "backfill": ("warehouse",),
    "curate": ("signatures",),
}
INPUTS = {
    "backfill": ("sessions", "users", "songs"),
    "curate": ("docs",),
}


def stored_bytes(workload: str, work: str) -> dict:
    total = dict.fromkeys(
        ("data_bytes", "data_files", "meta_bytes", "meta_files"), 0
    )
    for store in STORES[workload]:
        for k, v in measure.tree_bytes(os.path.join(work, store)).items():
            total[k] += v
    return total


def input_bytes(workload: str, meta: dict) -> int:
    return sum(meta["input_bytes"][k] for k in INPUTS[workload])


def _outermost(tr: tracing.Tracer, layer: str) -> list[dict]:
    """Spans of ``layer`` not nested inside another span of ``layer``."""
    out = []
    for s in tr.spans:
        if s["layer"] != layer:
            continue
        p = s["parent"]
        while p is not None and tr.spans[p]["layer"] != layer:
            p = tr.spans[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _median_dur(tr: tracing.Tracer, name: str) -> float:
    d = [s["end"] - s["start"] for s in tr.spans if s["name"] == name]
    return statistics.median(d) if d else 0.0


def window_overhead(tr: tracing.Tracer) -> float:
    """Window wall time not covered by its task spans."""
    return sum(
        (w["end"] - w["start"]) - _dur(tr.children(w))
        for w in tr.spans
        if w["name"] == "pipeline.runner.window"
    )


def per_layer(workload, tr, log, b, meta, session_s, run_s) -> dict:
    o = b.out
    group = lambda layer, f: log.get(layer, {}).get(f, 0)  # noqa: E731
    landing_read = sum(group(g, "input_bytes") for g in LANDING_LAYERS)
    versioned = _outermost(tr, "io.versioned")
    warehouse = measure.tree_bytes(os.path.join(b.work, "warehouse"))
    signatures = measure.tree_bytes(os.path.join(b.work, "signatures"))
    v = {
        "session.start_s": session_s,
        "io.readers.call_s": _dur(_outermost(tr, "io.readers")),
        "io.readers.read_amplification":
            landing_read / input_bytes(workload, meta),
        "transforms.plan_s": _dur(_outermost(tr, "transforms")),
        "quality.gate_s": _dur(_outermost(tr, "quality")),
        "quality.jobs": group("quality", "jobs"),
        "quality.exec_cpu_s": group("quality", "exec_cpu_s"),
        "quality.rules": o.get("rules", 0),
        "quality.gate_trips": o.get("gate_trips", 0),
        "io.writers.load_s": _dur(_outermost(tr, "io.writers")),
        "io.writers.bytes": warehouse["data_bytes"],
        "io.writers.files": warehouse["data_files"],
        "pipeline.window_s": tr.total("pipeline.runner.window"),
        "pipeline.overhead_s": window_overhead(tr),
        "pipeline.attempts": o.get("attempts", 0),
        "pipeline.skipped_tasks": o.get("skipped", 0),
        **{
            f"models.view_s.{view}": _median_dur(tr, f"models.view.{view}")
            for view in VIEWS
        },
        "models.shuffle_bytes": group("models", "shuffle_write_bytes"),
        "io.versioned.commit_s": _dur(
            s for s in versioned if s["op"] == "write_versioned"
        ),
        "io.versioned.snapshot_read_s": _dur(
            s for s in tr.spans if s["name"] == "io.versioned.read_version"
        ),
        "io.versioned.compact_s": tr.total("io.versioned.compact_versioned"),
        "io.versioned.bytes_rewritten": sum(
            c["bytes"] for c in o.get("compact", [])
        ),
        "io.versioned.live_files": signatures["data_files"],
        "ext.dedup.batch_s": tr.total("ext.dedup.incremental_minhash_dedup"),
        "ext.dedup.verified_pairs": len(o.get("pairs", ())),
        "trace.run_s": run_s,
    }
    for layer in STAGE_LAYERS:
        for f in tracing.STAGE_FIELDS:
            v[f"{layer}.{f}"] = group(layer, f)
    return {name: (v[name], unit) for name, unit in PER_LAYER}


def overhead(untraced_record: str, run_s: float) -> dict:
    """Traced ``run_s`` against the untraced run of the same workload and
    seed, read from its run record (``None`` until that run was made)."""
    try:
        with open(untraced_record) as f:
            base = json.load(f)["end_to_end"]["run_s"]
    except (OSError, ValueError, KeyError):
        base = None
    return {
        "traced_run_s": run_s,
        "untraced_run_s": base,
        "ratio": run_s / base if base else None,
    }
