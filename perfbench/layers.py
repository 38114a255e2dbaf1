"""Per-layer metrics of the traced run: name -> (unit, better).

Layers are named after the program's modules.  A traced run reports every
name; a layer its workload does not exercise reads 0.  README.md maps each
one to the end-to-end metric it should move.
"""

from __future__ import annotations

from bench import HEADLINE


_STAGE_METRICS = (
    ("wall_s", "s", "lower"), ("task_cpu_s", "s", "lower"), ("gc_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"), ("spill_bytes", "bytes", "lower"),
    ("rows_out", "count", "higher"),
)

PER_LAYER: dict[str, tuple[str, str]] = {
    "extract.wall_s": ("s", "lower"),
    "extract.task_cpu_s": ("s", "lower"),
    "extract.python_run_s": ("s", "lower"),
    "extract.python_start_s": ("s", "lower"),
    "extract.python_bytes": ("bytes", "lower"),
    "extract.rows_out": ("count", "higher"),
    **{f"{layer}.{m}": (u, b) for layer in ("process", "infer", "generic", "materialize")
       for m, u, b in _STAGE_METRICS},
    "canonicalize.wall_s": ("s", "lower"),
    "canonicalize.jobs": ("count", "lower"),
    "canonicalize.rows_out": ("count", "higher"),
    "canonicalize.overlap_s": ("s", "higher"),
    "catalog.commit_s": ("s", "lower"),
    "catalog.bytes_written": ("bytes", "lower"),
    "catalog.read_s": ("s", "lower"),
    "pipeline.slot_busy_ratio": ("ratio", "higher"),
    "pipeline.cpu_over_task_ratio": ("ratio", "higher"),
    "pipeline.driver_idle_s": ("s", "lower"),
    "session.jvm_start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    **{f"query.{q}.{m}": (u, "lower") for q in HEADLINE
       for m, u in (("cold_s", "s"), ("warm_s", "s"), ("shuffle_bytes", "bytes"))},
    "entry.task_cpu_s": ("s", "lower"),
    "entry.gc_s": ("s", "lower"),
    "entry.spill_bytes": ("bytes", "lower"),
    "entry.python_run_s": ("s", "lower"),
    "trace.first_pass_s": ("s", "lower"),
    "trace.repeat_pass_s": ("s", "lower"),
}
