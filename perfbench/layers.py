"""Per-layer metrics of a traced run, computed from the spans and Spark
jobs inside the traced window. Counts and times are per measured round:
one replay for `backfill` and `routed`, the whole window for `tail`,
one pass for `curate`."""

from __future__ import annotations

import os

from perfbench.common import median
from perfbench.trace import Rollup, job_sum

#: (name, unit) of every per-layer metric a CDC workload emits
CDC_LAYER = [
    ("plans.epoch.partition_extents.ms", "ms"),
    ("plans.epoch.read_slice.calls", "count"),
    ("spark.input_bytes_per_event", "bytes/event"),
    ("operators.txn.committed_watermarks.calls", "count"),
    ("operators.txn.committed_watermarks.ms", "ms"),
    ("operators.txn.committed_watermarks.jobs", "count"),
    ("operators.txn.committed_watermarks.task_ms", "ms"),
    ("operators.lww.lww_collapse.calls", "count"),
    ("operators.lww.collapse_ratio", "ratio"),
    ("operators.merge.merge_epoch.ms", "ms"),
    ("operators.merge.merge_epoch.jobs", "count"),
    ("operators.merge.merge_epoch.task_ms", "ms"),
    ("operators.merge.merge_epoch.buckets_rewritten", "count"),
    ("operators.merge.merge_epoch.bytes_written", "bytes"),
    ("operators.merge.bytes_per_event", "bytes/event"),
    ("plans.table.commit.calls", "count"),
    ("plans.table.commit.ms", "ms"),
    ("plans.table.commit.lost", "count"),
    ("plans.table.snapshot.calls", "count"),
    ("plans.table.snapshot.ms", "ms"),
    ("plans.table.read.ms", "ms"),
    ("plans.table.read.input_bytes", "bytes"),
    ("plans.table.data_files", "count"),
    ("plans.table.bytes_per_row", "bytes/row"),
    ("engine.epochs", "count"),
    ("engine.run_to_completion.self_ms", "ms"),
    ("engine.jobs_per_epoch", "count"),
    ("engine.untagged_jobs", "count"),
    ("engine.untagged_task_ms", "ms"),
    ("multi.run_epoch.ms", "ms"),
    ("multi.apply_route.calls", "count"),
    ("multi.apply_route.ms", "ms"),
    ("multi.apply_route.jobs", "count"),
    ("multi.apply_route.task_ms", "ms"),
    ("multi.jobs_per_group_epoch", "count"),
    ("multi.route_overlap_share", "share"),
    ("streaming.stream.drain.ms", "ms"),
    ("streaming.stream.apply_batch.calls", "count"),
    ("streaming.stream.apply_batch.ms_p50", "ms"),
    ("streaming.stream.apply_batch.jobs", "count"),
    ("streaming.stream.query_overhead_ms", "ms"),
    ("streaming.stream.backlog_events_end", "count"),
]
SPARK_LAYER = [
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.task_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("trace.overhead_pct", "%"),
]
CURATE_LAYER = [
    ("queries.refine_corpus_stages.exact_dedup_ms", "ms"),
    ("queries.refine_corpus_stages.near_dup_ms", "ms"),
    ("queries.refine_corpus_stages.gate_pack_ms", "ms"),
    ("operators.dedup.connected_components.ms", "ms"),
    ("operators.dedup.connected_components.jobs", "count"),
    ("operators.dedup.IncrementalDeduper.observe.ms", "ms"),
    ("operators.dedup.IncrementalDeduper.observe.jobs", "count"),
]


def layer_units(workload: str) -> list[tuple[str, str]]:
    return (CURATE_LAYER if workload == "curate" else CDC_LAYER) + SPARK_LAYER


def _spark_totals(r: Rollup, n: float) -> dict[str, float]:
    return {
        "spark.jobs": len(r.jobs) / n,
        "spark.tasks": job_sum(r.jobs, "tasks") / n,
        "spark.task_ms": job_sum(r.jobs, "task_ms") / n,
        "spark.gc_ms": job_sum(r.jobs, "gc_ms") / n,
        "spark.shuffle_write_bytes": job_sum(r.jobs, "shuffle_write_bytes") / n,
        "spark.spill_bytes": job_sum(r.jobs, "spill_bytes") / n,
    }


def _table_layout(table) -> tuple[int, float]:
    snap = table.snapshot()
    files = [fe for fs in snap["files"].values() for fe in fs]
    size = sum(os.path.getsize(os.path.join(table.root, fe["path"])) for fe in files)
    rows = sum(fe.get("rows", 0) for fe in files)
    return len(files), size / max(1, rows)


def cdc_layers(r: Rollup, wl, w) -> dict[str, float]:
    """Per-layer values for backfill, routed and tail."""
    name = wl.name
    n = float(max(1, w.rounds)) if name != "tail" else 1.0
    root = "streaming.stream.drain" if name == "tail" else "bench.round"
    write_jobs = r.jobs_during(root, exclude=("reader.lookup", "reader.scan"))
    read_jobs = r.jobs_of("reader.lookup") + r.jobs_of("reader.scan")
    merge_bytes = r.attr("operators.merge.merge_epoch", "bytes")
    ev = w.info.get("epoch_events", [])
    dk = w.info.get("epoch_delta_rows", [])
    data_files, bytes_per_row = _table_layout(wl.read_table)
    untagged = r.untagged()
    epochs = w.info.get("epochs_per_replay") or []
    group_epochs = w.info.get("group_epochs_per_replay") or []
    batches = r.named("streaming.stream.apply_batch")
    out = {
        "plans.epoch.partition_extents.ms": r.ms("plans.epoch.partition_extents") / n,
        "plans.epoch.read_slice.calls": r.calls("plans.epoch.read_slice") / n,
        "spark.input_bytes_per_event": job_sum(write_jobs, "input_bytes") / max(1, w.events),
        "operators.txn.committed_watermarks.calls": r.calls("operators.txn.committed_watermarks") / n,
        "operators.txn.committed_watermarks.ms": r.ms("operators.txn.committed_watermarks") / n,
        "operators.txn.committed_watermarks.jobs": len(r.jobs_of("operators.txn.committed_watermarks")) / n,
        "operators.txn.committed_watermarks.task_ms":
            job_sum(r.jobs_of("operators.txn.committed_watermarks"), "task_ms") / n,
        "operators.lww.lww_collapse.calls": r.calls("operators.lww.lww_collapse") / n,
        "operators.lww.collapse_ratio": sum(ev) / max(1, sum(dk)),
        "operators.merge.merge_epoch.ms": r.ms("operators.merge.merge_epoch") / n,
        "operators.merge.merge_epoch.jobs": len(r.jobs_of("operators.merge.merge_epoch")) / n,
        "operators.merge.merge_epoch.task_ms": job_sum(r.jobs_of("operators.merge.merge_epoch"), "task_ms") / n,
        "operators.merge.merge_epoch.buckets_rewritten": r.attr("operators.merge.merge_epoch", "buckets") / n,
        "operators.merge.merge_epoch.bytes_written": merge_bytes / n,
        "operators.merge.bytes_per_event": merge_bytes / max(1, w.events),
        "plans.table.commit.calls": r.calls("plans.table.commit") / n,
        "plans.table.commit.ms": r.ms("plans.table.commit") / n,
        "plans.table.commit.lost": r.attr("plans.table.commit", "lost") / n,
        "plans.table.snapshot.calls": r.calls("plans.table.snapshot") / n,
        "plans.table.snapshot.ms": r.ms("plans.table.snapshot") / n,
        "plans.table.read.ms": (r.ms("reader.lookup") + r.ms("reader.scan")) / n,
        "plans.table.read.input_bytes": job_sum(read_jobs, "input_bytes") / n,
        "plans.table.data_files": float(data_files),
        "plans.table.bytes_per_row": bytes_per_row,
        "engine.epochs": float(median(epochs)) if epochs else 0.0,
        "engine.run_to_completion.self_ms": r.self_ms("engine.run_to_completion") / n,
        "engine.jobs_per_epoch": len(write_jobs) / sum(epochs) if epochs else 0.0,
        "engine.untagged_jobs": len(untagged) / n,
        "engine.untagged_task_ms": job_sum(untagged, "task_ms") / n,
        "multi.run_epoch.ms": r.ms("multi.run_epoch") / n,
        "multi.apply_route.calls": r.calls("multi.apply_route") / n,
        "multi.apply_route.ms": r.ms("multi.apply_route") / n,
        "multi.apply_route.jobs": len(r.jobs_of("multi.apply_route")) / n,
        "multi.apply_route.task_ms": job_sum(r.jobs_of("multi.apply_route"), "task_ms") / n,
        "multi.jobs_per_group_epoch": len(write_jobs) / sum(group_epochs) if group_epochs else 0.0,
        "multi.route_overlap_share": float(wl.props.get("route_overlap_share", 0.0)),
        "streaming.stream.drain.ms": r.ms("streaming.stream.drain"),
        "streaming.stream.apply_batch.calls": float(len(batches)),
        "streaming.stream.apply_batch.ms_p50": median([s.ms for s in batches]) if batches else 0.0,
        "streaming.stream.apply_batch.jobs": float(len(r.jobs_of("streaming.stream.apply_batch"))),
        "streaming.stream.query_overhead_ms":
            r.ms("streaming.stream.drain") - r.ms("streaming.stream.apply_batch") if name == "tail" else 0.0,
        "streaming.stream.backlog_events_end": float(w.info.get("backlog_events_end", 0)),
    }
    out.update(_spark_totals(r, n))
    return out


def curate_layers(r: Rollup, wl, w, stages: dict[str, float]) -> dict[str, float]:
    n = float(max(1, w.rounds))
    out = {
        f"queries.refine_corpus_stages.{k}_ms": v for k, v in stages.items()
    }
    for fn in ("connected_components", "IncrementalDeduper.observe"):
        span = f"operators.dedup.{fn}"
        out[f"{span}.ms"] = r.ms(span) / n
        out[f"{span}.jobs"] = len(r.jobs_of(span)) / n
    out.update(_spark_totals(r, n))
    return out
