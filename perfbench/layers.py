"""Per-layer metrics of a traced run, from its spans, the probes the
workload took on traced steps, and the jobs of Spark's event log.

Every metric is reported on every workload; a layer the workload leaves
idle reads 0. Times are medians per call over the measured window unless
the name says otherwise. The schema drift happens only in the warmup, so
the ALTER and registry metrics are taken over the warmup's traced spans
too.
"""

from __future__ import annotations

import os
import statistics

from nifi_processors_spark.plans.table import IceliteTable

from workloads import SUITE, dir_bytes


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(wl, tracer, jobs: list[dict], cores: int, work_per_s: float,
                  rss_mb: float) -> dict:
    """{name: {"value", "unit"}} over the run's traced steps."""
    spans = tracer.spans
    selfs = tracer.self_times()
    by_name: dict[str, list[int]] = {}    # spans inside the window's steps
    all_by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        all_by_name.setdefault(s["name"], []).append(i)
        if tracer.ancestor(i, {"step"}) is not None:
            by_name.setdefault(s["name"], []).append(i)
    window = [i for idx in by_name.values() for i in idx]

    def dur(i):
        return spans[i]["end"] - spans[i]["start"]

    def per_call(name, scale=1.0, spans_by=by_name):
        return scale * _median([dur(i) for i in spans_by.get(name, [])])

    m: dict[str, dict] = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    steps = by_name.get("step", [])
    epochs = by_name.get("epoch", [])
    n_steps, n_epochs = max(len(steps), 1), max(len(epochs), 1)

    # operators.apply
    put("apply.epoch_s", per_call("apply.epoch"), "s")
    put("apply.self_s", _median([selfs[i] for i in by_name.get("apply.epoch", [])]), "s")
    for k in ("rows_in", "rows_upserted", "rows_deleted", "rows_corrupt", "affected_buckets"):
        put(f"apply.{k}", _mean(wl.layer.get(f"apply.{k}", [])), "count")

    # plans.table
    for op in ("merge", "merge_mor", "compact"):
        put(f"table.{op}_s", per_call(f"table.{op}"), "s")
    put("table.alter_s", per_call("table.alter", 1.0, all_by_name), "s")
    put("table.scan_plan_ms", per_call("table.scan", 1000), "ms")
    put("table.files_kept_ratio", _mean(wl.layer.get("table.files_kept_ratio", [])), "ratio")
    put("table.delta_files", _mean(wl.layer.get("table.delta_files", [])), "count")
    events = sum(wl.layer.get("apply.rows_in", []))
    written = sum(wl.layer.get("table.bytes_written", []))
    put("table.bytes_written_per_event", written / events if events else 0.0, "bytes")
    manifest = space_amp = 0.0
    table_path = getattr(wl, "table_path", None)
    if table_path and os.path.isdir(table_path):
        sid = IceliteTable(wl.spark, table_path).current_snapshot_id()
        manifest = os.path.getsize(os.path.join(table_path, "meta", f"v{sid}.json"))
        space_amp = dir_bytes(table_path) / wl.input_bytes
    put("table.manifest_bytes", manifest, "bytes")
    put("table.space_amp", space_amp, "ratio")
    put("read.lookup_ms", per_call("read.lookup", 1000), "ms")
    put("read.in_lookup_ms", per_call("read.in_lookup", 1000), "ms")
    put("read.count_ms", per_call("read.count", 1000), "ms")

    # plans.ivm, plans.outbox
    put("ivm.refresh_s", per_call("ivm.refresh"), "s")
    put("ivm.rebuild_ratio", _mean(wl.layer.get("ivm.rebuild", [])), "ratio")
    put("outbox.publish_s", per_call("outbox.publish"), "s")
    put("outbox.rows_per_publish", _mean(wl.layer.get("outbox.rows", [])), "count")

    # plans.fsio (outermost calls inside epochs), plans.checkpoint, metrics, plans.registry
    fs = [i for name, idx in by_name.items() if name.startswith("fsio.") for i in idx
          if spans[i]["parent"] is not None
          and not spans[spans[i]["parent"]]["name"].startswith("fsio.")
          and tracer.ancestor(i, {"epoch"}) is not None]
    put("fsio.ops_per_epoch", len(fs) / n_epochs if epochs else 0.0, "count")
    put("fsio.ms_per_epoch", 1000 * sum(dur(i) for i in fs) / n_epochs if epochs else 0.0, "ms")
    put("checkpoint.commit_ms", per_call("checkpoint.commit", 1000), "ms")
    put("metrics.append_ms", per_call("metrics.append", 1000), "ms")
    put("registry.diff_ms", per_call("registry.diff", 1000, all_by_name), "ms")
    put("registry.commit_version_ms", per_call("registry.commit_version", 1000, all_by_name),
        "ms")

    # operators.* queries
    for q in SUITE:
        put(f"query.{q}_s", per_call(f"query.{q}"), "s")

    # Spark: each job attributed to the innermost span open at its submission
    mine = [j for j in jobs
            if tracer.ancestor(tracer.innermost_at(j["submit"]), {"step"}) is not None]
    step_wall = sum(dur(i) for i in steps)
    put("spark.jobs_per_step", len(mine) / n_steps, "count")
    put("spark.task_cpu_s_per_step", sum(j["cpu_s"] for j in mine) / n_steps, "s")
    put("spark.gc_s_per_step", sum(j["gc_s"] for j in mine) / n_steps, "s")
    put("spark.shuffle_write_bytes_per_step", sum(j["shuffle_write"] for j in mine) / n_steps,
        "bytes")
    put("spark.spill_bytes_per_step", sum(j["spill"] for j in mine) / n_steps, "bytes")
    # task time over the cores' time: below 1 the cores waited
    put("spark.cpu_util", sum(j["run_s"] for j in mine) / (step_wall * cores)
        if step_wall else 0.0, "ratio")

    # VmHWM of the Python process plus the JVM; it follows the JVM's GC
    # timing (18% spread over five seeds), too wide for an end-to-end bound
    put("mem.peak_rss_mb", rss_mb, "MB")

    # the benchmark's own loop: time in a step outside every span in it,
    # and the probes it takes on traced steps
    put("bench.step_self_ms", 1000 * _median([selfs[i] for i in steps]), "ms")
    put("bench.epoch_self_ms", 1000 * _median([selfs[i] for i in epochs]), "ms")
    put("bench.probe_ms_per_step", 1000 * sum(dur(i) for i in by_name.get("probe", []))
        / n_steps, "ms")

    # tracing overhead: the wrappers' own cost, and the traced run's work
    # rate to set against work_per_s of an untraced run of the same seed
    put("trace.spans_per_step", len(window) / n_steps, "count")
    put("trace.wrapper_overhead_pct",
        100 * len(window) * tracer.span_cost() / step_wall if step_wall else 0.0, "%")
    put("trace.work_per_s", work_per_s, "1/s")
    return m


def epoch_accounting(tracer) -> str:
    """Where the window's epochs' wall went: the epoch span's children by
    name, and the time inside no child (the benchmark's own)."""
    spans, selfs = tracer.spans, tracer.self_times()
    kids = tracer.children()
    epochs = [i for i, s in enumerate(spans)
              if s["name"] == "epoch" and tracer.ancestor(i, {"step"}) is not None]
    if not epochs:
        return "no traced epochs"
    wall = sum(spans[i]["end"] - spans[i]["start"] for i in epochs)
    parts: dict[str, float] = {}
    for i in epochs:
        for k in kids.get(i, []):
            name = spans[k]["name"]
            parts[name] = parts.get(name, 0.0) + spans[k]["end"] - spans[k]["start"]
    apply_self = sum(selfs[k] for i in epochs for k in kids.get(i, [])
                     if spans[k]["name"] == "apply.epoch")
    outside = sum(selfs[i] for i in epochs)
    text = ", ".join(f"{n} {v:.3f}" for n, v in sorted(parts.items(), key=lambda x: -x[1]))
    return (f"{len(epochs)} epochs, wall {wall:.3f} s = {text}, outside any span "
            f"{outside:.3f} (apply.epoch self {apply_self:.3f} s)")
