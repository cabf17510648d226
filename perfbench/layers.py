"""Per-layer metrics of a traced run, computed from the tracer's spans.

Times are medians over the calls of the measured phase; counts are
medians per call unless named as totals. ``route`` is the function
handed to ``foreachBatch`` (``CdcRegistry.apply_batch`` on the
multi-table workload, ``run_cdc_stream``'s batch function otherwise);
its self time is the routing cost around the per-table
``batch_apply`` calls and the probes.
"""

from __future__ import annotations

import statistics

from probes import FS_OPS, bucket_files
from tracer import self_time


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(bench, batches: dict[int, dict], summary: dict) -> dict:
    tr = bench.tracer
    routes = tr.named("route", "write")
    applies = tr.named("pipeline.batch", "write")
    merges = tr.named("merge", "write")

    def probe(name):
        return tr.named(name, "write")

    parse = probe("probe.parse")
    compact = probe("probe.compact")
    rows_out = sum(s.attrs["rows"] for s in parse)
    kept = sum(s.attrs["rows"] for s in compact)
    rewritten = sum(s.attrs["rows_rewritten"] for s in merges)

    fs_by_route = []
    ops = {op: 0 for op in FS_OPS}
    for r in routes:
        fs = [s for s in tr.descendants(r) if s.name.startswith("fs.")]
        fs_by_route.append(sum(s.duration for s in fs))
        for s in fs:
            ops[s.name[3:]] += 1

    files_per_bucket = []
    for state in bench.states.values():
        per_bucket: dict[str, int] = {}
        for f in bucket_files(state.path):
            b = f.split("/")[0]
            per_bucket[b] = per_bucket.get(b, 0) + 1
        files_per_bucket += per_bucket.values()

    lookups = tr.named("lookup", "read")
    m = {
        "session.start_s": (bench.session_s, "s"),
        "init.s": (_median(s.duration for s in tr.named("init", "setup")), "s"),
        "envelope.parse_s": (_median(s.duration for s in parse), "s"),
        "envelope.rows_in": (sum(s.attrs["rows"] for s in probe("probe.rows_in")), "count"),
        "envelope.rows_out": (rows_out, "count"),
        "envelope.dead_letters": (sum(s.attrs["rows"] for s in probe("probe.dead_letters")), "count"),
        "compact.s": (_median(c.duration - p.duration for c, p in zip(compact, parse)), "s"),
        "compact.keep_ratio": (kept / rows_out if rows_out else 0.0, "ratio"),
        "merge.s": (_median(self_time(s, tr.spans) for s in merges), "s"),
        "merge.touched_buckets": (_median(s.attrs["touched"] for s in merges), "count"),
        "merge.touched_ratio": (_median(s.attrs["touched"] / s.attrs["n_buckets"] for s in merges), "ratio"),
        "merge.rows_rewritten": (_median(s.attrs["rows_rewritten"] for s in merges), "count"),
        "merge.write_amp": (rewritten / kept if kept else 0.0, "ratio"),
        "merge.bytes_written": (_median(s.attrs["bytes_written"] for s in merges), "B"),
        "merge.jobs": (_median(s.attrs["jobs"] for s in merges), "count"),
        "merge.tasks": (_median(s.attrs["tasks"] for s in merges), "count"),
        "fs.s": (_median(fs_by_route), "s"),
        **{f"fs.ops.{op}": (n / len(routes) if routes else 0.0, "count") for op, n in ops.items()},
        "pipeline.batch_s": (_median(s.duration for s in applies), "s"),
        "pipeline.batches": (len(batches), "count"),
        "pipeline.batch_events": (_median(b["events"] for b in batches.values()), "count"),
        "pipeline.trigger_overhead_s": (
            _median(b["trigger_s"] - b["add_batch_s"] for b in batches.values()), "s"),
        "route.s": (_median(self_time(s, tr.spans) for s in routes), "s"),
        "route.tables_per_batch": (len(applies) / len(routes) if routes else 0.0, "count"),
        "lookup.s": (_median(s.duration for s in lookups), "s"),
        "lookup.buckets_read": (_median(s.attrs["buckets_read"] for s in lookups), "count"),
        "lookup.files_read": (_median(s.attrs["files_read"] for s in lookups), "count"),
        "state.files_per_bucket": (statistics.fmean(files_per_bucket) if files_per_bucket else 0.0, "count"),
        "generator.late_s": (summary["generator_late_s"], "s"),
        "backlog.max_events": (summary["backlog_max_events"], "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
