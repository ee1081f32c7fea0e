"""Per-layer metrics of a traced run, and the command that prints them.

    python3 perfbench/layers.py .perfbench/spans/bulk_replay-seed1.json

prints the per-layer table of one traced run's span file: spans grouped
by engine module with calls, total and self time per unit of work, the
share of the ingest wall each layer's self time takes, the end-to-end
metric the layer should move, then the ratios and the merge job's stage
metrics. ``per_layer_metrics`` computes the ``--trace 1`` metrics from
the same file contents.
"""

from __future__ import annotations

import json
import sys

from collections import defaultdict

#: module -> (span names, the end-to-end metric it should move)
LAYERS = [
    ("cdc.stream", ["stream.apply_epoch"],
     "freshness_s_p50 on tail_open_loop; flat on bulk_replay"),
    ("cdc.evolution", ["evolution.evolve_table"], "freshness_s_p50 on tail_open_loop"),
    ("minilake.table", ["table.commit", "table.snapshot"], "freshness_s_p50 on tail_open_loop"),
    ("cdc.metrics", ["lineage.record"], "freshness_s_p50 on tail_open_loop"),
    ("cdc.merge", ["merge.merge_events"], "ingest_events_per_s on bulk_replay"),
    ("cdc.fold", ["fold.fold_batch"], "ingest_events_per_s on bulk_replay"),
    ("cdc.mor (write)", ["mor.write_delta_files"], "ingest_events_per_s on bulk_replay"),
    ("cdc.mor (compaction)", ["mor.compact_deltas"],
     "e2e_events_per_s on bulk_replay, freshness_s_p90 on tail_open_loop, write_amp"),
    ("serving", ["read.point_lookup", "serving.point_lookup", "read.full_scan", "serving.latest"],
     "point_lookup_s_p50: merge-on-read on bulk_replay, compacted on tail_open_loop"),
]

#: every --trace 1 metric, with its unit, in output order
PER_LAYER = [
    ("stream.latest_offset_s", "s"),
    ("stream.query_planning_s", "s"),
    ("stream.wal_commit_s", "s"),
    ("stream.commit_offsets_s", "s"),
    ("stream.add_batch_s", "s"),
    ("stream.trigger_s", "s"),
    ("stream.start_stop_s", "s"),
    ("stream.triggers", "count"),
    ("stream.overhead_share", "share"),
    ("apply_epoch.s", "s"),
    ("apply_epoch.self_s", "s"),
    ("apply_epoch.calls", "count"),
    ("evolution.evolve_table.s", "s"),
    ("evolution.evolve_table.calls", "count"),
    ("table.commit.s", "s"),
    ("table.commit.calls", "count"),
    ("table.commit_conflicts", "count"),
    ("table.snapshot.s", "s"),
    ("table.snapshot.calls", "count"),
    ("table.snapshot_json_bytes", "bytes"),
    ("lineage.record.s", "s"),
    ("lineage.bytes", "bytes"),
    ("merge.merge_events.s", "s"),
    ("merge.merge_events.self_s", "s"),
    ("fold.fold_batch.s", "s"),
    ("fold.keys_per_event", "ratio"),
    ("mor.write_delta_files.s", "s"),
    ("mor.write_delta_files.self_s", "s"),
    ("merge_job.executor_run_s", "s"),
    ("merge_job.executor_cpu_s", "s"),
    ("merge_job.gc_s", "s"),
    ("merge_job.input_bytes", "bytes"),
    ("merge_job.shuffle_write_bytes", "bytes"),
    ("merge_job.shuffle_read_bytes", "bytes"),
    ("merge_job.spill_bytes", "bytes"),
    ("merge_job.output_bytes", "bytes"),
    ("merge_job.task_skew", "ratio"),
    ("mor.compact_deltas.s", "s"),
    ("mor.compact_deltas.calls", "count"),
    ("compact.buckets", "count"),
    ("compact.cold_buckets_skipped", "count"),
    ("compact.bytes_rewritten", "bytes"),
    ("compact.useful_share", "share"),
    ("serving.point_lookup.s", "s"),
    ("serving.latest.s", "s"),
    ("read.point_lookup.s", "s"),
    ("read.full_scan.s", "s"),
    ("read.files_per_lookup", "count"),
    ("read.delta_files_per_lookup", "count"),
    ("lake.delta_files", "count"),
    ("lake.delta_rows", "count"),
    ("lake.base_files", "count"),
    ("bench.generator_lag_s_max", "s"),
    ("bench.backlog_segments_max", "count"),
    ("trace.overhead_share", "share"),
    ("trace.unattributed_share", "share"),
    ("oracle_mismatch_rows", "rows"),
    ("ops_failed_share", "share"),
]

#: additive metrics are reported per unit of work (a bulk_replay cycle)
_PER_RUN = {
    "stream.overhead_share", "fold.keys_per_event", "merge_job.task_skew",
    "compact.useful_share", "read.files_per_lookup", "read.delta_files_per_lookup",
    "table.snapshot_json_bytes", "lake.delta_files", "lake.delta_rows", "lake.base_files",
    "bench.generator_lag_s_max", "bench.backlog_segments_max", "trace.overhead_share",
    "trace.unattributed_share", "oracle_mismatch_rows", "ops_failed_share",
}

_PHASES = {
    "stream.latest_offset_s": "latestOffset",
    "stream.query_planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
    "stream.add_batch_s": "addBatch",
    "stream.trigger_s": "triggerExecution",
}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total seconds and self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
    for s in spans:
        t = out[s["name"]]
        t["calls"] += 1
        t["s"] += s["end"] - s["start"]
        t["self_s"] += selfs[s["id"]]
    return dict(out)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer_metrics(doc: dict) -> dict[str, float]:
    """The --trace 1 metrics from a span file's contents."""
    tot = span_totals(doc["spans"])
    counts = doc["counts"]
    progress = doc.get("stream_progress", [])
    m: dict[str, float] = {}

    def span(name: str, key: str = "s") -> float:
        return tot.get(name, {}).get(key, 0.0)

    for metric, phase in _PHASES.items():
        m[metric] = sum(p["ms"].get(phase, 0) for p in progress) / 1e3
    m["stream.triggers"] = len(progress)
    m["stream.overhead_share"] = 1 - _ratio(m["stream.add_batch_s"], m["stream.trigger_s"]) \
        if progress else 0.0
    # bulk_replay: the query's own start and stop inside each run() call
    start_stop = 0.0
    for lo, hi in doc.get("ingest_windows", []):
        inside = [p for p in progress if lo <= p["start"] <= hi]
        if inside:
            first = min(p["start"] for p in inside)
            last = max(p["start"] + p["ms"]["triggerExecution"] / 1e3 for p in inside)
            start_stop += (first - lo) + max(0.0, hi - last)
    m["stream.start_stop_s"] = start_stop

    for name in ("apply_epoch", "merge.merge_events", "mor.write_delta_files"):
        span_name = "stream.apply_epoch" if name == "apply_epoch" else name
        m[f"{name}.s"] = span(span_name)
        m[f"{name}.self_s"] = span(span_name, "self_s")
    m["apply_epoch.calls"] = span("stream.apply_epoch", "calls")
    for name in ("evolution.evolve_table", "table.commit", "table.snapshot", "mor.compact_deltas"):
        m[f"{name}.s"] = span(name)
        m[f"{name}.calls"] = span(name, "calls")
    for name in ("lineage.record", "fold.fold_batch", "serving.point_lookup", "serving.latest",
                 "read.point_lookup", "read.full_scan"):
        m[f"{name}.s"] = span(name)
    m["table.commit_conflicts"] = counts.get("table.commit.conflicts", 0)
    m["table.snapshot_json_bytes"] = doc.get("snapshot_json_bytes", 0)
    m["lineage.bytes"] = doc.get("lineage_bytes", 0)
    m["fold.keys_per_event"] = _ratio(counts.get("fold.keys", 0), counts.get("fold.events", 0))

    stage = doc.get("merge_job", {})
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "output_bytes"):
        m[f"merge_job.{k}"] = stage.get(f"merge_job.{k}", 0.0)
    m["merge_job.task_skew"] = stage.get("merge_job.task_skew", 1.0)

    buckets = counts.get("compact.buckets", 0)
    with_deltas = counts.get("compact.buckets_with_deltas", 0)
    m["compact.buckets"] = buckets
    m["compact.cold_buckets_skipped"] = with_deltas - buckets
    m["compact.bytes_rewritten"] = counts.get("compact.bytes_rewritten", 0)
    m["compact.useful_share"] = _ratio(buckets, with_deltas)

    lookups = counts.get("read.lookups", 0)
    m["read.files_per_lookup"] = _ratio(counts.get("read.files", 0), lookups)
    m["read.delta_files_per_lookup"] = _ratio(counts.get("read.delta_files", 0), lookups)
    lake = doc.get("lake", {})
    m["lake.delta_files"] = lake.get("delta_files", 0)
    m["lake.delta_rows"] = lake.get("delta_rows", 0)
    m["lake.base_files"] = lake.get("base_files", 0)

    m["bench.generator_lag_s_max"] = doc.get("generator_lag_s_max", 0.0)
    m["bench.backlog_segments_max"] = doc.get("backlog_segments_max", 0)

    wall = doc["ingest_wall_s"]
    attributed = (
        m["stream.start_stop_s"]
        + (m["stream.trigger_s"] - m["stream.add_batch_s"])
        + m["apply_epoch.s"]
    )
    m["trace.unattributed_share"] = _ratio(wall - attributed, wall)
    m["trace.overhead_share"] = _ratio(wall - doc["plain_ingest_wall_s"], doc["plain_ingest_wall_s"])
    m["oracle_mismatch_rows"] = doc.get("oracle_mismatch_rows", 0)
    m["ops_failed_share"] = doc.get("ops_failed_share", 0.0)

    units = doc.get("units", 1) or 1
    return {
        k: (v if k in _PER_RUN else v / units) for k, v in ((n, m[n]) for n, _ in PER_LAYER)
    }


def print_table(doc: dict, out=sys.stdout) -> None:
    tot = span_totals(doc["spans"])
    units = doc.get("units", 1) or 1
    wall = doc["ingest_wall_s"] / units
    w = out.write
    w(f"workload {doc['workload']}  seed {doc['seed']}  units {units}"
      f"  ingest wall {wall:.3f} s per unit\n\n")
    w(f"{'module':<22}{'span':<26}{'calls':>7}{'total s':>10}{'self s':>10}{'self/ingest':>12}"
      f"  moves\n")
    for module, names, moves in LAYERS:
        for i, name in enumerate(names):
            t = tot.get(name, {"calls": 0, "s": 0.0, "self_s": 0.0})
            w(f"{module if i == 0 else '':<22}{name:<26}{t['calls'] / units:>7.1f}"
              f"{t['s'] / units:>10.3f}{t['self_s'] / units:>10.3f}"
              f"{_ratio(t['self_s'] / units, wall):>12.1%}  {moves if i == 0 else ''}\n")
    metrics = per_layer_metrics(doc)
    w("\nstream phases, ratios, stage metrics and checks (per unit where additive)\n")
    units_of = dict(PER_LAYER)
    for name, _ in PER_LAYER:
        if name.startswith(("stream.", "fold.keys", "merge_job.", "compact.", "read.",
                            "lake.", "bench.", "trace.", "oracle", "ops_")):
            w(f"  {name:<34}{metrics[name]:>16.4f} {units_of[name]}\n")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        sys.stderr.write(__doc__)
        return 2
    with open(argv[1]) as f:
        print_table(json.load(f))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
