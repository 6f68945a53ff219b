"""Per-layer metrics of the traced run, computed from its spans.

Every name in PER_LAYER is reported by every workload; a layer the
workload never calls reads 0, which is the predicted bypass. Times are
mean self seconds per call of the layer's entry point, counts are means
per call, ratios are ratios of totals (their bases are the span counts
written to the span file)."""

from __future__ import annotations

from perfbench.trace import Span, layer_table

HUNT_TEMPLATES = (
    "point_lookup", "ioc_sweep", "cidr_sweep",
    "top_failed_logins", "login_correlation", "day_rollup",
)
CURATE_STAGES = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "sim_ann_ivf",
    "text_quality_score", "text_lm_fluency", "decontamination_overlap",
)

# metric name -> (span name, what): "self" = mean self seconds per call,
# a count key = mean of that count per call
_PER_CALL = {
    "sources.self_s": ("sources.read", "self"),
    "sources.rows_out": ("sources.read", "rows_out"),
    "sources.input_partitions": ("sources.read", "input_partitions"),
    "sources.objects_skipped": ("sources.read", "objects_skipped"),
    "transform.compile_s": ("transform.compile", "self"),
    "transform.plan_s": ("transform.plan", "self"),
    "transform.exec_s": ("transform.exec", "self"),
    "transform.rows_dropped": ("transform.exec", "rows_dropped"),
    "schema.cast_s": ("schema.cast", "self"),
    "schema.rows_sidelined": ("schema.cast", "rows_sidelined"),
    "lake.append_s": ("lake.append", "self"),
    "lake.files_written": ("lake.append", "files_written"),
    "lake.bytes_written": ("lake.append", "bytes_written"),
    "lake.partitions_written": ("lake.append", "partitions_written"),
    "maintenance.compact_s": ("maintenance.compact", "self"),
    "maintenance.files_before": ("maintenance.compact", "files_before"),
    "maintenance.files_after": ("maintenance.compact", "files_after"),
    "maintenance.bytes_rewritten": ("maintenance.compact", "bytes_rewritten"),
    "detections.exec_s": ("detections.exec", "self"),
    "detections.rules_compiled": ("detections.exec", "rules_compiled"),
    "detections.rules_python": ("detections.exec", "rules_python"),
    "detections.rows_scanned": ("detections.exec", "rows_scanned"),
    "detections.rows_to_python": ("detections.exec", "rows_to_python"),
    "detections.matches": ("detections.exec", "matches"),
    "alerts.fold_s": ("alerts.fold", "self"),
    "alerts.matches_in": ("alerts.fold", "matches_in"),
    "alerts.alerts_out": ("alerts.fold", "alerts_out"),
    "alerts.activated": ("alerts.fold", "activated"),
    "alerts.rows_s": ("alerts.rows", "self"),
    "enrichment.join_s": ("enrichment.join", "self"),
    "enrichment.probe_rows": ("enrichment.join", "probe_rows"),
    "temporal.join_s": ("temporal.join", "self"),
    "dedup.candidate_pairs": ("dedup.candidates", "candidate_pairs"),
    "dedup.verified_pairs": ("curate.dedup_minhash_lsh", "rows_out"),
}
for _t in HUNT_TEMPLATES:
    _PER_CALL[f"hunt.{_t}.build_s"] = (f"hunt.{_t}.build", "self")
    _PER_CALL[f"hunt.{_t}.exec_s"] = (f"hunt.{_t}.exec", "self")
    _PER_CALL[f"hunt.{_t}.rows_out"] = (f"hunt.{_t}.exec", "rows_out")
for _s in CURATE_STAGES:
    _PER_CALL[f"curate.{_s}_s"] = (f"curate.{_s}", "self")

# ratio name -> ((span, numerator count), (span, denominator count))
_RATIOS = {
    "schema.sidelined_ratio": (("schema.cast", "rows_sidelined"), ("schema.cast", "rows_in")),
    "detections.match_ratio": (("detections.exec", "matches"), ("detections.exec", "rows_to_python")),
    "enrichment.hit_ratio": (("enrichment.join", "hits"), ("enrichment.join", "probe_rows")),
    "dedup.verify_ratio": (("curate.dedup_minhash_lsh", "rows_out"), ("dedup.candidates", "candidate_pairs")),
}

PER_LAYER = (
    list(_PER_CALL)
    + list(_RATIOS)
    + [
        "lake.read_s", "lake.files_scanned", "lake.bytes_per_event",
        "transform.cpu_util",
        "spark.jobs", "spark.stages", "spark.tasks",
        "spark.jvm_cpu_s", "spark.pyworker_cpu_s",
        "trace.spans", "trace.overhead_ratio",
    ]
)


def per_layer(spans: list[Span], cores: int, n_ops: int, extra: dict) -> dict[str, float]:
    table = layer_table(spans)

    def row(name):
        return table.get(name, {"calls": 0, "self_s": 0.0, "total_s": 0.0, "counts": {}})

    out: dict[str, float] = {}
    for metric, (span, what) in _PER_CALL.items():
        r = row(span)
        if not r["calls"]:
            out[metric] = 0.0
        elif what == "self":
            out[metric] = r["self_s"] / r["calls"]
        else:
            out[metric] = r["counts"].get(what, 0) / r["calls"]
    for metric, ((sn, cn), (sd, cd)) in _RATIOS.items():
        num = row(sn)["counts"].get(cn, 0)
        den = row(sd)["counts"].get(cd, 0)
        out[metric] = num / den if den else 0.0
    # lake reads nest (read_hours calls read); the outer call carries the counts
    reads = [s for s in spans if s.name == "lake.read" and "files_scanned" in s.counts]
    lr = row("lake.read")
    out["lake.read_s"] = lr["self_s"] / len(reads) if reads else 0.0
    out["lake.files_scanned"] = sum(s.counts["files_scanned"] for s in reads) / len(reads) if reads else 0.0
    out["lake.bytes_per_event"] = float(extra.get("lake_bytes_per_event", 0.0))
    tx = [s for s in spans if s.name == "transform.exec"]
    wall = sum(s.dur for s in tx)
    out["transform.cpu_util"] = (
        sum(s.counts.get("cpu_s", 0.0) for s in tx) / (wall * cores) if wall else 0.0
    )
    ops = [s for s in spans if s.name.startswith("op.")]
    n = max(n_ops, 1)
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}"] = sum(s.counts.get(f"spark_{key}", 0) for s in spans) / n
    out["spark.jvm_cpu_s"] = sum(s.counts.get("jvm_cpu_s", 0.0) for s in ops) / n
    out["spark.pyworker_cpu_s"] = sum(s.counts.get("pyworker_cpu_s", 0.0) for s in ops) / n
    out["trace.spans"] = len(spans) / n
    out["trace.overhead_ratio"] = float(extra.get("trace_overhead_ratio", 0.0))
    return out


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", ".cpu_util")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


_HIGHER = (
    "transform.cpu_util", "detections.rules_compiled", "detections.match_ratio",
    "enrichment.hit_ratio", "dedup.verify_ratio",
)


def better_of(name: str) -> str:
    """Direction for BENCHMARK.json: time, files, bytes, jobs and wasted
    work are better lower; utilisation and useful-outcome ratios higher."""
    return "higher" if name in _HIGHER else "lower"
