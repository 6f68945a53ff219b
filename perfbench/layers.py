"""Traced-run instrumentation: wraps the program's public layer entry
points from the outside (module attributes and class methods) so each
call records a span, forces its lazy result with persist+count so the
span covers execution, and records the layer's counts.

Nothing under matano_spark/ is edited; `install` returns a function
that puts every original back.
"""

from __future__ import annotations

import functools
import glob
import os
import re

from perfbench.trace import Tracer


def _force(df):
    """persist + count: the returned DataFrame is materialized."""
    df = df.persist()
    return df, df.count()


def parquet_files(path: str) -> dict[str, int]:
    return {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


def _partition_files(path: str, lo: str | None = None, hi: str | None = None) -> int:
    n = 0
    for d in glob.glob(os.path.join(path, "ts_hour=*")):
        h = d.rsplit("=", 1)[1]
        if (lo is None or h >= lo) and (hi is None or h <= hi):
            n += len(glob.glob(os.path.join(d, "*.parquet")))
    return n


def install(tracer: Tracer) -> callable:
    from pyspark.sql import functions as F

    from matano_spark import detections, pipeline
    from matano_spark.detections import packs
    from matano_spark.detections.compile import Untraceable, compile_predicate
    from matano_spark.lake import LakeTable
    from matano_spark.operators import alerts, dedup, enrichment, maintenance, temporal

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    # -- transform: compile per batch, plan on the driver, execute ------
    def wrap_pipeline(orig_pipeline):
        def run(raw):
            with tracer.span("transform.plan"):
                out = orig_pipeline(raw)
            with tracer.span("transform.exec") as s:
                out, n = _force(out)
                s.counts["rows_out"] = n
                s.counts["rows_dropped"] = tracer.noted("rows_in", n) - n
            return out
        return run

    def load_log_source_w(orig):
        def f(*a, **kw):
            with tracer.span("transform.compile") as s:
                defs = orig(*a, **kw)
                s.counts["tables"] = len(defs)
            for td in defs:
                td.pipeline = wrap_pipeline(td.pipeline)
            return defs
        return f

    patch(pipeline, "load_log_source", load_log_source_w)

    # -- sources --------------------------------------------------------
    def read_raw_w(orig):
        def f(spark, td, raw_path):
            with tracer.span("sources.read") as s:
                df, n = _force(orig(spark, td, raw_path))
                s.counts["rows_out"] = n
                s.counts["input_partitions"] = df.rdd.getNumPartitions()
                objs = glob.glob(raw_path)
                rules = td.ingest.get("route_rules") or []
                skipped = 0
                for o in objs:
                    hit = next((t for pat, t in rules if re.search(pat, o)), "default")
                    if rules and hit != td.name:
                        skipped += 1
                s.counts["objects"] = len(objs)
                s.counts["objects_skipped"] = skipped
                tracer.note("rows_in", n)
            return df
        return f

    patch(pipeline, "_read_raw", read_raw_w)

    # -- schema ---------------------------------------------------------
    def apply_schema_w(orig):
        def f(df, schema):
            with tracer.span("schema.cast") as s:
                good, bad = orig(df, schema)
                good, n_good = _force(good)
                bad, n_bad = _force(bad)
                s.counts["rows_in"] = n_good + n_bad
                s.counts["rows_sidelined"] = n_bad
            return good, bad
        return f

    patch(pipeline, "apply_schema", apply_schema_w)

    # -- lake -----------------------------------------------------------
    def append_w(orig):
        def f(self, df):
            before = parquet_files(self.path)
            with tracer.span("lake.append") as s:
                orig(self, df)
            after = parquet_files(self.path)
            new = {p: b for p, b in after.items() if p not in before}
            s.counts["files_written"] = len(new)
            s.counts["bytes_written"] = sum(new.values())
            s.counts["partitions_written"] = len({os.path.dirname(p) for p in new})
        return f

    patch(LakeTable, "append", append_w)

    def read_w(orig):
        def f(self, *a, **kw):
            nested = (cur := tracer.current()) is not None and cur.name == "lake.read"
            with tracer.span("lake.read") as s:
                df = orig(self, *a, **kw)
                if not nested:
                    lo, hi = (a + (None, None))[:2] if orig.__name__ == "read_hours" else (None, None)
                    df, n = _force(df)
                    s.counts["rows"] = n
                    s.counts["files_scanned"] = _partition_files(self.path, lo, hi)
            return df
        return f

    patch(LakeTable, "read", read_w)
    patch(LakeTable, "read_hours", read_w)

    # -- maintenance ----------------------------------------------------
    def compact_w(orig):
        def f(spark, path, *a, **kw):
            before = parquet_files(path)
            with tracer.span("maintenance.compact") as s:
                res = orig(spark, path, *a, **kw)
            after = parquet_files(path)
            s.counts["files_before"] = len(before)
            s.counts["files_after"] = len(after)
            s.counts["bytes_rewritten"] = sum(b for p, b in after.items() if p not in before)
            return res
        return f

    patch(maintenance, "compact_parquet_dir", compact_w)

    # -- detections -----------------------------------------------------
    def bind_w(orig):
        def f(dets, table):
            with tracer.span("detections.bind") as s:
                out = orig(dets, table)
                s.counts["rules"] = len(out)
            return out
        return f

    patch(packs, "detections_for_table", bind_w)

    def run_detections_w(orig):
        def f(df, dets, *a, **kw):
            dets = list(dets)
            with tracer.span("trace.probe"):
                compiled, n_python = [], 0
                for d in dets:
                    try:
                        compiled.append(compile_predicate(d.detect, df.schema))
                    except Untraceable:
                        n_python += 1
                rows = df.count()
                # run_detections sends the prefiltered rows to the compiled
                # rules' loop and every row to the untraceable rules' loop
                to_python = rows if n_python else 0
                if compiled:
                    cond = compiled[0]
                    for c in compiled[1:]:
                        cond = cond | c
                    to_python += df.filter(cond).count()
            with tracer.span("detections.exec") as s:
                out, n = _force(orig(df, dets, *a, **kw))
                s.counts.update(
                    rules_compiled=len(compiled), rules_python=n_python,
                    rows_scanned=rows, rows_to_python=to_python, matches=n,
                )
            return out
        return f

    patch(detections, "run_detections", run_detections_w)

    # -- alerts ---------------------------------------------------------
    def aggregate_w(orig):
        def f(matches, *a, **kw):
            with tracer.span("alerts.fold") as s:
                out, n = _force(orig(matches, *a, **kw))
                s.counts["matches_in"] = matches.count()
                s.counts["alerts_out"] = n
                s.counts["activated"] = out.filter(F.col("activated")).count()
            return out
        return f

    patch(alerts, "aggregate_alerts", aggregate_w)

    def alert_rows_w(orig):
        def f(*a, **kw):
            with tracer.span("alerts.rows") as s:
                out, n = _force(orig(*a, **kw))
                s.counts["rows"] = n
            return out
        return f

    patch(alerts, "alert_rows", alert_rows_w)

    # -- enrichment / temporal --------------------------------------------
    def enrich_w(orig):
        def f(df, enr, on, select=None, target="enrichment"):
            with tracer.span("enrichment.join") as s:
                out, n = _force(orig(df, enr, on, select=select, target=target))
                s.counts["probe_rows"] = n
                s.counts["hits"] = out.filter(F.col(target).isNotNull()).count()
            return out
        return f

    patch(enrichment, "enrich", enrich_w)

    def lpm_w(orig):
        def f(events, *a, **kw):
            with tracer.span("enrichment.join") as s:
                out, n = _force(orig(events, *a, **kw))
                s.counts["probe_rows"] = events.count()
                s.counts["hits"] = n
            return out
        return f

    patch(enrichment, "lpm_join", lpm_w)

    def range_join_w(orig):
        def f(*a, **kw):
            with tracer.span("temporal.join") as s:
                out, n = _force(orig(*a, **kw))
                s.counts["rows"] = n
            return out
        return f

    patch(temporal, "range_join_bucketed", range_join_w)

    # -- dedup candidates -------------------------------------------------
    def lsh_w(orig):
        def f(*a, **kw):
            with tracer.span("dedup.candidates") as s:
                out, n = _force(orig(*a, **kw))
                s.counts["candidate_pairs"] = n
            return out
        return f

    patch(dedup, "lsh_candidate_pairs", lsh_w)

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall
