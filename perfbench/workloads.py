"""The workloads. Each drives the program only through its public
API (matano_spark.pipeline, lake, detections, operators, the workload
registry), calling layer entry points through their modules so the
traced run's wrappers see every call.

A workload has `unit_s` (the nominal seconds of one unit on 4 vCPUs,
which turns --seconds into a number of units), `setup()` (inputs, lake
landing, warm-up: all inside setup_s), `next_unit(client)` (one
closed-loop unit of operations; False when out of input) and `check()`
(compares every recorded operation's output with an independent
answer, after the timed region, and marks the operations whose output
is wrong as failed).
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks, gen
from perfbench.harness import REPO, Bench
from perfbench.report import CURATE_STAGES, HUNT_TEMPLATES

PACK_DIR = os.path.join(REPO, "data", "log_sources")
DETECTION_DIR = os.path.join(REPO, "data", "detections")
ONLY_TABLES = {"okta": None, "aws_cloudtrail": ["default"], "aws_vpcflow": None, "zeek": ["dns"]}
LAKE_PATHS = {
    "okta_system": ("okta", "system"),
    "aws_cloudtrail": ("aws_cloudtrail", "default"),
    "aws_vpcflow": ("aws_vpcflow", "default"),
    "zeek_dns": ("zeek", "dns"),
}


def land(bench: Bench, batch: gen.Batch, lake: str, quarantine: str):
    from matano_spark import pipeline

    res = pipeline.run_log_source(
        bench.spark,
        os.path.join(PACK_DIR, batch.pack),
        os.path.join(batch.dir, batch.glob),
        lake,
        quarantine,
        only_tables=ONLY_TABLES[batch.pack],
    )
    return res[batch.table]


def table_path(lake: str, name: str) -> str:
    return os.path.join(lake, *LAKE_PATHS[name])


# -- ingest -------------------------------------------------------------------

SLICE_S = gen.HOUR_S  # one round of four batches covers one event hour


class Ingest:
    """Raw objects from four packs, round-robin, one batch at a time;
    after each round the hour it covered has closed and is compacted.
    A unit is one round.

    No record is malformed: the program sidelines none (see
    IngestMalformed), and a listed workload must run without failures."""

    clients = 1
    unit_s = 12.0
    malformed_share = 0.0

    def __init__(self, bench: Bench):
        self.b = bench
        self.lake = os.path.join(bench.work, "lake")
        self.quarantine = os.path.join(bench.work, "quarantine")
        self.round = 0
        self.landed: list[tuple[gen.Batch, object]] = []  # (batch, Op)

    def setup(self) -> None:
        world = gen.make_world(self.b.seed)
        raw = os.path.join(self.b.work, "raw")
        # warm-up: one batch per pack, the four at once (each is mostly
        # single-threaded planning), plus a compaction, into a scratch lake
        warm_lake = os.path.join(self.b.work, "warm_lake")
        warm = gen.ingest_batches(world, os.path.join(raw, "warm"), 1, SLICE_S, first_round=500,
                                  malformed_share=self.malformed_share)
        with ThreadPoolExecutor(len(warm)) as pool:
            futures = [
                pool.submit(land, self.b, batch, warm_lake, os.path.join(self.b.work, "warm_quarantine"))
                for batch in warm
            ]
            for f in futures:
                f.result()
        self._compact(warm_lake, gen.hour_key(gen.BASE_EPOCH + 500 * SLICE_S))
        self.rounds = self.b.units
        self.batches = gen.ingest_batches(world, raw, self.rounds, SLICE_S,
                                          malformed_share=self.malformed_share)

    def _compact(self, lake: str, hour: str) -> None:
        from matano_spark.operators import maintenance

        for name in LAKE_PATHS:
            d = os.path.join(table_path(lake, name), f"ts_hour={hour}")
            if os.path.isdir(d):
                maintenance.compact_parquet_dir(self.b.spark, d)

    def next_unit(self, client: int) -> bool:
        if self.round >= self.rounds:
            return False
        r = self.round
        self.round += 1
        for batch in self.batches[4 * r:4 * r + 4]:
            op = self.b.run_op(
                "batch", f"{batch.pack}-{r}",
                lambda batch=batch: (batch.events, land(self.b, batch, self.lake, self.quarantine)),
            )
            self.landed.append((batch, op))
        hour = gen.hour_key(gen.BASE_EPOCH + r * SLICE_S)
        self.b.run_op("compact", f"hour-{hour}", lambda: (0, self._compact(self.lake, hour)), timed=False)
        return True

    def check(self) -> list[str]:
        problems: list[str] = []

        def fail(op, why: str) -> None:
            if op.ok:
                op.ok, op.error = False, why
            problems.append(f"{op.op_id}: {why}")

        ran = [(batch, op) for batch, op in self.landed if not op.raised]
        for batch, op in ran:
            r = op.result
            why = checks.batch_conservation(batch, r.rows_in, r.rows_out, r.rows_sidelined)
            if why:
                fail(op, why)
        by_table: dict[str, list] = {}
        for batch, op in ran:
            by_table.setdefault(batch.lake_table, []).append((batch, op))
        total_bytes = total_rows = without_hour = 0
        for name, items in by_table.items():
            res = checks.lake_tallies(
                table_path(self.lake, name), checks.ID_COLUMN[name], [b for b, _ in items]
            )
            total_bytes += res["bytes"]
            total_rows += res["rows"]
            without_hour += res["without_hour"]
            for why in res["problems"]:
                for _, op in items:
                    fail(op, f"{name}: {why}")
        self.b.details.update(
            lake_bytes_per_event=total_bytes / total_rows if total_rows else 0.0,
            malformed_injected=sum(b.malformed for b, _ in ran),
            malformed_sidelined=sum(op.result.rows_sidelined for _, op in ran),
            malformed_landed_without_hour=without_hour,
        )
        return problems


class IngestMalformed(Ingest):
    """`ingest` with 1% malformed records (truncated lines, unparseable
    timestamps, short vpcflow lines). At this commit the program lands
    them with a null ts instead of sidelining them, so most batches fail
    their check; kept to show that defect, not listed in BENCHMARK.json."""

    malformed_share = gen.MALFORMED_SHARE


# -- the detect/hunt lake -------------------------------------------------------

LAKE_HOURS = 8
LAKE_SCALE = 8.0  # x the ingest batch size, spread over LAKE_HOURS


def _ts(epoch: float):
    import datetime as dt

    return dt.datetime.fromtimestamp(round(epoch, 3), dt.timezone.utc).replace(tzinfo=None)


def lake_row(t: gen.Truth) -> dict:
    """The ECS fields of one landed event, shaped as each pack's transform
    produces them (okta categories are two-element arrays, as
    user.session.start yields [authentication, session])."""
    ts = _ts(t.ts)
    if t.table == "okta_system":
        outcome = "failure" if t.failed_login else "success"
        return {
            "ts": ts,
            "event": {"id": t.event_id, "kind": "event", "action": "user.session.start",
                      "category": ["authentication", "session"], "type": ["start", "user"],
                      "outcome": outcome},
            "source": {"ip": t.ip}, "client": {"ip": t.ip}, "user": {"name": t.user},
            "okta": {"uuid": t.event_id, "event_type": "user.session.start",
                     "outcome": {"result": outcome.upper()}, "actor": {"alternate_id": t.user}},
            "related": {"ip": [t.ip], "user": [t.user]},
        }
    if t.table == "aws_cloudtrail":
        return {
            "ts": ts,
            "event": {"id": t.event_id, "kind": "event", "action": t.action},
            "source": {"address": t.ip, "ip": t.ip}, "user": {"name": t.user},
            "cloud": {"provider": "aws"},
            "aws": {"cloudtrail": {"event_type": t.event_type, "user_identity": {"type": t.identity}}},
            "related": {"ip": [t.ip], "user": [t.user]},
        }
    return {
        "ts": ts,
        "source": {"ip": t.ip, "port": t.port}, "destination": {"ip": "10.0.0.2", "port": 53},
        "network": {"transport": "udp"},
        "dns": {"question": {"name": t.dns_query, "type": "A"}},
        "zeek": {"session_id": t.event_id},
        "related": {"ip": [t.ip, "10.0.0.2"]},
    }


class LakeWorkload:
    """Shared set-up of `detect` and `hunt`: a multi-hour lake of okta,
    cloudtrail and zeek dns events, landed through LakeTable.append with
    each table's resolved schema. The raw-to-ECS transform is the ingest
    workload's subject; landing through it here would add ~20 s of
    set-up to every run."""

    def land_lake(self) -> None:
        from matano_spark.schema.config import load_log_source

        self.world = gen.make_world(self.b.seed)
        self.lake = os.path.join(self.b.work, "lake")
        raw = os.path.join(self.b.work, "raw")
        self.lake_batches = gen.lake_batches(self.world, raw, LAKE_HOURS, LAKE_SCALE)
        self.truths = [t for b in self.lake_batches for t in b.truths]
        for batch in self.lake_batches:
            td = next(d for d in load_log_source(os.path.join(PACK_DIR, batch.pack))
                      if d.name == batch.table)
            rows = [lake_row(t) for t in batch.truths]
            self.table(batch.lake_table).append(self.b.spark.createDataFrame(rows, td.schema))
        self.ioc_path, self.cidr_path = gen.write_intel(self.world, os.path.join(self.b.work, "intel"))
        self.hours = [gen.hour_key(gen.BASE_EPOCH + h * gen.HOUR_S) for h in range(LAKE_HOURS)]

    def share_lake(self, other: "LakeWorkload") -> None:
        """Use the lake `other` landed instead of landing another."""
        for k in ("world", "lake", "lake_batches", "truths", "ioc_path", "cidr_path", "hours"):
            setattr(self, k, getattr(other, k))

    def table(self, name: str):
        from matano_spark.lake import LakeTable

        return LakeTable(self.b.spark, name, table_path(self.lake, name), use_iceberg=False)


# -- detect -------------------------------------------------------------------

DETECT_TABLES = ("okta_system", "aws_cloudtrail", "zeek_dns")


class Detect(LakeWorkload):
    """One micro-batch = one hour partition of one table through the
    detection chain, alert fold, threat-intel enrichment and the alert
    lake append; one unit = the tables of one hour.

    okta_system's brute-force rule never matches at this commit (its hook
    gets event.category as a numpy array, and `array or []` raises), so
    this workload fails; `analyze` runs the other two tables."""

    clients = 1
    unit_s = 8.0
    tables = DETECT_TABLES

    def __init__(self, bench: Bench):
        self.b = bench
        self.hour_i = 0
        self.done: list[tuple[str, str, object]] = []

    def setup(self) -> None:
        self.land_lake()
        self.prepare()

    def prepare(self) -> None:
        """Detection packs, the alert lake and one warm-up micro-batch per
        table, on the landed lake."""
        from matano_spark.detections import packs

        self.dets = packs.load_detection_packs(DETECTION_DIR)
        self.alerts_table = self.table_at("matano_alerts", "alerts")
        warm = self.table_at("matano_alerts", "warm_alerts")
        for t in self.tables:
            self.micro_batch(t, self.hours[-1], warm)

    def table_at(self, name: str, sub: str):
        from matano_spark.lake import LakeTable

        return LakeTable(self.b.spark, name, os.path.join(self.b.work, sub), use_iceberg=False)

    def sigma_matches(self, df):
        from pyspark.sql import functions as F

        from matano_spark.detections import MATCH_SCHEMA, sigma

        title = gen.SIGMA_RULE["title"]
        hits = sigma.sigma_filter(df, gen.SIGMA_RULE)
        key = F.col("zeek.session_id")
        return hits.select(
            F.lit(title).alias("rule_name"),
            F.md5(F.concat(F.lit(title + ":"), key)).alias("match_id"),
            F.col("source.ip").alias("dedupe"),
            F.concat(F.lit("C2 lookup "), F.col("dns.question.name")).alias("title"),
            F.lit(gen.SIGMA_RULE["level"]).alias("severity"),
            F.col("ts"),
            key.alias("event_key"),
            F.to_json(F.struct("ts", "source", "dns")).alias("original_event"),
        ).select(*[F.col(f.name).cast(f.dataType) for f in MATCH_SCHEMA.fields])

    def micro_batch(self, name: str, hour: str, alerts_table):
        from matano_spark import detections
        from matano_spark.detections import packs
        from matano_spark.operators import alerts, enrichment

        df = self.table(name).read_hours(hour, hour)
        dets = packs.detections_for_table(self.dets, name)
        matches = detections.run_detections(df, dets)
        cfg = packs.rule_config(dets)
        if name == "zeek_dns":
            matches = matches.unionByName(self.sigma_matches(df))
            cfg[gen.SIGMA_RULE["title"]] = (1, 3600)
        # both are read twice below (delivery and the alert lake), so they
        # are materialized once, as a streaming micro-batch would
        matches = matches.persist()
        folded = alerts.aggregate_alerts(matches, rule_config=cfg).persist()
        intel = self.b.spark.read.parquet(self.ioc_path)
        enriched = enrichment.enrich(folded, intel, on={"dedupe": "ip"}, select=["threat", "confidence"], target="intel")
        rows = [r.asDict(recursive=True) for r in enriched.collect()]
        alerts_table.append(alerts.alert_rows(matches, folded))
        folded.unpersist()
        matches.unpersist()
        return rows

    def next_unit(self, client: int) -> bool:
        hour = self.hours[self.hour_i % len(self.hours)]
        self.hour_i += 1
        for name in self.tables:
            n = sum(1 for t in self.truths if t.table == name and gen.hour_key(t.ts) == hour)
            op = self.b.run_op(
                "batch", f"{name}@{hour}",
                lambda name=name, n=n: (n, self.micro_batch(name, hour, self.alerts_table)),
            )
            self.done.append((name, hour, op))
        return True

    def check(self) -> list[str]:
        problems = []
        iocs = {ip for ip, _, _ in self.world.iocs}
        expected: dict[tuple[str, str], list] = {}
        for name, hour, op in self.done:
            if not op.ok:
                continue
            key = (name, hour)
            if key not in expected:
                expected[key] = checks.replay_alerts(self.truths, name, hour, self.dets)
            why = checks.compare_alerts(op.result, expected[key], iocs)
            if why:
                op.ok, op.error = False, why
                problems.append(f"{op.op_id}: {why}")
        return problems


# -- hunt ---------------------------------------------------------------------


class Hunt(LakeWorkload):
    """Analyst queries over the landed lake, read-only: two closed-loop
    clients, each taking the next query of a seeded sequence that cycles
    through the six templates with Zipf-skewed literals."""

    clients = 2
    unit_s = 1.0

    def __init__(self, bench: Bench):
        self.b = bench
        self.i = 0
        self.lock = threading.Lock()
        self.done: list[tuple[tuple, object]] = []

    def setup(self) -> None:
        self.land_lake()
        self.prepare()

    def prepare(self) -> None:
        """The seeded query sequence and one warm-up query per template."""
        rng = gen.rng_for(self.b.seed, "hunt")
        self.queries = [
            checks.draw_query(rng, self.world, len(self.hours), t)
            for _ in range(400) for t in HUNT_TEMPLATES
        ]
        for t in HUNT_TEMPLATES:  # warm-up: each template once
            self.run_query(checks.draw_query(rng, self.world, len(self.hours), t))

    def run_query(self, q: tuple) -> list:
        from perfbench import hunt_queries

        t = q[0]
        with self.b.tracer.span(f"hunt.{t}.build"):
            df = hunt_queries.build(self, q)
        with self.b.tracer.span(f"hunt.{t}.exec") as s:
            rows = [tuple(r) for r in df.collect()]
            if s is not None:
                s.counts["rows_out"] = len(rows)
        return [df.columns, rows]

    def next_query(self) -> None:
        with self.lock:
            i = self.i
            self.i += 1
        q = self.queries[i % len(self.queries)]
        op = self.b.run_op("query", f"{q[0]}#{i}", lambda: (1, self.run_query(q)))
        with self.lock:
            self.done.append((q, op))

    def next_unit(self, client: int) -> bool:
        self.next_query()
        return True

    def check(self) -> list[str]:
        from perfbench import hunt_queries

        problems = []
        oracle = hunt_queries.Oracle(self)
        try:
            for q, op in self.done:
                if not op.ok:
                    continue
                why = checks.compare_rows(op.result, oracle.answer(q))
                if why:
                    op.ok, op.error = False, why
                    problems.append(f"{q}: {why}")
        finally:
            oracle.close()
        n = len(self.done)
        self.b.details.update(
            queries=n,
            plan_cache_reusable_share=(1 - len({q[0] for q, _ in self.done}) / n) if n else 0.0,
            result_cache_reusable_share=(1 - len({q for q, _ in self.done}) / n) if n else 0.0,
        )
        return problems


# -- curate -------------------------------------------------------------------

CURATE_DOCS = 400
CURATE_WARM_DOCS = 40  # the warm-up pass compiles the same plans on less data


class Curate:
    """A seeded corpus through the seven curation stages, one full pass
    per unit."""

    clients = 1
    unit_s = 10.0

    def __init__(self, bench: Bench):
        self.b = bench
        self.passes = 0
        self.done: list[tuple[str, object]] = []

    def setup(self) -> None:
        from matano_spark.workloads import load_registry

        self.dir = os.path.join(self.b.work, "corpus")
        self.b.details["corpus"] = gen.write_corpus(self.b.seed, self.dir, CURATE_DOCS)
        warm_dir = os.path.join(self.b.work, "warm_corpus")
        gen.write_corpus(self.b.seed, warm_dir, CURATE_WARM_DOCS)
        reg = load_registry()
        self.stages = {s: reg[s] for s in CURATE_STAGES}
        for s in CURATE_STAGES:  # warm-up pass
            self.run_stage(s, warm_dir)

    def run_stage(self, stage: str, corpus: str | None = None) -> list:
        with self.b.tracer.span(f"curate.{stage}") as sp:
            df = self.stages[stage].fn(self.b.spark, corpus or self.dir)
            rows = [tuple(r) for r in df.collect()]
            if sp is not None:
                sp.counts["rows_out"] = len(rows)
        return [df.columns, rows]

    def next_unit(self, client: int) -> bool:
        p = self.passes
        self.passes += 1
        for i, s in enumerate(CURATE_STAGES):
            last = i == len(CURATE_STAGES) - 1
            op = self.b.run_op(
                "stage", f"{s}#{p}",
                lambda s=s, last=last: (CURATE_DOCS if last else 0, self.run_stage(s)),
            )
            self.done.append((s, op))
        return True

    def check(self) -> list[str]:
        problems = []
        oracle = checks.CurateOracle(self.dir, self.stages)
        try:
            for s, op in self.done:
                if not op.ok:
                    continue
                why = checks.compare_rows(op.result, oracle.answer(s))
                if why:
                    op.ok, op.error = False, why
                    problems.append(f"{op.op_id}: {why}")
        finally:
            oracle.close()
        return problems


# -- analyze ------------------------------------------------------------------


ANALYZE_DETECT_TABLES = ("aws_cloudtrail", "zeek_dns")


class Analyze:
    """The read side on one session and one landed lake: per unit, one
    query of each hunt template, one detect hour (the micro-batches of
    aws_cloudtrail and zeek_dns; okta_system's fails, see Detect) and one
    full curation pass, in sequence. Throughput counts operations
    (queries, micro-batches and stages)."""

    clients = 1
    count_ops = True
    unit_s = 20.0

    def __init__(self, bench: Bench):
        self.hunt = Hunt(bench)
        self.detect = Detect(bench)
        self.detect.tables = ANALYZE_DETECT_TABLES
        self.curate = Curate(bench)

    def setup(self) -> None:
        # the warm-ups are mostly single-threaded planning, so they overlap
        with ThreadPoolExecutor(3) as pool:
            futures = [pool.submit(self.curate.setup)]
            self.hunt.land_lake()
            self.detect.share_lake(self.hunt)
            futures += [pool.submit(self.hunt.prepare), pool.submit(self.detect.prepare)]
            for f in futures:
                f.result()

    def next_unit(self, client: int) -> bool:
        for _ in HUNT_TEMPLATES:
            self.hunt.next_query()
        self.detect.next_unit(client)
        return self.curate.next_unit(client)

    def check(self) -> list[str]:
        return self.hunt.check() + self.detect.check() + self.curate.check()


WORKLOADS = {
    "ingest": Ingest, "ingest_malformed": IngestMalformed, "detect": Detect, "hunt": Hunt,
    "curate": Curate, "analyze": Analyze,
}
