"""Independent answers for every operation the benchmark times.

Nothing here calls the program: lake contents are read back with
DuckDB, detections are replayed in pure Python over the generator's
truth records, and curation stages are answered by each registry
entry's `oracle_sql()` in DuckDB, compared with the normalise/compare
logic of tools/verify_local.py.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import ipaddress
import os
from collections import Counter

from perfbench import gen
from perfbench.harness import REPO

ID_COLUMN = {
    "okta_system": "event.id",
    "aws_cloudtrail": "event.id",
    "aws_vpcflow": "event.original",
    "zeek_dns": "zeek.session_id",
}
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _verify_local():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(REPO, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_VL = None


def compare_rows(got, expected) -> str | None:
    """[cols, rows] vs [cols, rows]: same columns (case-insensitive, any
    order), same multiset of rows, cells exactly equal."""
    global _VL
    if _VL is None:
        _VL = _verify_local()
    g_cols, g_rows = _VL.normalize(list(got[0]), [tuple(r) for r in got[1]])
    e_cols, e_rows = _VL.normalize(list(expected[0]), [tuple(r) for r in expected[1]])
    if [c.lower() for c in g_cols] != [c.lower() for c in e_cols]:
        return f"columns {g_cols} != {e_cols}"
    if len(g_rows) != len(e_rows):
        return f"{len(g_rows)} rows != {len(e_rows)} expected"
    for i, (a, b) in enumerate(zip(g_rows, e_rows)):
        bad = [(g_cols[j], x, y) for j, (x, y) in enumerate(zip(a, b)) if not _VL.cells_equal(x, y)]
        if bad:
            return f"row {i} differs: {bad[:3]}"
    return None


# -- ingest -------------------------------------------------------------------


def batch_conservation(batch: gen.Batch, rows_in: int, rows_out: int, sidelined: int) -> str | None:
    if rows_in != rows_out + sidelined:
        return f"rows_in {rows_in} != rows_out {rows_out} + sidelined {sidelined}"
    if rows_in != batch.events:
        return f"rows_in {rows_in} != {batch.events} generated events"
    if sidelined != batch.malformed:
        return f"{sidelined} rows sidelined, {batch.malformed} malformed records injected"
    return None


def lake_tallies(path: str, id_col: str, batches: list[gen.Batch]) -> dict:
    """Read a lake table's files with DuckDB and compare per-hour counts
    and event-id checksums of the well-formed events with the generator's
    tallies; also counts the rows landed without an hour."""
    import duckdb

    files = [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT ts_hour, {id_col} FROM read_parquet(?, hive_partitioning=true, "
            "hive_types_autocast=false)",
            [files],
        ).fetchall() if files else []
    finally:
        con.close()
    got_n: Counter = Counter()
    got_ids: dict[str, list[str]] = {}
    null_rows = 0
    for hour, rid in rows:
        if hour in (None, NULL_PARTITION):
            null_rows += 1
            continue
        got_n[hour] += 1
        got_ids.setdefault(hour, []).append(rid or "")
    exp_n: Counter = Counter()
    exp_sum: Counter = Counter()
    for b in batches:
        exp_n.update(b.hours)
        for h, s in b.id_sums.items():
            exp_sum[h] = (exp_sum[h] + s) % (1 << 64)
    problems = []
    for h in sorted(set(got_n) | set(exp_n)):
        if got_n[h] != exp_n[h]:
            problems.append(f"hour {h}: {got_n[h]} rows, expected {exp_n[h]}")
        elif gen.id_checksum(got_ids.get(h, [])) != exp_sum[h]:
            problems.append(f"hour {h}: event-id checksum differs")
    return {
        "problems": problems,
        "rows": len(rows),
        "without_hour": null_rows,
        "bytes": sum(os.path.getsize(f) for f in files),
    }


# -- detect -------------------------------------------------------------------


def _rule_predicate(name: str):
    """What each shipped rule (and the benchmark's Sigma rule) matches,
    stated over the generator's truth records: (matches?, dedupe)."""
    if name == "login_brute_force_by_ip":
        return lambda t: (t.failed_login, t.ip)
    if name == "aws_root_credentials":
        return lambda t: (t.root, name)
    if name == "zeek_events":
        return lambda t: (True, name)
    if name == gen.SIGMA_RULE["title"]:
        return lambda t: ((t.dns_query or "").endswith("." + gen.EVIL_DOMAIN), t.ip)
    raise KeyError(f"no replay for rule {name!r}")


def _ms(ts: float) -> int:
    return round(ts * 1000)


def replay_alerts(truths: list[gen.Truth], table: str, hour: str, dets) -> list[tuple]:
    """Fixed-anchor deduplication replayed per (rule, dedupe): a match at
    or after anchor + window opens a new alert; an alert activates when
    its count reaches the rule's threshold."""
    events = [t for t in truths if t.table == table and gen.hour_key(t.ts) == hour]
    rules = [(d.name, d.threshold, d.deduplication_window_minutes * 60)
             for d in dets if not d.tables or table in d.tables]
    if table == "zeek_dns":
        rules.append((gen.SIGMA_RULE["title"], 1, 3600))
    out = []
    for name, threshold, window in rules:
        pred = _rule_predicate(name)
        by_key: dict[str, list[int]] = {}
        for t in events:
            hit, key = pred(t)
            if hit:
                by_key.setdefault(str(key), []).append(_ms(t.ts))
        for key, times in by_key.items():
            anchor, count = None, 0
            for ms in sorted(times):
                if anchor is None or ms - anchor >= window * 1000:
                    if anchor is not None:
                        out.append((name, key, anchor, count, count >= threshold))
                    anchor, count = ms, 0
                count += 1
            out.append((name, key, anchor, count, count >= threshold))
    return sorted(out)


def _epoch_ms(v: dt.datetime) -> int:
    return round(v.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def compare_alerts(rows: list[dict], expected: list[tuple], iocs: set[str]) -> str | None:
    got = sorted(
        (r["rule_name"], r["dedupe"], _epoch_ms(r["first_matched_at"]), r["match_count"], r["activated"])
        for r in rows
    )
    if got != expected:
        missing = sorted(set(expected) - set(got))[:2]
        extra = sorted(set(got) - set(expected))[:2]
        return f"alerts differ: {len(got)} vs {len(expected)} expected; missing {missing} extra {extra}"
    for r in rows:
        if (r["intel"] is not None) != (r["dedupe"] in iocs):
            return f"enrichment of {r['dedupe']!r} disagrees with the IOC list"
    return None


# -- hunt ---------------------------------------------------------------------


def draw_query(rng, world: gen.World, n_hours: int, t: str) -> tuple:
    """One analyst query of template t with seeded, Zipf-skewed literals."""
    # windows have a fixed length and a seeded start, so every query of a
    # template scans the same amount of lake
    s = rng.randrange(n_hours - 2)
    if t == "point_lookup":
        return (t, world.attacker(rng), rng.randrange(n_hours - 5))
    if t == "top_failed_logins":
        return (t, s, s + 2, 10)
    if t == "day_rollup":
        return (t, rng.randint(1, 40))
    return (t, s, s + 2)


def lpm_counts(ips: list[str], cidrs: list[tuple[str, str]]) -> Counter:
    nets = [(ipaddress.ip_network(c, strict=False), name) for c, name in cidrs]
    out: Counter = Counter()
    for ip in ips:
        a = ipaddress.ip_address(ip)
        best = max(((n.prefixlen, name) for n, name in nets if a in n), default=None)
        if best:
            out[best[1]] += 1
    return out


# -- curate -------------------------------------------------------------------


class CurateOracle:
    """Each stage's registry oracle SQL in DuckDB over the generated corpus."""

    def __init__(self, corpus_dir: str, stages: dict):
        import duckdb

        self.con = duckdb.connect()
        for t in ("documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(corpus_dir, t)}.parquet'"
            )
        self.stages = stages
        self.cache: dict[str, list] = {}

    def answer(self, stage: str) -> list:
        if stage not in self.cache:
            res = self.con.execute(self.stages[stage].oracle)
            self.cache[stage] = [[d[0] for d in res.description], res.fetchall()]
        return self.cache[stage]

    def close(self) -> None:
        self.con.close()
