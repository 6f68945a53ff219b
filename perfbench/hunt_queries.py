"""The six analyst query templates: their Spark form over the program's
API (LakeTable reads, enrichment and temporal operators) and an
independent DuckDB answer over the same lake files."""

from __future__ import annotations

import os

from perfbench import checks, gen


def build(w, q: tuple):
    """Spark DataFrame for query q against hunt workload w's lake."""
    from pyspark.sql import functions as F

    from matano_spark.operators import enrichment, temporal

    spark, H, t = w.b.spark, w.hours, q[0]
    okta = w.table("okta_system")
    if t == "point_lookup":
        _, ip, s = q
        return okta.read_hours(H[s], H[s + 5]).filter(F.col("source.ip") == ip).select(
            F.col("event.id").alias("event_id"), "ts",
            F.col("user.name").alias("user_name"), F.col("event.outcome").alias("outcome"),
        )
    if t == "ioc_sweep":
        _, s, e = q
        ev = okta.read_hours(H[s], H[e]).select(F.col("source.ip").alias("ip"))
        intel = spark.read.parquet(w.ioc_path)
        hits = enrichment.enrich(ev, intel, on={"ip": "ip"}, select=["threat"], target="intel")
        return hits.filter(F.col("intel").isNotNull()).groupBy(
            "ip", F.col("intel.threat").alias("threat")
        ).agg(F.count(F.lit(1)).alias("n"))
    if t == "cidr_sweep":
        _, s, e = q
        ev = okta.read_hours(H[s], H[e]).select(F.col("source.ip").alias("ip")).filter(
            F.col("ip").isNotNull()
        )
        m = enrichment.lpm_join(ev, spark.read.parquet(w.cidr_path), ip_col="ip", cidr_col="cidr")
        return m.groupBy("net_name").agg(F.count(F.lit(1)).alias("n"))
    if t == "top_failed_logins":
        _, s, e, n = q
        return (
            okta.read_hours(H[s], H[e]).filter(F.col("event.outcome") == "failure")
            .groupBy(F.col("user.name").alias("user_name"), "ts_hour")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "user_name", "ts_hour").limit(n)
        )
    if t == "login_correlation":
        _, s, e = q
        fails = okta.read_hours(H[s], H[e]).filter(F.col("event.outcome") == "failure").select(
            F.split(F.col("user.name"), "@").getItem(0).alias("user"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
        )
        logins = w.table("aws_cloudtrail").read_hours(H[s], H[min(e + 1, len(H) - 1)]).filter(
            F.col("event.action") == "ConsoleLogin"
        ).select(F.col("user.name").alias("user"), "ts")
        pairs = temporal.range_join_bucketed(
            logins, fails, key="user", event_ts="ts", start_col="start", end_col="end",
            bucket_seconds=gen.HOUR_S,
        )
        return pairs.groupBy("user").agg(
            F.count(F.lit(1)).alias("pairs"), F.min("ts").alias("first_login")
        )
    if t == "day_rollup":
        _, k = q
        return (
            okta.read().filter(F.col("ts").isNotNull())
            .groupBy("ts_hour", F.col("event.outcome").alias("outcome"))
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("source.ip").alias("ips"))
            .filter(F.col("n") >= k)
        )
    raise KeyError(t)


class Oracle:
    """DuckDB over the lake's parquet files, answering the same queries."""

    def __init__(self, w):
        import duckdb

        from perfbench.workloads import table_path

        self.w = w
        self.con = duckdb.connect()
        for view, name in (("okta", "okta_system"), ("ct", "aws_cloudtrail")):
            glob = os.path.join(table_path(w.lake, name), "*", "*.parquet")
            self.con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{glob}', "
                "hive_partitioning=true, hive_types_autocast=false)"
            )
        self.con.execute(f"CREATE VIEW intel AS SELECT * FROM '{w.ioc_path}'")
        self.cache: dict[tuple, list] = {}

    def _sql(self, sql: str, params=()) -> list:
        res = self.con.execute(sql, list(params))
        return [[d[0] for d in res.description], res.fetchall()]

    def answer(self, q: tuple) -> list:
        if q not in self.cache:
            self.cache[q] = self._answer(q)
        return self.cache[q]

    def _answer(self, q: tuple) -> list:
        H, t = self.w.hours, q[0]
        if t == "point_lookup":
            _, ip, s = q
            return self._sql(
                "SELECT event.id AS event_id, ts, \"user\".name AS user_name, "
                "event.outcome AS outcome FROM okta "
                "WHERE ts_hour BETWEEN ? AND ? AND source.ip = ?",
                (H[s], H[s + 5], ip),
            )
        if t == "ioc_sweep":
            _, s, e = q
            return self._sql(
                "SELECT o.source.ip AS ip, i.threat AS threat, count(*) AS n "
                "FROM okta o JOIN intel i ON o.source.ip = i.ip "
                "WHERE o.ts_hour BETWEEN ? AND ? GROUP BY 1, 2",
                (H[s], H[e]),
            )
        if t == "cidr_sweep":
            _, s, e = q
            ips = [r[0] for r in self.con.execute(
                "SELECT source.ip FROM okta WHERE ts_hour BETWEEN ? AND ? AND source.ip IS NOT NULL",
                [H[s], H[e]],
            ).fetchall()]
            counts = checks.lpm_counts(ips, self.w.world.cidrs)
            return [["net_name", "n"], list(counts.items())]
        if t == "top_failed_logins":
            _, s, e, n = q
            return self._sql(
                "SELECT \"user\".name AS user_name, ts_hour, count(*) AS n FROM okta "
                "WHERE ts_hour BETWEEN ? AND ? AND event.outcome = 'failure' "
                "GROUP BY 1, 2 ORDER BY n DESC, user_name, ts_hour LIMIT ?",
                (H[s], H[e], n),
            )
        if t == "login_correlation":
            _, s, e = q
            return self._sql(
                "WITH f AS (SELECT split_part(\"user\".name, '@', 1) AS u, ts AS s, "
                "ts + INTERVAL 1 HOUR AS e FROM okta "
                "WHERE ts_hour BETWEEN ? AND ? AND event.outcome = 'failure'), "
                "l AS (SELECT \"user\".name AS u, ts FROM ct "
                "WHERE ts_hour BETWEEN ? AND ? AND event.action = 'ConsoleLogin') "
                "SELECT l.u AS \"user\", count(*) AS pairs, min(l.ts) AS first_login "
                "FROM l JOIN f ON l.u = f.u AND l.ts >= f.s AND l.ts <= f.e GROUP BY l.u",
                (H[s], H[e], H[s], H[min(e + 1, len(H) - 1)]),
            )
        if t == "day_rollup":
            _, k = q
            return self._sql(
                "SELECT ts_hour, event.outcome AS outcome, count(*) AS n, "
                "count(DISTINCT source.ip) AS ips FROM okta WHERE ts IS NOT NULL "
                "GROUP BY 1, 2 HAVING count(*) >= ?",
                (k,),
            )
        raise KeyError(t)

    def close(self) -> None:
        self.con.close()
