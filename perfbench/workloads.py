"""Workload definitions: the ops of one pass, how each op's output is
checked, and the tables the session warms before timing starts."""

from __future__ import annotations

import json
import os

import posts

DATA_DIR = "perfbench/data/sf0.01"
# Query workloads: ``queries()`` members. The seed only permutes op order.
QUERY_WORKLOADS = {
    "graph_loops": ["neardup_canonical", "part_components"],
    "stream_twins": ["stream_part_components", "stream_graph_store"],
}
# Session warm-up per workload: the tables whose footers are read, and
# whether the Python worker pool is started (only daily_etl runs Python
# workers; the loop and stream ops never do).
WARM_TABLES = {
    "graph_loops": ["documents", "lineitem"],
    "stream_twins": ["lineitem", "events"],
    "daily_etl": [],
}
WARM_WORKERS = {"graph_loops": False, "stream_twins": False, "daily_etl": True}
WORKLOADS = list(QUERY_WORKLOADS) + ["daily_etl"]

ETL_DAYS = 2  # days per pass; each pass loads them into an empty lake
ETL_MIN_POSTS, ETL_MAX_POSTS = 200, 20_000  # the reference's day size, and 100x
HLL_REL_TOL = 0.1  # ~3 standard errors of the 1024-register sketch


class QueryOp:
    """Build = the ``queries()`` call; sink = collecting the full result;
    check = its digest against the pinned oracle-verified digest."""

    def __init__(self, name, fn, data_dir, pin):
        self.name, self.fn, self.data_dir, self.pin = name, fn, data_dir, pin

    def build(self, spark):
        return self.fn(spark, self.data_dir)

    def sink(self, spark, df):
        return df.toPandas()

    def check(self, spark, pdf) -> str | None:
        from tools.check_correctness import normalize  # the oracle gate's digest

        rows, dig = normalize(pdf)
        if rows != self.pin["rows"]:
            return f"rows {rows} != pinned {self.pin['rows']}"
        if self.pin["check"] == "oracle" and dig != self.pin["digest"]:
            return f"digest {dig} != pinned {self.pin['digest']}"
        return None


def _close(a, b) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


class DayOp:
    """Build = ``run_daily_batch`` for one seeded day; sink = the
    dashboard reads (sketch-store distinct authors and score quantiles,
    and the ``reddit_summary`` model); check = everything against values
    derived from the generator alone."""

    def __init__(self, day, exp, base, last):
        self.name = f"day{day['date']}"
        self.day, self.exp, self.last = day, exp, last
        self.lake, self.wh, self.sk = (os.path.join(base, d) for d in ("lake", "wh", "sketch"))

    def build(self, spark):
        from reddit_etl_pipeline_spark.plans.pipeline import run_daily_batch

        day = self.day
        return run_daily_batch(
            spark, lambda: iter(day["posts"]), lake_path=self.lake,
            warehouse_path=self.wh, batch_date=day["date"],
            extraction_at=day["extraction_at"], sketch_store_path=self.sk,
        )

    def sink(self, spark, audits):
        from reddit_etl_pipeline_spark.plans import pipeline as pl

        return (
            audits,
            pl.post_sketch_distinct_authors(spark, self.sk).toPandas(),
            pl.post_sketch_score_quantiles(spark, self.sk).toPandas(),
            spark.table("reddit_summary").toPandas(),
        )

    def check(self, spark, result) -> str | None:
        from pyspark.sql import functions as F

        audits, authors, quants, summary = result
        exp = self.exp
        for k, v in exp["audits"][-1].items():
            got = audits.get(k)
            if got is None or not _close(float(got), float(v)):
                return f"audit {k}: {got} != {v}"
        got_auth = dict(zip(authors["subreddit"], authors["approx_users"]))
        if set(got_auth) != set(exp["authors"]):
            return "distinct-author subreddits differ"
        for sub, n in exp["authors"].items():
            if abs(got_auth[sub] - n) > 2 + HLL_REL_TOL * n:
                return f"distinct authors {sub}: {got_auth[sub]} vs exact {n}"
        got_q = {r["subreddit"]: r for r in quants.to_dict("records")}
        if set(got_q) != set(exp["quantiles"]):
            return "quantile subreddits differ"
        for sub, qs in exp["quantiles"].items():
            for k, v in qs.items():
                if not _close(got_q[sub][k], v):
                    return f"quantile {sub}.{k}: {got_q[sub][k]} != {v}"
        got_s = {r["subreddit"]: r for r in summary.to_dict("records")}
        if set(got_s) != set(exp["summary"]):
            return "summary subreddits differ"
        for sub, row in exp["summary"].items():
            for k, v in row.items():
                if not _close(float(got_s[sub][k]), float(v)):
                    return f"summary {sub}.{k}: {got_s[sub][k]} != {v}"
        if not self.last:
            return None
        lake_rows = spark.read.parquet(self.lake).count()
        if lake_rows != exp["lake_rows"]:
            return f"lake rows {lake_rows} != {exp['lake_rows']}"
        wh = spark.read.parquet(self.wh).select(
            "id", "score",
            F.date_format("extraction_timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("at"),
        ).toPandas()
        got = {i: (s, a) for i, s, a in zip(wh["id"], wh["score"], wh["at"])}
        if got != exp["latest"]:
            bad = sum(got.get(k) != v for k, v in exp["latest"].items())
            return f"warehouse latest-per-id differs on {bad} ids ({len(got)} rows)"
        return None


def query_ops(order: list[str], root: str, entry) -> list[QueryOp]:
    with open(os.path.join(root, "perfbench", "digests.json")) as fh:
        pins = json.load(fh)
    queries = entry.queries()
    data = os.path.join(root, DATA_DIR)
    return [QueryOp(n, queries[n], data, pins[n]) for n in order]


class DailyEtl:
    """Seeded days; every pass replays them into fresh lake, warehouse
    and sketch-store directories, so passes are identical work."""

    def __init__(self, seed: int):
        self.days = posts.generate(
            seed, posts.day_sizes(seed, ETL_DAYS, ETL_MIN_POSTS, ETL_MAX_POSTS)
        )
        self.expected = [posts.expected(self.days[: i + 1]) for i in range(len(self.days))]
        self.input_bytes = sum(
            len(json.dumps(p).encode()) for d in self.days for p in d["posts"]
        )

    def ops(self, base: str) -> list[DayOp]:
        n = len(self.days)
        return [DayOp(d, e, base, i == n - 1)
                for i, (d, e) in enumerate(zip(self.days, self.expected))]
