"""Seeded generator of RAW reddit posts for the ``daily_etl`` workload.

Each day is a list of API-shaped dicts (the 13 RAW fields of
``reddit_etl_pipeline_spark.schema.POST_FIELDS``) with the edge cases
FIXTURES.md asks for: 7-char base-36 ids, 20-40% of them carried over
from earlier days with changed ``score``/``num_comments``, multi-line
quoted ``selftext``, RAW nulls, the literal ``None`` author, ~10 skewed
subreddits and every hour of the day.

``expected`` replays the pipeline's documented semantics (transform null
fills, one lake partition per date, last-write-wins upsert on ``id``) in
plain Python, so the benchmark checks the engine against values derived
from the generator alone, for any seed.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import random
from collections import defaultdict

from reddit_etl_pipeline_spark.operators.sketches import QUANTS  # the dashboard's quantiles

SUBREDDITS = [
    "stocks", "investing", "wallstreetbets", "options", "StockMarket",
    "dividends", "SecurityAnalysis", "ValueInvesting", "pennystocks",
    "Bogleheads",
]
# zipf-like skew; the last subreddit gets only a handful of posts a day,
# so HAVING COUNT(*) > 5 style dashboards see groups on both sides
SUB_WEIGHTS = [1.0 / (k + 1) ** 1.3 for k in range(len(SUBREDDITS) - 1)] + [0.004]
FIRST_DAY = dt.datetime(2025, 3, 18, tzinfo=dt.timezone.utc)
WORDS = [
    "GME", "earnings", "calls", "puts", "dividend", "yield", "moon", "bagholder",
    "DD", "Q3", "guidance", "short", "squeeze", "ETF", "index", "rate", "cut",
    "Fed", "CPI", "beat", "miss", "rally", "dip", "hold", "sell", "buy",
]


def base36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while n:
        n, r = divmod(n, 36)
        out = digits[r] + out
    return out or "0"


def day_sizes(seed: int, days: int, lo: int, hi: int) -> list[int]:
    """``days`` day sizes in [lo, hi], log-uniform within equal log-width
    strata, one day per stratum, largest first: every seed spans the
    whole range with the same expected total, and each later day is small
    enough to carry 20-40% of its ids over from the days before it."""
    rng = random.Random(f"sizes-{seed}")
    w = (math.log(hi) - math.log(lo)) / days
    return sorted(
        (round(math.exp(math.log(lo) + w * (i + rng.random()))) for i in range(days)),
        reverse=True,
    )


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _title(rng: random.Random) -> str:
    t = _text(rng, 2, 14)
    r = rng.random()
    if r < 0.1:
        t = f'"{t}", he said'
    elif r < 0.2:
        t += " ’til the \U0001f680"
    return t[:120]


def _selftext(rng: random.Random) -> str | None:
    r = rng.random()
    if r < 0.2:
        return None
    if r < 0.3:
        return ""
    lines = [_text(rng, 2, 15) for _ in range(rng.randint(1, 5))]
    if rng.random() < 0.5:
        lines.insert(1, f'quote: "{rng.choice(WORDS)}, {rng.choice(WORDS)}"')
    return "\n".join(lines)


def _new_post(rng: random.Random, pid: str, i: int, day: dt.datetime, cum: list[float]) -> dict:
    sub = SUBREDDITS[bisect.bisect_left(cum, rng.random() * cum[-1])]
    hour = i % 24 if i < 24 else rng.randrange(24)  # every hour represented
    created = day - dt.timedelta(days=rng.randrange(7)) + dt.timedelta(
        hours=hour, seconds=rng.randrange(3600)
    )
    return {
        "id": pid,
        "title": _title(rng),
        "score": None if rng.random() < 0.03 else min(20_000, int(rng.paretovariate(1.2)) - 1),
        "num_comments": None if rng.random() < 0.03 else min(5_000, int(rng.paretovariate(1.5)) - 1),
        "author": "None" if rng.random() < 0.04 else f"user_{int(rng.paretovariate(0.8)) % 5000}",
        "created_utc": created.timestamp(),
        "url": (f"https://www.reddit.com/r/{sub}/comments/{pid}/"
                if rng.random() < 0.7 else f"https://example.com/{base36(i)}?ref={pid}"),
        "upvote_ratio": None if rng.random() < 0.03 else round(rng.uniform(0.5, 1.0), 2),
        "over_18": "True" if rng.random() < 0.05 else "False",
        "spoiler": "True" if rng.random() < 0.05 else "False",
        "stickied": "True" if rng.random() < 0.05 else "False",
        "selftext": _selftext(rng),
        "subreddit": sub,
    }


def generate(seed: int, sizes: list[int]) -> list[dict]:
    """One dict per day: ``date`` (YYYYMMDD), ``extraction_at`` (µs
    precision, strictly increasing) and ``posts`` (RAW dicts, ids unique
    within the day)."""
    rng = random.Random(f"posts-{seed}")
    cum, acc = [], 0.0
    for w in SUB_WEIGHTS:
        acc += w
        cum.append(acc)
    latest: dict[str, dict] = {}
    seen: list[str] = []
    next_id = 36**6 + rng.randrange(36**5)
    days = []
    for d, n in enumerate(sizes):
        day = FIRST_DAY + dt.timedelta(days=d)
        extraction = day + dt.timedelta(
            hours=9, minutes=rng.randrange(60), seconds=rng.randrange(60),
            microseconds=rng.randrange(1, 1_000_000),
        )
        n_old = min(len(seen), round(n * rng.uniform(0.2, 0.4))) if d else 0
        carried = rng.sample(seen, n_old)
        posts = []
        for pid in carried:  # same post, fresh counters from the API
            p = dict(latest[pid])
            p["score"] = (p["score"] or 0) + 1 + rng.randrange(50)
            p["num_comments"] = (p["num_comments"] or 0) + 1 + rng.randrange(10)
            posts.append(p)
        for i in range(n - n_old):
            pid = base36(next_id)
            next_id += 1 + rng.randrange(3)
            posts.append(_new_post(rng, pid, i, day, cum))
            seen.append(pid)
        rng.shuffle(posts)
        for p in posts:
            latest[p["id"]] = p
        days.append({
            "date": day.strftime("%Y%m%d"),
            "extraction_at": extraction.strftime("%Y-%m-%d %H:%M:%S.%f"),
            "posts": posts,
        })
    return days


def _nearest_rank(sorted_vals: list[int], num: int, den: int) -> float:
    return float(sorted_vals[(len(sorted_vals) * num + den - 1) // den - 1])


def expected(days: list[dict]) -> dict:
    """What the pipeline must report after loading ``days`` in order into
    an empty lake/warehouse:

    - ``audits``: per day, the audit keys of ``run_daily_batch``;
    - ``lake_rows``: rows in the lake (one partition per date);
    - ``latest``: id -> (score, extraction_at) of its newest batch;
    - ``summary``: the ``reddit_summary`` model per subreddit;
    - ``quantiles``: sketch-store score quantiles per subreddit (exact:
      integer scores sit on the sketch grid);
    - ``authors``: exact distinct authors per subreddit over the lake,
      which the HLL dashboard estimates.
    """
    audits = []
    latest: dict[str, tuple[dict, str]] = {}
    lake_scores: dict[str, list[int]] = defaultdict(list)
    lake_authors: dict[str, set] = defaultdict(set)
    for day in days:
        posts = day["posts"]
        scores = [p["score"] or 0 for p in posts]
        comments = [p["num_comments"] or 0 for p in posts]
        for p in posts:
            latest[p["id"]] = (p, day["extraction_at"])
            lake_scores[p["subreddit"]].append(p["score"] or 0)
            lake_authors[p["subreddit"]].add(p["author"])
        audits.append({
            "nulls_raw": sum(v is None for p in posts for v in p.values()),
            "n_rows": len(posts),
            "max_score": max(scores),
            "max_comments": max(comments),
            "avg_score": sum(scores) / len(posts),
            "avg_comments": sum(comments) / len(posts),
            "batch_rows": len(posts),
            "warehouse_rows": len(latest),
        })
    groups: dict[str, list[dict]] = defaultdict(list)
    for p, _ in latest.values():
        groups[p["subreddit"]].append(p)
    summary = {
        sub: {
            "post_count": len(ps),
            "avg_score": sum(p["score"] or 0 for p in ps) / len(ps),
            "avg_comments": sum(p["num_comments"] or 0 for p in ps) / len(ps),
            "max_score": max(p["score"] or 0 for p in ps),
        }
        for sub, ps in groups.items()
    }
    quantiles = {}
    for sub, vals in lake_scores.items():
        vals.sort()
        quantiles[sub] = {f"approx_{nm}": _nearest_rank(vals, a, b) for nm, a, b in QUANTS}
    return {
        "audits": audits,
        "lake_rows": sum(len(d["posts"]) for d in days),
        "latest": {pid: (p["score"] or 0, at) for pid, (p, at) in latest.items()},
        "summary": summary,
        "quantiles": quantiles,
        "authors": {sub: len(a) for sub, a in lake_authors.items()},
    }
