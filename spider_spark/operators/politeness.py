"""Per-host politeness scheduler + robots filter (SURVEY I2, north rule).

The reference's "politeness" is an ``asyncio.Semaphore(concurrency_limit)``
acquired once around the entire crawl — a no-op in practice (quirk Q4,
crawler.py:82-83; default limit 5, cli.py:67-74, config.ini.example:9).
The north rule requires the real thing: a per-host budget per round with a
priority queue, expressed as a ``row_number()`` window per host — pure JVM,
no Python worker in the scheduler.

Scale design (hard item H4 — one hot host can hold ~50% of the frontier):
a single window partitioned by host would funnel the hot host into one
task. The scheduler therefore selects top-k-per-host in **two stages**:

1. **salted stage** — partition by ``(host, pmod(xxhash64(url), salt))``
   and keep at most ``k`` rows per salted partition (each one's local
   top-k by the priority key). This bounds any partition to ``k`` rows
   and spreads the hot host over ``salt`` tasks.
2. **exact stage** — partition the ≤ ``salt × k`` survivors by host and
   keep the true top-``k``.

Both stages order by the BFS priority key ``(depth, admission_rank)`` (the
north rule's crawl-depth/priority score), ties broken by ``canon_url``, so
the result is exactly the rows a single per-host priority queue would emit.
URLs beyond the budget are *carryover*: they stay in the frontier for the
next round.

**Seen-set invariance.** The budget changes scheduling, never membership —
*provided* min-depth discovery order is preserved. That is a theorem only
under ``strict_bfs=True`` (the default): each round fetches only the
frontier's minimum-depth level, so every URL is discovered via its
shortest path and the depth stamps — hence the expansion cutoff at
``cfg.depth`` and the final URL-seen set — match the unbudgeted BFS
exactly. With ``strict_bfs=False`` (max-throughput mode: deeper URLs may
fetch while shallow carryover waits) the invariant holds only when the
depth bound is not binding (deep-first discovery can stamp a URL at a
non-minimal depth and suppress expansion the unbudgeted crawl would do).

**Wave batching.** ``waves=w`` schedules ``w`` politeness windows in one
Spark round: top-``w×budget`` per host instead of top-``budget``, with
crawl-delay caps scaled the same way. This amortizes the per-round fixed
cost (driver orchestration) over ``w`` windows — essential when budgets
are small relative to cluster round latency. Links discovered inside a
batched round are admitted only after it, so relative order between a
deferred shallow page's children and deeper carryover can differ from
``waves=1``; under ``strict_bfs`` the URL-seen set is identical either
way (membership is scheduling-invariant).

Robots: a ``host → (disallow_prefixes, crawl_delay)`` table is joined on
``host`` (broadcast when small — AQE picks the strategy; at 10^8 hosts it
degrades to a host-keyed shuffle join, never a driver collect). URLs
matching a disallowed path prefix are excluded from fetching entirely
(marked ``blocked``); ``crawl_delay`` caps the per-round host budget at
``round_window / crawl_delay`` fetches. Prefix matching and TTL expiry
are JVM Column expressions — no Python and no driver state in the path.

Full RFC 9309 matching: when the rules table carries the ``rules``
column (``array<struct<lk, len, allow>>`` from
``functions/robots.parse_robots_df`` — every Allow AND Disallow pattern
compiled to a SQL ``LIKE`` pattern plus its raw-octet length), the
verdict is the RFC's longest-match precedence (most raw octets wins,
ties → Allow, no match → allowed), folded as ONE JVM ``aggregate`` over
the array with ``like(path, lk, '^')`` — still zero Python per URL, and
``LIKE … ESCAPE`` has identical semantics in DuckDB so the matcher is
oracle-checkable end-to-end. Tables without ``rules`` keep the legacy
conservative prefix-disallow gate.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRIORITY_COLS = ["depth", "admission_rank"]

ROBOTS_SCHEMA = (
    "host string, disallow_prefixes array<string>, crawl_delay double"
)


@dataclass(frozen=True)
class RobotsRules:
    """host → rules, carried as data (dicts for tiny literal rule sets, a
    DataFrame for the scale path). The rules are *joined* onto the
    frontier — the driver never materializes the table (at 10^8 hosts a
    ``collect()`` here would be a driver OOM; see VERDICT r1 §wrong-4)."""

    disallow: dict[str, tuple[str, ...]] | None = None
    crawl_delay: dict[str, float] | None = None
    df: DataFrame | None = None

    @staticmethod
    def from_df(robots_df: DataFrame | None, *, now: dt.datetime | None = None,
                ttl_sec: float | None = None) -> "RobotsRules":
        """Wrap a host→rules table, honoring the TTL cache column
        relationally: rows whose ``fetched_ts`` is older than ``ttl_sec``
        (relative to ``now``) — or null — are dropped by a JVM filter; a
        live deployment would re-fetch robots.txt for those hosts, offline
        they simply stop constraining (crawl-allowed default, like an
        expired cache entry). Tables without a ``fetched_ts`` column never
        expire. No ``collect()``: the filter composes into the per-round
        join."""
        if robots_df is None:
            return RobotsRules()
        if ttl_sec is not None and now is not None and \
                "fetched_ts" in robots_df.columns:
            cutoff = now - dt.timedelta(seconds=ttl_sec)
            robots_df = robots_df.filter(
                F.col("fetched_ts").isNotNull()
                & (F.col("fetched_ts") >= F.lit(cutoff))
            )
        cols = ["host", "disallow_prefixes", "crawl_delay"]
        if "rules" in robots_df.columns:
            cols.append("rules")  # full RFC 9309 matcher (see module doc)
        return RobotsRules(df=robots_df.select(*cols))

    @property
    def trivially_empty(self) -> bool:
        """True when there are provably no rules *without running a job*
        (dict-backed empties). A df-backed rule set is never trivially
        empty — the engine keeps the robots join in the plan and lets the
        join find it empty distributedly."""
        return self.df is None and not self.disallow and not self.crawl_delay

    def to_df(self, spark) -> DataFrame:
        """The rules as a joinable table (dict-backed rules are lifted to a
        tiny DataFrame; df-backed pass through)."""
        if self.df is not None:
            return self.df
        hosts = sorted(set(self.disallow or ()) | set(self.crawl_delay or ()))
        rows = [
            (
                h,
                list((self.disallow or {}).get(h, ()) or []),
                float((self.crawl_delay or {}).get(h, 0.0)),
            )
            for h in hosts
        ]
        return spark.createDataFrame(rows, ROBOTS_SCHEMA)


def _path_expr(url):
    """JVM path extraction from a canonical URL (scheme://host/path...):
    everything from the first ``/`` after the authority; '/' when absent."""
    p = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/]*(/.*)$", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_verdict_blocked(path, rules_col) -> F.Column:
    """RFC 9309 longest-match verdict as one JVM ``aggregate`` fold over
    the compiled rule array (``struct<lk, len, allow>`` — see
    functions/robots.RULE_SCHEMA): among rules whose ``LIKE`` pattern
    matches ``path``, the one with the most raw-pattern octets wins,
    ties break toward Allow, no match (or no rules row) → allowed.
    Escape char ``^`` matches functions/robots.LIKE_ESCAPE and the
    DuckDB oracle's ``LIKE … ESCAPE '^'``."""
    best = F.aggregate(
        rules_col,
        F.struct(F.lit(-1).alias("len"), F.lit(True).alias("allow")),
        lambda acc, r: F.when(
            F.like(path, r["lk"], F.lit("^"))
            & (
                (r["len"] > acc["len"])
                | ((r["len"] == acc["len"]) & r["allow"])
            ),
            F.struct(r["len"].alias("len"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    return F.coalesce(~best["allow"], F.lit(False))


def _with_rules(frontier: DataFrame, rules: RobotsRules,
                round_window_sec: float) -> DataFrame:
    """Join the rules table onto the frontier (host key), yielding JVM
    columns ``__blocked`` (RFC 9309 longest-match verdict when the table
    carries compiled ``rules``; conservative disallow-prefix match
    otherwise) and ``__delay_cap`` (per-round fetch cap from crawl_delay;
    null = no cap). The rules side is tiny in practice → AQE broadcasts
    it; a huge robots table degrades to a host-keyed shuffle join, never
    a driver collect."""
    rules_df = rules.to_df(frontier.sparkSession)
    full_match = "rules" in rules_df.columns
    sel = [
        F.col("host"),
        F.col("disallow_prefixes").alias("__dis"),
        F.col("crawl_delay").alias("__delay"),
    ]
    if full_match:
        sel.append(F.col("rules").alias("__rules"))
    joined = frontier.join(rules_df.select(*sel), on="host", how="left")
    path = _path_expr(F.col("canon_url"))
    if full_match:
        blocked = robots_verdict_blocked(path, F.col("__rules"))
    else:
        blocked = F.coalesce(
            F.exists(F.col("__dis"), lambda p: F.startswith(path, p)),
            F.lit(False),
        )
    delay_cap = F.when(
        F.col("__delay") > 0,
        F.greatest(
            F.floor(F.lit(float(round_window_sec)) / F.col("__delay")), F.lit(1)
        ).cast("int"),
    )  # else NULL → uncapped
    return (
        joined.withColumn("__blocked", blocked)
        .withColumn("__delay_cap", delay_cap)
        .drop("__dis", "__delay", *(["__rules"] if full_match else []))
    )


def apply_robots(frontier: DataFrame, rules: RobotsRules,
                 round_window_sec: float = 60.0) -> tuple[DataFrame, DataFrame]:
    """Split frontier into (allowed, blocked) by disallow-prefix match.
    ``allowed`` keeps a ``__delay_cap`` helper column consumed by
    :func:`schedule` (dropped before rows leave the scheduler)."""
    if rules.trivially_empty:
        return frontier, frontier.limit(0)
    flagged = _with_rules(frontier, rules, round_window_sec)
    allowed = flagged.filter(~F.col("__blocked")).drop("__blocked")
    denied = flagged.filter(F.col("__blocked")).drop("__blocked", "__delay_cap")
    return allowed, denied


def schedule(
    frontier: DataFrame,
    budget: int | None,
    rules: RobotsRules | None = None,
    salt: int = 8,
    round_window_sec: float = 60.0,
    strict_bfs: bool = True,
    waves: int = 1,
    host_budgets: DataFrame | None = None,
    group_col: str = "host",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Return ``(eligible, carryover, blocked)`` for this round.

    ``budget=None`` (reference parity: the semaphore never actually limits,
    Q4) makes every allowed URL eligible. ``eligible ∪ carryover ∪ blocked``
    == frontier exactly. ``waves`` batches that many politeness windows
    into the round (budget and delay caps scale by ``waves``); under
    ``strict_bfs`` only the frontier's minimum-depth level competes for
    budget, which preserves min-depth discovery (see module docstring).
    Each group keeps its first ``min(budget × waves, delay cap, host
    budget)`` rows (a NULL cap is no cap) in ``(depth, admission_rank,
    canon_url)`` order: rows tied on the priority key are taken by
    ascending ``canon_url``, so the eligible set is deterministic.

    ``host_budgets`` is an optional ``(host, budget)`` table of PER-HOST
    round budgets (e.g. derived from TrustRank/OPIC buckets, crawl
    contracts, or abuse history) that composes with the scalar ``budget``
    and the robots delay caps by minimum. It rides the same broadcast-join
    + per-group window path as the delay caps — host-level, tiny next to
    the frontier, never collected. Budgets clamp to ≥1 (a 0-budget host
    would never drain its carryover and the crawl loop could not
    terminate; exclusion is robots'/the blocklist's job, not the rate
    limiter's) and scale by ``waves`` like every other cap. With
    ``budget=None`` unlisted hosts stay unlimited (the table is the only
    constraint); the seen-set invariance argument is unchanged — budgets
    reschedule, never drop (module docstring).

    ``group_col`` is the politeness grouping key (default the raw host).
    Passing a site-level column (e.g. the registrable domain from
    :func:`~spider_spark.functions.domains.registrable_domains`) makes
    the budget count fetches PER SITE — ``a.shop.example`` and
    ``b.shop.example`` share one allowance, the way real crawlers rate
    sites rather than hostnames. Robots delay caps are still computed
    per host (robots.txt is a host-scoped protocol); within a group the
    MINIMUM member cap applies — conservative by construction (the group
    never out-fetches its strictest member's rate). ``host_budgets``
    joins on ``group_col`` (key the table accordingly). The invariance
    argument is grouping-independent: caps reschedule, never drop.
    """
    rules = rules or RobotsRules()
    if rules.trivially_empty:
        allowed, blocked_df = frontier, frontier.limit(0)
    else:
        allowed, blocked_df = apply_robots(frontier, rules, round_window_sec)
    if budget is None and host_budgets is None:
        # no budget: delay caps don't apply either (reference parity
        # path keeps robots exclusion but no rate maths)
        return allowed.drop("__delay_cap"), frontier.limit(0), blocked_df

    if strict_bfs:
        # gate to the minimum-depth level: a 1-row aggregate joined back
        # (broadcast) — no driver round-trip, stays one Spark job
        lvl = allowed.agg(F.min("depth").alias("__lvl"))
        gated = (
            allowed.join(F.broadcast(lvl), on=F.col("depth") == F.col("__lvl"))
            .drop("__lvl")
        )
    else:
        gated = allowed

    # per-group cap: least() skips NULLs, so a NULL cap means uncapped
    waves = max(1, waves)
    caps = [] if budget is None else [F.lit(budget * waves)]
    if "__delay_cap" in gated.columns:
        # a batched round spans `waves` politeness windows → delay caps
        # scale identically to the budget
        delay_cap = F.col("__delay_cap") * waves
        if group_col != "host":
            # host-scoped robots caps folded to the group's strictest
            # member (min ignores NULL = uncapped hosts)
            delay_cap = F.min(delay_cap).over(Window.partitionBy(group_col))
        caps.append(delay_cap)
    if host_budgets is not None:
        hb = host_budgets.select(
            F.lower(F.col(group_col)).alias(group_col),
            (F.greatest(F.col("budget").cast("int"), F.lit(1))
             * waves).alias("__host_budget"),
        )
        gated = gated.join(F.broadcast(hb), on=group_col, how="left")
        caps.append(F.col("__host_budget"))
    kk = caps[0] if len(caps) == 1 else F.least(*caps)

    order = [F.col(c).asc() for c in PRIORITY_COLS] + [F.col("canon_url").asc()]
    shard = F.pmod(F.xxhash64(F.col("canon_url")), F.lit(salt))
    keep = F.col("__kk").isNull() | (F.col("__r") <= F.col("__kk"))
    eligible = gated.withColumn("__kk", kk)
    for part in ([group_col, shard], [group_col]):  # salted, then exact
        w = Window.partitionBy(*part).orderBy(*order)
        eligible = (
            eligible.withColumn("__r", F.row_number().over(w))
            .filter(keep)
            .drop("__r")
        )
    eligible = eligible.drop("__kk", "__delay_cap", "__host_budget")
    carryover = allowed.drop("__delay_cap").join(
        eligible.select("canon_url"), on="canon_url", how="left_anti"
    )
    return eligible, carryover, blocked_df


def global_round_cap(eligible: DataFrame, cap: int,
                     tier_col: str | None = None,
                     salt: int = 8,
                     strict_bfs: bool = True) -> tuple[DataFrame, DataFrame]:
    """Tiered global round capacity: split the politeness-eligible set
    into ``(kept, deferred)`` where ``kept`` is the top ``cap`` rows by
    ``(tier, depth, admission_rank, canon_url)`` — the "tier crawl"
    semantic: when round capacity is bounded (executor memory, commit
    sizing), high-tier hosts' URLs claim it first and everything else
    waits in carryover. Per-host politeness budgets stay enforced (this
    runs AFTER :func:`schedule`); the URL-seen set is unchanged because
    deferred rows drain through carryover exactly like budget carryover
    does (the module's invariance argument applies verbatim under
    ``strict_bfs`` — deferred rows keep their depth and re-compete at the
    min-depth gate).

    ``strict_bfs=True`` gates the pool to the frontier's minimum-depth
    level BEFORE tiers rank it (non-min-depth rows go straight to
    ``deferred``). This is load-bearing for the invariance theorem: the
    tier key outranks depth by design (high-tier hosts claim capacity
    first), so without the gate a budget-less capped crawl could fetch a
    high-tier deep URL before a low-tier shallow one, stamp discoveries
    at non-minimal depths, and shrink the seen set under a binding depth
    bound. (When a per-host budget is set, :func:`schedule` has already
    applied this gate and the join below finds every row at one depth —
    a cheap no-op.) ``strict_bfs=False`` is max-throughput mode: pure
    ``(tier, depth, admission)`` order across levels, same caveats as the
    scheduler's non-strict mode.

    Exact top-``cap`` without a global sort: the same salted two-stage
    ``row_number`` pattern as the stratified sampler — stage 1 ranks
    within url-hash shards (no single task ever sorts more than one
    shard), stage 2 ranks the ≤ ``salt × cap`` survivors. Deterministic:
    ties break on ``canon_url``."""
    if cap < 1:
        raise ValueError(f"cap must be ≥1: {cap}")
    pool = eligible
    if strict_bfs:
        lvl = eligible.agg(F.min("depth").alias("__lvl"))
        pool = (
            eligible.join(F.broadcast(lvl), on=F.col("depth") == F.col("__lvl"))
            .drop("__lvl")
        )

    cols = ([tier_col] if tier_col else []) + PRIORITY_COLS
    order = [F.col(c).asc() for c in cols] + [F.col("canon_url").asc()]
    w1 = Window.partitionBy(
        F.pmod(F.xxhash64(F.col("canon_url")), F.lit(salt))
    ).orderBy(*order)
    stage1 = (
        pool.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= cap)
        .drop("__r1")
    )
    w2 = Window.partitionBy().orderBy(*order)
    kept = (
        stage1.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= cap)
        .drop("__r2")
    )
    deferred = eligible.join(
        kept.select("canon_url"), on="canon_url", how="left_anti"
    )
    return kept, deferred
