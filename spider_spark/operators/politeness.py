"""Per-host politeness scheduler + robots filter (SURVEY I2, north rule).

The reference's "politeness" is an ``asyncio.Semaphore(concurrency_limit)``
acquired once around the entire crawl — a no-op in practice (quirk Q4,
crawler.py:82-83; default limit 5, cli.py:67-74, config.ini.example:9).
The north rule requires the real thing: a per-host budget per round with a
priority queue, expressed as a ``row_number()`` window per host — pure JVM,
no Python worker in the scheduler.

**One tagger.** :func:`tag_frontier` tags every frontier row with a
``__fate`` (``eligible`` / ``carry`` / ``blocked``) and drops none: the
robots join flags ``blocked``; while any cap applies, a strict-BFS gate
lets only the minimum-depth level of the unblocked rows compete; the
per-group top-k and the optional global round cap (the same core with
one group, tier first in the order) pick ``eligible``. A crawl round
checkpoints the tagged frame once; :func:`schedule`,
:func:`global_round_cap` and :func:`apply_robots` are filters over it.

Scale design (hard item H4 — one hot host can hold ~50% of the frontier):
a single window partitioned by host would funnel the hot host into one
task. The top-k core therefore ranks in **two stages**, flagging rather
than dropping:

1. **salted stage** — partition by ``(group, pmod(xxhash64(url), salt),
   candidate)``; a candidate survives when it is among its partition's
   first ``k``. This spreads the hot host over ``salt`` tasks.
2. **exact stage** — partition by ``(group, -1 if survivor else shard)``:
   a group's ≤ ``salt × k`` survivors share one partition and are ranked
   again, every other row stays in its shard's partition. No window
   partition holds more than one shard of a group plus the survivors.

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
    a driver collect. Provably empty rules skip the join: nothing is
    blocked and no ``__delay_cap`` column is added."""
    if rules.trivially_empty:
        return frontier.withColumn("__blocked", F.lit(False))
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
    """Split frontier into (allowed, blocked) by the robots verdict: two
    filters over the tagger's robots stage. ``allowed`` keeps the
    ``__delay_cap`` helper column when the rules carry delays."""
    flagged = _with_rules(frontier, rules, round_window_sec)
    allowed = flagged.filter(~F.col("__blocked")).drop("__blocked")
    denied = flagged.filter(F.col("__blocked")).drop("__blocked", "__delay_cap")
    return allowed, denied


FATE = "__fate"
ELIGIBLE, CARRY, BLOCKED = "eligible", "carry", "blocked"
FATES = (ELIGIBLE, CARRY, BLOCKED)


def _top_k(df: DataFrame, group: list, kk, order: list, salt: int,
           pool) -> DataFrame:
    """Flag ``__top`` on each group's first ``kk`` ``pool`` rows in
    ``order`` (a NULL ``kk`` is no cap) and drop no row: the salted, then
    exact ``row_number`` stages of the module docstring."""
    shard = F.pmod(F.xxhash64(F.col("canon_url")), F.lit(salt))

    def fits(*part):
        w = Window.partitionBy(*group, *part).orderBy(*order)
        return F.col("__kk").isNull() | (F.row_number().over(w) <= F.col("__kk"))

    top = F.col("__top")
    return (
        df.withColumn("__kk", kk)
        .withColumn("__top", pool & fits(shard, pool))
        .withColumn("__top", top & fits(F.when(top, F.lit(-1)).otherwise(shard)))
        .drop("__kk")
    )


def tag_frontier(
    frontier: DataFrame, budget: int | None, rules: RobotsRules | None = None,
    salt: int = 8, round_window_sec: float = 60.0, strict_bfs: bool = True,
    waves: int = 1, host_budgets: DataFrame | None = None,
    group_col: str = "host", round_cap: int | None = None,
    tier_col: str | None = None,
) -> DataFrame:
    """The frontier's columns plus ``__fate``: ``blocked`` by robots,
    ``eligible`` for this round, or ``carry`` to the next. The arguments
    are :func:`schedule`'s plus the global round cap of
    :func:`global_round_cap` (``round_cap``, ``tier_col``), which applies
    after the per-group caps."""
    if round_cap is not None and round_cap < 1:
        raise ValueError(f"cap must be ≥1: {round_cap}")
    cols = frontier.columns
    df = _with_rules(frontier, rules or RobotsRules(), round_window_sec)
    blocked = F.col("__blocked")
    # with no cap every unblocked row is eligible: delay caps don't apply
    # either (reference parity keeps robots exclusion but no rate maths)
    per_group = budget is not None or host_budgets is not None
    pool = ~blocked
    if strict_bfs and (per_group or round_cap is not None):
        # gate to the minimum-depth level: a 1-row aggregate joined back
        # (broadcast) — no driver round-trip
        lvl = df.filter(pool).agg(F.min("depth").alias("__lvl"))
        df = df.crossJoin(F.broadcast(lvl))
        pool = pool & (F.col("depth") == F.col("__lvl"))
    df = df.withColumn("__pool", pool)
    pool = F.col("__pool")
    order = [F.col(c).asc() for c in PRIORITY_COLS] + [F.col("canon_url").asc()]

    if per_group:
        # per-group cap: least() skips NULLs, so a NULL cap means uncapped
        waves = max(1, waves)
        caps = [] if budget is None else [F.lit(budget * waves)]
        if "__delay_cap" in df.columns:
            # a batched round spans `waves` politeness windows → delay caps
            # scale identically to the budget
            delay_cap = F.col("__delay_cap") * waves
            if group_col != "host":
                # host-scoped robots caps folded to the group's strictest
                # competing member (min ignores NULL = uncapped hosts)
                delay_cap = F.min(delay_cap).over(
                    Window.partitionBy(group_col, pool))
            caps.append(delay_cap)
        if host_budgets is not None:
            hb = host_budgets.select(
                F.lower(F.col(group_col)).alias(group_col),
                (F.greatest(F.col("budget").cast("int"), F.lit(1))
                 * waves).alias("__host_budget"),
            )
            df = df.join(F.broadcast(hb), on=group_col, how="left")
            caps.append(F.col("__host_budget"))
        kk = caps[0] if len(caps) == 1 else F.least(*caps)
        df = _top_k(df, [group_col], kk, order, salt, pool)
        pool = F.col("__top")
    if round_cap is not None:
        # one group: the whole pool, tier first in the order
        tier = [F.col(tier_col).asc()] if tier_col else []
        df = _top_k(df, [], F.lit(round_cap), tier + order, salt, pool)
        pool = F.col("__top")
    fate = F.when(blocked, BLOCKED).when(pool, ELIGIBLE).otherwise(CARRY)
    return df.select(*cols, fate.alias(FATE))


def split_fates(tagged: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(eligible, carryover, blocked)`` as filters over a tagged frontier."""
    return tuple(
        tagged.filter(F.col(FATE) == f).drop(FATE) for f in FATES
    )


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
    """Return ``(eligible, carryover, blocked)`` for this round: the three
    fates of :func:`tag_frontier`, as filters over one tagged plan.

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
    return split_fates(tag_frontier(
        frontier, budget, rules, salt=salt, round_window_sec=round_window_sec,
        strict_bfs=strict_bfs, waves=waves, host_budgets=host_budgets,
        group_col=group_col,
    ))


def global_round_cap(eligible: DataFrame, cap: int,
                     tier_col: str | None = None,
                     salt: int = 8,
                     strict_bfs: bool = True) -> tuple[DataFrame, DataFrame]:
    """Tiered global round capacity: split the politeness-eligible set
    into ``(kept, deferred)`` where ``kept`` is the top ``cap`` rows by
    ``(tier, depth, admission_rank, canon_url)`` — the "tier crawl"
    semantic: when round capacity is bounded (executor memory, commit
    sizing), high-tier hosts' URLs claim it first and everything else
    waits in carryover. These are the eligible and carry fates of
    :func:`tag_frontier` with only the round cap set; a crawl round
    applies the cap in its one tagger pass, after the per-host budgets.
    Deferred rows drain through carryover like budget carryover, so the
    module's invariance argument applies verbatim under ``strict_bfs``.

    ``strict_bfs=True`` gates the pool to the minimum-depth level BEFORE
    tiers rank it (non-min-depth rows go straight to ``deferred``). This
    is load-bearing for the invariance theorem: the tier key outranks
    depth by design, so without the gate a budget-less capped crawl could
    fetch a high-tier deep URL before a low-tier shallow one, stamp
    discoveries at non-minimal depths, and shrink the seen set under a
    binding depth bound. ``strict_bfs=False`` is max-throughput mode:
    pure ``(tier, depth, admission)`` order across levels.

    Exact top-``cap`` without a global sort: the top-k core with a single
    group — stage 1 ranks within url-hash shards, stage 2 ranks the ≤
    ``salt × cap`` survivors. Deterministic: ties break on ``canon_url``."""
    kept, deferred, _ = split_fates(tag_frontier(
        eligible, None, salt=salt, strict_bfs=strict_bfs,
        round_cap=cap, tier_col=tier_col,
    ))
    return kept, deferred
