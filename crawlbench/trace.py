"""The traced run: job attribution, event-log folding, and layer probes.

Nothing here instruments the engine. Three things run from the benchmark's
side instead:

* :class:`JobTagger` labels every Spark job with the ``spider_spark``
  function that launched it. It wraps py4j's call path in the driver: before
  each call into the JVM it walks the Python stack to the innermost
  ``spider_spark`` frame (module and qualified function name, never a line
  number) and to the crawl phase whose ``_timed`` call encloses it, and sets
  that as a Spark local property, which the event log records per job.
* :func:`fold_event_log` reads the Spark event log of the traced run and
  folds task metrics (executor run time, shuffle write, spill, GC, Python
  UDF time and Arrow bytes) into phases and layers.
* :func:`probe_layers` times each layer's public functions on frozen inputs
  taken from the corpus; :func:`probe_curation` times the curation operators
  behind the ``__spark_entry__`` compositions on a fixed small corpus.
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time

TAG_PROP = "crawlbench.tag"
# phases whose Spark task metrics are reported; the engine's "bloom" phase
# launches no job on these workloads, and jobs outside every phase fold
# into "untimed"
PHASES = ("seed", "fetch_parse", "dedupe", "rank", "final_results")
# every crawl phase CrawlEngine.phase_times reports on these workloads
TIMED_PHASES = ("seed", "fetch_parse", "counts", "dedupe", "rank", "bloom",
                "final_results")
LAYERS = ("plans.crawl", "plans.continuous", "functions.parse",
          "functions.urlkit", "operators.politeness", "operators.bloom",
          "operators.cuckoo", "operators.ranking", "sources.tableio")
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def site_tag(frame) -> str:
    """``phase|layer:function`` for the innermost ``spider_spark`` frame."""
    site, phase = "-", "untimed"
    while frame is not None:
        mod = frame.f_globals.get("__name__", "")
        if mod.startswith("spider_spark."):
            if site == "-":
                site = f"{mod[len('spider_spark.'):]}:{frame.f_code.co_qualname}"
            if frame.f_code.co_name == "_timed":
                phase = frame.f_locals.get("phase", phase)
                break
        frame = frame.f_back
    return f"{phase}|{site}"


class JobTagger:
    """Context manager that tags the jobs launched inside it (see module
    docstring). Only the driver thread that enters it is tagged."""

    def __init__(self, sc):
        self._jsc = sc._jsc
        self._state = threading.local()

    def __enter__(self) -> "JobTagger":
        from py4j.java_gateway import JavaMember

        self._orig = orig = JavaMember.__call__
        setter = self._jsc.setLocalProperty
        state = self._state

        def call(member, *args):
            if not getattr(state, "busy", False):
                tag = site_tag(sys._getframe(1))
                if tag != getattr(state, "last", None):
                    state.busy = True
                    try:
                        orig(setter, TAG_PROP, tag)
                    finally:
                        state.busy = False
                    state.last = tag
            return orig(member, *args)

        JavaMember.__call__ = call
        return self

    def __exit__(self, *exc) -> None:
        from py4j.java_gateway import JavaMember

        JavaMember.__call__ = self._orig
        self._jsc.setLocalProperty(TAG_PROP, None)


# -- event log -----------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(lines, group: str, window_ms: tuple[int, int]) -> dict:
    """Per-phase and per-layer metrics of the jobs in job group ``group``.

    ``window_ms`` is the operation's wall interval (epoch ms); the part of
    it in which no job of the group was running is the driver's idle time.
    Phases outside :data:`PHASES` fold into ``untimed``; a job's layer is
    the module of the function that launched it.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            phase, _, site = props.get(TAG_PROP, "untimed|-").partition("|")
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "phase": phase if phase in PHASES else "untimed",
                "layer": site.partition(":")[0],
                "start": ev["Submission Time"],
                "end": None,
            }
            for s in ev["Stage IDs"]:
                stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    mine = {j: v for j, v in jobs.items() if v["group"] == group}
    out = {f"{p}.{m}": 0.0 for p in PHASES + ("untimed",)
           for m in ("executor_run_s", "shuffle_write_bytes")}
    out.update({"crawl.gc_s": 0.0, "crawl.spill_bytes": 0})
    out.update({f"jobs.{layer}": 0 for layer in LAYERS})
    out.update({"parse.python_udf_s": 0.0, "parse.arrow_bytes_to_python": 0,
                "parse.arrow_bytes_from_python": 0})
    for v in mine.values():
        if v["layer"] in LAYERS:
            out[f"jobs.{v['layer']}"] += 1
    for ev in tasks:
        job = mine.get(stage_job.get(ev["Stage ID"]))
        if job is None:
            continue
        tm = ev.get("Task Metrics") or {}
        p = job["phase"]
        out[f"{p}.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        out[f"{p}.shuffle_write_bytes"] += (
            tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
        # GC and spill are mostly zero per phase at this scale, so they are
        # reported for the whole crawl
        out["crawl.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        out["crawl.spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
        if p == "fetch_parse":
            acc = {a.get("Name"): a.get("Update")
                   for a in ev.get("Task Info", {}).get("Accumulables", [])}
            # the SQL timing metric is recorded in milliseconds
            out["parse.python_udf_s"] += _num(acc.get(PY_TIME)) / 1e3
            out["parse.arrow_bytes_to_python"] += _num(acc.get(PY_SENT))
            out["parse.arrow_bytes_from_python"] += _num(acc.get(PY_RECV))

    lo, hi = window_ms
    busy, covered = 0, lo  # length of the union of job intervals
    for a, b in sorted((v["start"], min(v["end"] or hi, hi))
                       for v in mine.values()):
        a = max(a, covered)
        if b > a:
            busy, covered = busy + b - a, b
    out["crawl.driver_idle_s"] = (hi - lo - busy) / 1e3
    out["crawl.jobs"] = len(mine)
    return out


# -- layer probes ----------------------------------------------------------------


def _warm_time(fn, reps: int = 1) -> tuple[float, object]:
    """Call ``fn`` once untimed, then return the median wall seconds of
    ``reps`` further calls and the last call's value."""
    fn()
    times, value = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        value = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), value


def _once(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def probe_parse(sample: list[tuple[str, bytes]]) -> dict:
    """The parse kernel and the URL pipeline outside Spark, on a fixed HTML
    sample of ``(url, html)`` rows."""
    import pandas as pd

    from spider_spark.functions.parse import make_parse_udf, parse_page
    from spider_spark.functions.urlkit import CanonURL, canonicalize

    htmls = [h for _, h in sample]
    seeds = pd.Series([u for u, _ in sample])
    udf_body = make_parse_udf("seed").func
    parse_s, _ = _warm_time(lambda: [parse_page(h) for h in htmls], reps=3)
    udf_s, _ = _warm_time(lambda: udf_body(pd.Series(htmls), seeds), reps=3)
    pairs = [(CanonURL.seed(u), href) for u, h in sample
             for href in parse_page(h)[1]]
    url_s, _ = _warm_time(
        lambda: [canonicalize(str(b.join(href))) for b, href in pairs], reps=3)
    return {
        "parse.us_per_page": 1e6 * parse_s / len(htmls),
        "parse.udf_us_per_page": 1e6 * udf_s / len(htmls),
        "urlkit.us_per_link": 1e6 * url_s / len(pairs),
    }


def probe_layers(spark, n_pages: int, work) -> dict:
    """Time the scheduler, ranking, seen filters and TableIO on frozen
    inputs: the corpus URLs, half of them as the seen set."""
    import shutil

    from pyspark.sql import functions as F

    from spider_spark.operators.bloom import build_bloom, filter_unseen
    from spider_spark.operators.cuckoo import (
        build_cuckoo,
        delete_from,
        filter_unseen_cuckoo,
    )
    from spider_spark.operators.politeness import RobotsRules, schedule
    from spider_spark.operators.ranking import with_global_rank
    from spider_spark.sources.pages import url_expr
    from spider_spark.sources.tableio import ParquetManifestIO

    def ckpt(df):
        return df.localCheckpoint(eager=True)

    out = {}
    half = n_pages // 2
    url = url_expr(F.col("id"))
    keyed = ckpt(spark.range(0, n_pages, 1, 8).select(
        url.alias("canon_url"),
        F.regexp_extract(url, r"^https://([^/]+)", 1).alias("host"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.col("id").alias("admission_rank"),
    ))
    seen = ckpt(keyed.filter(F.col("admission_rank") < half))
    fresh = ckpt(keyed.filter(F.col("admission_rank") >= half))
    n_fresh = n_pages - half

    # scheduler on a frozen depth-1 frontier of every page
    frontier = ckpt(keyed.select(
        "canon_url", "host", F.lit(1).alias("depth"),
        F.col("canon_url").alias("seed"), F.col("canon_url").alias("parent"),
        "admission_rank", F.lit(1).alias("round_admitted"),
    ))
    rules = RobotsRules.from_df(None)

    def run_schedule():
        eligible, carry, _ = schedule(frontier, 75, rules, waves=4)
        return ckpt(eligible).count(), ckpt(carry).count()

    out["schedule.s"], (_, n_carry) = _warm_time(run_schedule)
    out["schedule.carryover_ratio"] = n_carry / n_pages

    # admission ranking on frozen candidates
    cands = ckpt(keyed.select(
        "canon_url", "depth",
        (F.col("admission_rank") % 997).alias("parent_rank"),
        (F.col("admission_rank") % 4).alias("link_pos"),
    ).dropDuplicates(["depth", "parent_rank", "link_pos"]))
    out["rank.s"], _ = _warm_time(lambda: with_global_rank(
        cands, ["depth", "parent_rank", "link_pos"], "admission_rank",
        with_count=True)[1])

    # bloom: build on the seen half, probe the disjoint other half; the
    # probe's flagged rows are the false positives
    out["bloom.build_s"], bloom = _warm_time(
        lambda: build_bloom(seen, "canon_url", expected=half))
    flagged = {}

    def bloom_probe():
        def keep(df):
            flagged["df"] = ckpt(df)
            return flagged["df"]
        filter_unseen(fresh, "canon_url", seen, bloom, materialize=keep,
                      materialize_confirmed=False)
        bloom.destroy_broadcasts()

    probe_s, _ = _warm_time(bloom_probe)
    out["bloom.probe_us_per_key"] = 1e6 * probe_s / n_fresh
    out["bloom.fpp_observed"] = (
        flagged["df"].filter(F.col("__maybe")).count() / n_fresh)

    # cuckoo: build, probe the disjoint half, delete a quarter
    out["cuckoo.build_s"], ck = _warm_time(
        lambda: build_cuckoo(seen, "canon_url", expected=2 * n_pages))

    def ck_probe():
        filter_unseen_cuckoo(fresh, "canon_url", seen, ck,
                             materialize=ckpt).count()
        ck.destroy_broadcasts()

    out["cuckoo.probe_s"], _ = _warm_time(ck_probe)
    doomed = ckpt(seen.filter(F.col("admission_rank") % 2 == 0))
    out["cuckoo.delete_s"] = _once(lambda: delete_from(ck, doomed, "canon_url"))

    # TableIO: commit the seen set, sync the bucketed mirror, append the
    # rest; a throwaway table takes each call's first (cold) run
    store = work / "probe-store"
    shutil.rmtree(store, ignore_errors=True)
    io = ParquetManifestIO(spark, str(store))
    rows = {"warm": seen.select("canon_url", "depth", "admission_rank"),
            "seen": seen.select("canon_url", "depth", "admission_rank")}
    delta = fresh.select("canon_url", "depth", "admission_rank")
    for name in ("warm", "seen"):
        out["tableio.commit_s"] = _once(lambda: io.commit_overwrite(
            name, rows[name], bucket_by="canon_url", meta={"round": 0}))
        out["tableio.mirror_s"] = _once(
            lambda: io.read_bucketed_keys(name, "canon_url", 32).count())
        out["tableio.append_s"] = _once(
            lambda: io.append(name, delta, meta={"round": 1}))
        io.drop_mirror(name)
    out["tableio.bytes_written"] = sum(
        p.stat().st_size for p in (store / "seen").rglob("*") if p.is_file())
    shutil.rmtree(store, ignore_errors=True)
    return out


def probe_continuous(spark, pages, n_pages: int, work) -> dict:
    """The wave loop on a small durable corpus: a depth-0 bootstrap of 200
    seeds, then one wave in which about half of them are due."""
    import shutil

    from spider_spark.plans.continuous import ContinuousCrawler
    from spider_spark.plans.crawl import CrawlConfig
    from spider_spark.sources.pages import PAGES_EPOCH, seed_url_for
    from spider_spark.sources.tableio import ParquetManifestIO

    store = work / "probe-continuous"
    shutil.rmtree(store, ignore_errors=True)
    cc = ContinuousCrawler(
        spark, pages, CrawlConfig(depth=0, verify_text=False),
        io=ParquetManifestIO(spark, str(store)), expected_urls=4 * n_pages)
    seeds = [seed_url_for(i, n_pages) for i in range(0, n_pages, n_pages // 200)]
    ttl = 10 * n_pages
    out = {"continuous.bootstrap_s": _once(lambda: cc.bootstrap(seeds))}
    out["continuous.wave_s"] = _once(
        lambda: cc.wave(PAGES_EPOCH + ttl + n_pages // 2, ttl, jitter_frac=0.0))
    if not cc.waves[-1].due:
        raise RuntimeError("continuous probe: the wave found nothing due")
    shutil.rmtree(store, ignore_errors=True)
    return out


CURATION_DOCS = 500
CURATION_WORDS = (
    "the a data table scan join sort merge hash key order window batch "
    "stream spark query row column filter agg value line part vector fast "
    "slow big small customer dup"
).split()


def curation_inputs(spark):
    """One fixed documents table shaped like the test data's
    (``doc_id, text, lang, source, n_chars``) and a model-embedding table
    over the same ids (``vec_id, embedding, label``). Every 13th document
    copies an earlier one's text and every 11th copies an earlier one with
    one word changed, so the dedup stages have work; every 17th vector is a
    small perturbation of an earlier one."""
    import math
    import random

    rng = random.Random(20240611)
    texts = []
    for i in range(CURATION_DOCS):
        if i >= 13 and i % 13 == 0:
            text = texts[i - 5]
        elif i >= 22 and i % 11 == 0:
            words = texts[i - 11].split()
            words[rng.randrange(len(words))] = rng.choice(CURATION_WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(CURATION_WORDS)
                            for _ in range(rng.randint(12, 90)))
        texts.append(text)
    langs = ("en", "es", "de", "fr", "zh")
    docs = spark.createDataFrame(
        [(i, t, langs[i % 5], f"src{i % 4}", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")

    vecs = []
    for i in range(CURATION_DOCS):
        if i >= 34 and i % 17 == 0:
            v = [x + rng.gauss(0, 0.02) for x in vecs[i - 17]]
        else:
            v = [rng.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    emb = spark.createDataFrame(
        [(i, v, i % 10) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    return docs.localCheckpoint(eager=True), emb.localCheckpoint(eager=True)


def probe_curation(spark) -> dict:
    """Each stage operator of the ``web_curation_semantic`` and
    ``training_mix_semantic`` compositions, through its public function, on
    :func:`curation_inputs` with the compositions' own parameters. Each
    result is written to Spark's no-op sink, so every column is computed;
    a stage's input is materialized beforehand and not timed. Each stage
    runs once, as it does in a composition, so its time includes planning
    and code generation."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from spider_spark.functions.perplexity import perplexity_buckets
    from spider_spark.functions.text import gopher_rules
    from spider_spark.functions.vectorize import hashed_tf_vectors
    from spider_spark.operators.blocklist import blocklist_filter
    from spider_spark.operators.decontam import decontaminate
    from spider_spark.operators.dedupe import exact_duplicates, lsh_candidate_pairs
    from spider_spark.operators.graph import connected_components
    from spider_spark.operators.sampling import (
        hash_split,
        temperature_mix_sample,
        token_budget_sample,
    )
    from spider_spark.operators.semdedup import semdedup_flags
    from spider_spark.sources.pages import url_expr

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    docs, emb = curation_inputs(spark)
    keyed = docs.withColumn("k", F.col("doc_id").cast("string")).localCheckpoint(
        eager=True)
    with_url = docs.withColumn("url", url_expr(F.col("doc_id"))).localCheckpoint(
        eager=True)
    blocked = spark.createDataFrame([(d,) for d in entry.BLOCKED_DOMAINS],
                                    "domain string")
    bench = docs.filter(F.col("doc_id") % 97 == 0).localCheckpoint(eager=True)
    out = {}
    # the candidate pairs are connected_components' input, so this stage is
    # materialized as a checkpoint instead of the no-op sink
    t0 = time.perf_counter()
    pairs = lsh_candidate_pairs(docs).localCheckpoint(eager=True)
    out["curation.lsh_candidate_pairs_s"] = time.perf_counter() - t0
    stages = {
        "blocklist_filter": lambda: blocklist_filter(with_url, "url", blocked),
        "gopher_rules": lambda: gopher_rules(docs),
        "perplexity_buckets": lambda: perplexity_buckets(docs),
        "exact_duplicates": lambda: exact_duplicates(docs),
        "connected_components": lambda: connected_components(pairs),
        "hashed_tf_vectors": lambda: hashed_tf_vectors(docs),
        "semdedup_flags": lambda: semdedup_flags(
            emb, threshold=entry.NEAR_DUP_THRESHOLD, n_centroids=8),
        "decontaminate": lambda: decontaminate(docs, bench, n=entry.DECONTAM_N),
        "token_budget_sample": lambda: token_budget_sample(
            keyed, "source", "k", "n_chars", entry.BUDGET_CHARS),
        "hash_split": lambda: hash_split(keyed, key_col="k",
                                         splits=entry.SPLITS),
        "temperature_mix_sample": lambda: temperature_mix_sample(
            keyed, "lang", "k", entry.WEB_CURATION_BUDGET),
    }
    for name, build in stages.items():
        out[f"curation.{name}_s"] = _once(lambda: sink(build()))
    return out


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if name.startswith("jobs."):
        return "count"
    if name.endswith(("bytes", "_python", "_written")):
        return "bytes"
    if name.endswith("per_round"):
        return "jobs/round"
    if name.endswith(("_frac", "_ratio", "fpp_observed")):
        return "ratio"
    return "us" if "us_per_" in name else "s"
