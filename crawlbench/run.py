#!/usr/bin/env python3
"""Crawl benchmark: one workload per invocation, closed loop, oracle-checked.

    python3 crawlbench/run.py --workload frontier_bulk --seed 1 --seconds 16 --trace 0

Run from the root of a checkout; the engine is imported from that checkout
and all state goes to ``.crawlbench/`` beside it. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The lines before it carry a readable summary and the host stamp. See
``crawlbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import statistics
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".crawlbench"
MAX_OP_SECONDS = 120  # start no operation past this much wall time
TRACED_GROUP = "crawlbench-traced"

END_TO_END = {
    "pages_per_sec": "1/s",
    "crawl_s": "s",
    "round_s_p50": "s",
    "cpu_s_per_kpage": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(traced: bool):
    from crawlbench.host import nproc, session_conf
    from spider_spark.session import get_spark

    n = nproc()
    spark = get_spark(app_name="crawlbench", master=f"local[{n}]",
                      shuffle_partitions=n,
                      extra_conf=session_conf(WORK, event_log=traced))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(workload, traced: bool):
    """Start the session in a fresh JVM, register the corpus, prepare the
    inputs and run the discarded warm-up operation.

    Returns ``(spark, setup_s, detail)``: ``setup_s`` is the sum of all four.
    A cold corpus build and the oracle are not counted."""
    from crawlbench.workloads import register_corpus

    t0 = time.perf_counter()
    spark = start_session(traced)
    pages, built_s = register_corpus(spark, WORK)
    start_s = time.perf_counter() - t0 - built_s
    t0 = time.perf_counter()
    workload.prepare(spark, pages)
    workload.run(warmup=True)
    warm_s = time.perf_counter() - t0
    workload.expect()
    detail = {"start_s": start_s, "prepare_and_warmup_s": warm_s,
              "corpus_build_s": built_s}
    return spark, start_s + warm_s, detail


def measure(workload) -> tuple[dict, object]:
    """One timed operation, started from a quiet driver: its wall time, its
    wall interval in epoch ms, and the CPU seconds and peak RSS of the
    process tree while it ran."""
    from crawlbench.host import TreeMeter, release_cached

    release_cached(workload.spark, keep=workload.cached_inputs)
    with TreeMeter() as meter:
        t_lo = int(time.time() * 1e3)
        t0 = time.perf_counter()
        out = workload.run()
        wall = time.perf_counter() - t0
        t_hi = int(time.time() * 1e3)
    return {"wall_s": wall, "window_ms": (t_lo, t_hi), "fetched": out.fetched,
            "round_s": out.round_s, "cpu_s": meter.cpu_s,
            "peak_rss": meter.peak_rss}, out


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    med = statistics.median
    return {
        "pages_per_sec": med(o["fetched"] / o["wall_s"] for o in ops),
        "crawl_s": med(o["wall_s"] for o in ops),
        "round_s_p50": med(med(o["round_s"]) for o in ops),
        "cpu_s_per_kpage": med(1e3 * o["cpu_s"] / o["fetched"] for o in ops),
        "peak_rss_mb": med(o["peak_rss"] for o in ops) / 2**20,
        "setup_s": setup_s,
    }


def per_layer(workload, spark, ops: list[dict]) -> dict:
    """The traced run: one untraced operation (already in ``ops``), one
    traced operation (appended to ``ops``), then the layer probes; the event
    log is folded after the session stops."""
    from crawlbench import trace
    from crawlbench.host import stop_spark

    sc = spark.sparkContext
    sc.setJobGroup(TRACED_GROUP, "traced operation")
    with trace.JobTagger(sc):
        op, out = measure(workload)
    sc.setJobGroup("crawlbench-probes", "checks and layer probes")
    op["problem"] = workload.check(out)
    ops.append(op)
    phases = out.phase_times
    metrics = {f"crawl.phase.{p}_s": phases.get(p, 0.0)
               for p in trace.TIMED_PHASES}
    metrics["crawl.traced_s"] = op["wall_s"]
    metrics["crawl.untimed_s"] = op["wall_s"] - sum(phases.values())
    metrics["trace.overhead_frac"] = op["wall_s"] / ops[0]["wall_s"] - 1

    sample = [(r.url, bytes(r.html)) for r in
              workload.pages.select("url", "html").limit(500).collect()]
    metrics.update(trace.probe_parse(sample))
    metrics.update(trace.probe_layers(spark, workload.n, WORK))
    metrics.update(trace.probe_continuous(spark, workload.pages, workload.n, WORK))
    metrics.update(trace.probe_curation(spark))

    log = WORK / "eventlog" / sc.applicationId
    stop_spark(spark)
    with open(log) as f:
        folded = trace.fold_event_log(f, TRACED_GROUP, op["window_ms"])
    log.unlink()
    metrics["crawl.jobs_per_round"] = folded.pop("crawl.jobs") / len(op["round_s"])
    metrics.update(folded)
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "spider_spark" / "plans" / "crawl.py").is_file():
        print(f"crawlbench: no spider_spark engine under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from crawlbench.host import (
        fingerprint,
        scrub_tuning_env,
        stop_spark,
        wait_for_children,
    )
    from crawlbench.trace import unit
    from crawlbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    dropped = scrub_tuning_env()
    os.makedirs(WORK / "tmp", exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")

    workload = WORKLOADS[args.workload](args.seed)
    traced = bool(args.trace)
    t_start = time.perf_counter()
    spark, setup_s, setup_detail = setup(workload, traced)
    stamp = fingerprint(spark) | {"dropped_env": dropped}

    # closed loop: each operation starts when the previous one has returned
    ops: list[dict] = []
    raised = 0
    while True:
        try:
            op, out = measure(workload)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
            raised += 1
            break
        op["problem"] = workload.check(out)
        ops.append(op)
        if (traced or sum(o["wall_s"] for o in ops) >= args.seconds
                or time.perf_counter() - t_start > MAX_OP_SECONDS):
            break
    if ops and traced:
        metrics = per_layer(workload, spark, ops)
        units = {k: unit(k) for k in metrics}
    else:
        metrics = end_to_end(ops, setup_s) if ops else {}
        units = END_TO_END
    if spark.sparkContext._jsc is not None:
        stop_spark(spark)
    left = wait_for_children()

    problems = [o["problem"] for o in ops if o["problem"]]
    attempted = len(ops) + raised
    failed = raised + len(problems)
    for p in problems:
        print(f"crawlbench: wrong output: {p}", file=sys.stderr)
    if left:
        print(f"crawlbench: processes still alive: {left}", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": stamp, "setup": setup_detail,
        "wall_s": time.perf_counter() - t_start,
        "ops": [{k: v for k, v in o.items() if k != "round_s"}
                | {"rounds": len(o["round_s"])} for o in ops],
        "failed_frac": failed / max(attempted, 1),
        "metrics": metrics,
    }
    with open(WORK / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(f"# {args.workload} seed={args.seed} ops={len(ops)} "
          f"failed_frac={record['failed_frac']:.3f} " + " ".join(
              f"{k}={v:.6g}{units[k]}" for k, v in metrics.items()))
    print(json.dumps({"host": stamp, "setup": setup_detail}))
    if not ops:
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
