#!/usr/bin/env python
"""Scaling-evidence harness: the frontier crawl ONLY, at one parallelism
level, printing one JSON line with wall-clock, per-phase seconds and the
host fingerprint. The session, warm-up and timed crawl are ``bench.py``'s
(:func:`bench.run_leg`); ``bench.py`` runs this script as its N-vs-4N legs.

Run back-to-back at two levels on the same input for the N-vs-4N
efficiency pair (BENCH/BASELINE.md), e.g. on a 4-core host:

    SPARK_GRAFT_CPUS=1 python tools/scaling_bench.py
    SPARK_GRAFT_CPUS=4 python tools/scaling_bench.py

``SPARK_GRAFT_CRAWL_RUNS`` (default 1) sets the timed crawls per level.
The pages corpus is content-keyed in the shared warehouse, so every level
reads the identical bucketed table.
"""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from bench import run_leg  # noqa: E402

if __name__ == "__main__":
    print(json.dumps(run_leg()))
