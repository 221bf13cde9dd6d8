"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at the given sf and
compares it with the matching ``oracle_sql()`` via DuckDB: row count,
column names, and an order-insensitive value hash (columns sorted by
name, rows sorted, floats kept as repr). Usage:

    python tools/check_contract.py [sf_dir] [query ...]

Writes a provenance-stamped JSON mirror of the run (git SHA, sf,
wall-clock, per-query status) to a per-run file in the system temp
directory, ``contract_replay_<UTC timestamp>_<pid>.json`` (the path is
printed at the end), so a red driver row can be matched to the exact code
state it ran against and concurrent runs never overwrite each other.
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import sys
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from crawlbench.host import git_sha  # noqa: E402
from spider_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 9))
    if v is None:
        return "NULL"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="contract-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    report = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            report[name] = {"status": "spark_error", "err": str(e)[:500]}
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            report[name] = {"status": "rows_only", "rows": len(srows),
                            "sec": round(time.time() - t0, 1)}
            n_pass += 1
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show a few differing lines for debugging
                so = sorted(
                    "\x01".join(norm_cell(r[i]) for i in
                                sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                )
                oo = sorted(
                    "\x01".join(norm_cell(r[i]) for i in
                                sorted(range(len(ocols)), key=lambda i: ocols[i]))
                    for r in orows
                )
                diff_s = [x for x in so if x not in set(oo)][:3]
                diff_o = [x for x in oo if x not in set(so)][:3]
                for d in diff_s:
                    problems.append(f"  spark-only: {d[:200]}")
                for d in diff_o:
                    problems.append(f"  oracle-only: {d[:200]}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            report[name] = {"status": "fail", "rows": len(srows),
                            "problems": [p[:300] for p in problems]}
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            report[name] = {"status": "pass", "rows": len(srows),
                            "sec": round(time.time() - t0, 1)}
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sha = git_sha() or "unknown"
    stamp = time.gmtime()
    out = pathlib.Path(tempfile.gettempdir()) / (
        f"contract_replay_{time.strftime('%Y%m%dT%H%M%SZ', stamp)}"
        f"_{os.getpid()}.json"
    )
    with open(out, "w") as f:
        json.dump({
            "git_sha": sha,
            "sf_dir": sf_dir,
            "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", stamp),
            "n_pass": n_pass,
            "n_fail": n_fail,
            "queries": report,
        }, f, indent=1)
    print(f"replay report: {out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
