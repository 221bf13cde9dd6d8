"""DuckDB oracles of the synthetic link graph, sharing no code with the engine.

The corpus is :func:`spider_spark.sources.pages.synthetic_pages`: page ``i``
of ``n`` links, in document order, to its own URL with a query string
(dropped), child ``c1 = (2i+1) % n``, the dead URL
``https://dead.example/d/{i}``, child ``c2 = (3i+2) % n`` and ``c1`` again.
Dead URLs are modelled as virtual ids ``n + i`` that never expand.

* :func:`reach` is the multi-seed form of ``oracle_results_sql``: the set of
  ``(url, depth, title, fetched)`` a BFS to ``depth`` admits, each URL at
  its minimum distance from any seed.
* :func:`ranked` replays the engine's admission order level by level: seeds
  rank by URL; each later level ranks its new URLs by
  ``(parent_rank, link_pos)``, where ``link_pos`` counts a page's links after
  the link equal to the page's own crawl seed is dropped.
"""

from __future__ import annotations

import duckdb


def _url_sql(x: str, n: int) -> str:
    return (
        f"CASE WHEN {x} < {n} THEN 'https://h' || "
        f"(CASE WHEN {x} % 2 = 0 THEN 0 ELSE 1 + {x} % 19 END) || "
        f"'.example/d/' || {x} ELSE 'https://dead.example/d/' || ({x} - {n}) END"
    )


def _connect(seed_ids: list[int]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("CREATE TABLE seeds(id BIGINT)")
    con.executemany("INSERT INTO seeds VALUES (?)", [(i,) for i in seed_ids])
    return con


def reach(seed_ids: list[int], n: int, depth: int) -> set[tuple]:
    """``{(url, depth, title, fetched)}`` of an unbudgeted BFS."""
    sql = f"""
    WITH RECURSIVE
      reach(id, depth) AS (
        SELECT id, 0 FROM seeds
        UNION
        SELECT u.child, reach.depth + 1
        FROM reach,
             UNNEST([(2*reach.id+1) % {n}, (3*reach.id+2) % {n},
                     {n} + reach.id]) AS u(child)
        WHERE reach.depth < {depth} AND reach.id < {n}
      ),
      seen AS (SELECT id, MIN(depth) AS depth FROM reach GROUP BY id)
    SELECT {_url_sql('id', n)} AS url, depth,
           CASE WHEN id < {n} AND id % 17 <> 0 THEN 'Doc ' || id END AS title,
           id < {n} AS fetched
    FROM seen
    """
    con = _connect(seed_ids)
    try:
        return {tuple(r) for r in con.execute(sql).fetchall()}
    finally:
        con.close()


def ranked(seed_ids: list[int], n: int, depth: int) -> set[tuple]:
    """``{(url, depth, admission_rank)}`` in the engine's admission order."""
    con = _connect(seed_ids)
    try:
        con.execute(f"""
            CREATE TABLE lvl AS
            SELECT id, row_number() OVER (ORDER BY {_url_sql('id', n)}) - 1
                     AS rank, id AS seed_id
            FROM seeds""")
        con.execute("CREATE TABLE admitted AS SELECT id, 0 AS depth, rank FROM lvl")
        for d in range(1, depth + 1):
            next_rank = con.execute("SELECT count(*) FROM admitted").fetchone()[0]
            con.execute(f"""
                CREATE OR REPLACE TABLE lvl AS
                WITH links AS (
                  SELECT rank AS parent_rank, seed_id,
                         UNNEST(l) AS child,
                         UNNEST(generate_series(0, len(l) - 1)) AS pos
                  FROM (SELECT rank, seed_id,
                               list_filter([(2*id+1) % {n}, {n} + id,
                                            (3*id+2) % {n}, (2*id+1) % {n}],
                                           x -> x <> seed_id) AS l
                        FROM lvl WHERE id < {n})
                ),
                cand AS (
                  SELECT child AS id, min(parent_rank * 4 + pos) AS k,
                         arg_min(seed_id, parent_rank * 4 + pos) AS seed_id
                  FROM links GROUP BY child
                )
                SELECT id, {next_rank} + row_number() OVER (ORDER BY k) - 1
                         AS rank, seed_id
                FROM cand WHERE id NOT IN (SELECT id FROM admitted)""")
            con.execute(f"INSERT INTO admitted SELECT id, {d}, rank FROM lvl")
        rows = con.execute(
            f"SELECT {_url_sql('id', n)}, depth, rank FROM admitted"
        ).fetchall()
        return {tuple(r) for r in rows}
    finally:
        con.close()


def compare(name: str, got: set, want: set) -> str | None:
    """None when equal, else a one-line account of the difference."""
    if got == want:
        return None
    missing, extra = want - got, got - want
    sample = sorted(missing, key=repr)[:1] or sorted(extra, key=repr)[:1]
    return (f"{name}: {len(missing)} missing, {len(extra)} unexpected of "
            f"{len(want)} expected (e.g. {sample})")
