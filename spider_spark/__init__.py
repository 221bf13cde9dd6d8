"""spider_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A brand-new distributed re-expression of the capabilities of the reference
crawler (redd4ford/spider, read-only at /root/reference): fetching is a join
against a Common-Crawl-style pages table, link extraction is a vectorized
Arrow/pandas UDF, dedup is a bloom-prefiltered anti-join against a seen table,
politeness is a per-host ``row_number`` window scheduler, and crawl rounds are
iterative DataFrame jobs with atomic per-round snapshot commits.

Nothing here is a port: the reference is single-process asyncio; this engine
is Catalyst-planned, Arrow-vectorized, and partitioned for a 10^10-URL
frontier. Reference citations in docstrings are ``path:line`` under
/root/reference/ and exist so parity can be audited.
"""

__version__ = "0.1.0"

from spider_spark.session import get_spark  # noqa: F401
