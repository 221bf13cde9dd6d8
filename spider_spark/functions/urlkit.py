"""Pure-Python URL kernel reproducing the yarl semantics the reference relies on.

The reference keys its seen-set and results table on ``yarl.URL`` objects
(use_cache.py:14,22-24; crawler.py:146-153) and stores two string forms:

* ``str(URL(x))`` — the results-table ``url`` key (postgres_database.py:117,
  confirmed by test_db_ops_controller.py:144-148: saving
  ``URL('https://example.com')`` logs ``#1 https://example.com | ...``).
* ``URL(x).human_repr()`` — the ``parent`` column (crawler.py:108,
  db_ops_controller.py:59: ``parent=https://example.com/`` — note the
  trailing slash that ``human_repr`` adds for an empty path).

yarl is not installed in this sandbox, so this module re-implements the
subset of its behavior the crawl semantics observe: parse, scheme default
(crawler.py:51-52), ``query_string`` (crawler.py:148-149), ``is_absolute``
+ RFC-3986 ``join`` (crawler.py:150-151), equality against the seed
(crawler.py:152-153), ``host`` (html_file_writer.py:58-62), and the two
string forms above. Everything is plain-function + numpy/pandas friendly so
the pandas UDFs in :mod:`spider_spark.functions.parse` can vectorize over it.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from urllib.parse import quote, unquote, urljoin, urlsplit

import pandas as pd

# yarl percent-encodes a conservative set; our synthetic corpora are ASCII,
# so we normalize with stdlib quote using yarl-compatible safe sets.
_PATH_SAFE = "/@:!$&'()*+,;=~.-_"
_QUERY_SAFE = "/@:!$&'()*+,;=~.-_?"


@dataclass(frozen=True)
class CanonURL:
    """Parsed, normalized URL. Equality == normalized-string equality,
    mirroring yarl URL equality (absolute URLs with distinct paths are
    distinct: ``https://a.com`` != ``https://a.com/``)."""

    scheme: str
    host: str
    port: int | None
    path: str
    query: str
    fragment: str

    # -- construction -------------------------------------------------

    @staticmethod
    def parse(raw: str) -> "CanonURL":
        parts = urlsplit(raw.strip())
        scheme = parts.scheme.lower()
        host = (parts.hostname or "").lower()
        port = parts.port
        # drop default ports like yarl does
        if (scheme == "http" and port == 80) or (scheme == "https" and port == 443):
            port = None
        path = quote(unquote(parts.path), safe=_PATH_SAFE)
        query = quote(unquote(parts.query), safe=_QUERY_SAFE) if parts.query else ""
        fragment = parts.fragment
        return CanonURL(scheme, host, port, path, query, fragment)

    @staticmethod
    def seed(raw: str) -> "CanonURL":
        """Seed normalization: prefix ``https://`` when no http(s) scheme,
        exactly as crawler.py:51-52 (``if not start_url.startswith('http')``)."""
        if not raw.startswith("http"):
            raw = f"https://{raw}"
        return CanonURL.parse(raw)

    # -- predicates the crawl filters use ------------------------------

    @property
    def is_absolute(self) -> bool:
        return bool(self.host)

    @property
    def query_string(self) -> str:
        return self.query

    def join(self, href: str) -> "CanonURL":
        """RFC-3986 resolution (yarl ``URL.join`` delegates to the same
        algorithm). The *caller* decides the base: the reference joins
        against the **seed**, not the current page (quirk Q1,
        crawler.py:150-151)."""
        return CanonURL.parse(urljoin(str(self), href))

    # -- string forms ---------------------------------------------------

    def __str__(self) -> str:  # yarl str(): empty path stays empty
        netloc = self.host if self.port is None else f"{self.host}:{self.port}"
        s = f"{self.scheme}://{netloc}{self.path}"
        if self.query:
            s += f"?{self.query}"
        if self.fragment:
            s += f"#{self.fragment}"
        return s

    def human_repr(self) -> str:
        """yarl ``human_repr``: percent-decoded, path defaults to ``/``
        (db_ops_controller.py:59 + test_db_ops_controller.py:141 show
        ``https://example.com`` → ``https://example.com/``)."""
        netloc = self.host if self.port is None else f"{self.host}:{self.port}"
        path = unquote(self.path) or "/"
        s = f"{self.scheme}://{netloc}{path}"
        if self.query:
            s += f"?{unquote(self.query)}"
        if self.fragment:
            s += f"#{self.fragment}"
        return s


# ---------------------------------------------------------------------------
# plain-function forms (what the pandas UDFs call in a tight loop)
# ---------------------------------------------------------------------------


def canonicalize(raw: str) -> str:
    """Normalized str-form of a URL — the engine's canonical key."""
    return str(CanonURL.parse(raw))


def url_host(canon: str) -> str:
    return CanonURL.parse(canon).host


def content_ref(canon_url: str) -> str:
    """Deterministic blob name (deviation D1): the reference names files
    ``{host with . → _}_{uuid4}.html`` (html_file_writer.py:58-62); uuid4
    breaks reproducibility, so the engine uses uuid5(NAMESPACE_URL, url)."""
    host = url_host(canon_url)
    return f"{host.replace('.', '_')}_{uuid.uuid5(uuid.NAMESPACE_URL, canon_url)}.html"


def make_host_udf():
    """Arrow-batched ``canon_url -> host`` (vectorized; never row-at-a-time)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def host_udf(url: pd.Series) -> pd.Series:
        return url.map(url_host)

    return host_udf


def make_seed_canon_udf():
    """Arrow-batched seed canonicalization: ``raw url -> struct<canon_url,
    host, human>`` (one pass, for distributed seed-list ingestion)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("canon_url string, host string, human string")
    def seed_canon(url: pd.Series) -> pd.DataFrame:
        canons, hosts, humans = [], [], []
        for raw in url:
            cu = CanonURL.seed(raw)
            canons.append(str(cu))
            hosts.append(cu.host)
            humans.append(cu.human_repr())
        return pd.DataFrame({"canon_url": canons, "host": hosts, "human": humans})

    return seed_canon


def content_ref_col(url, host):
    """JVM Column form of :func:`content_ref` — bit-identical to Python's
    ``uuid.uuid5(NAMESPACE_URL, url)`` but built from ``sha1`` +
    substring surgery, so the results projection stays inside
    whole-stage codegen (no Python stage in the crawl's final_results
    job). RFC 4122 §4.3: uuid5 = SHA-1(namespace ‖ name)[:16] with
    the version nibble forced to 5 and the variant's top bits to 10."""
    from pyspark.sql import functions as F

    ns = F.lit(bytes.fromhex("6ba7b8119dad11d180b400c04fd430c8"))
    h = F.sha1(F.concat(ns, F.encode(url, "UTF-8")))  # 40 lowercase hex chars
    # variant nibble: (n & 3) | 8 for n = hex digit 17 → one of "89ab"
    n = F.conv(F.substring(h, 17, 1), 16, 10).cast("int")
    variant = F.substring(F.lit("89ab"), (n % 4) + 1, 1)
    u = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )
    return F.concat(F.translate(host, ".", "_"), F.lit("_"), u, F.lit(".html"))


def generate_refs(
    hrefs: list[str],
    seed: CanonURL,
    resolve_base: CanonURL | None = None,
) -> list[str]:
    """Reference link pipeline (crawler.py:140-155), in document order:

    * missing href already dropped upstream (KeyError → continue, :154-155)
    * drop links with a query string (:148-149)
    * resolve relative hrefs against the **seed** (:150-151, quirk Q1) —
      pass ``resolve_base`` to use the correct current-page base instead
    * drop the link when it equals the seed (:152-153)

    Returns canonical str-forms.
    """
    base = resolve_base if resolve_base is not None else seed
    seed_s = str(seed)
    out: list[str] = []
    for href in hrefs:
        u = CanonURL.parse(href)
        if u.query_string:
            continue
        if not u.is_absolute:
            u = base.join(href)
        s = str(u)
        if s != seed_s:
            out.append(s)
    return out


def generate_refs_with_host(
    hrefs: list[str],
    seed: CanonURL,
    resolve_base: CanonURL | None = None,
) -> list[dict]:
    """:func:`generate_refs` + the resolved host per link, harvested from
    the CanonURL object the pipeline already built — so the engine never
    needs a second URL-parse pass (or a separate host UDF stage) after the
    dedupe shuffle."""
    base = resolve_base if resolve_base is not None else seed
    seed_s = str(seed)
    out: list[dict] = []
    for href in hrefs:
        u = CanonURL.parse(href)
        if u.query_string:
            continue
        if not u.is_absolute:
            u = base.join(href)
        s = str(u)
        if s != seed_s:
            out.append({"url": s, "host": u.host})
    return out


# -- tracking-parameter scrubbing ---------------------------------------------

TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "utm_id", "gclid", "dclid", "fbclid", "msclkid", "mc_cid", "mc_eid",
    "igshid", "ref_src", "ref_url", "_ga", "yclid",
)


def strip_tracking_params(url: str, params: tuple[str, ...] = TRACKING_PARAMS):
    """JVM Column: ``url`` with ad/analytics click-tracking query
    parameters removed (utm_* and friends — the de-facto list large
    crawlers scrub; two URLs differing only in click IDs are the same
    page, so the seen-set and dedup keys should agree on them).

    Pure string surgery inside whole-stage codegen: split the query at
    the first ``?``, drop ``key=value`` pairs whose key is in the list,
    rejoin; a query left empty drops its ``?``. Parameter order is
    preserved for survivors (no re-sorting — the cleaned URL stays a
    real URL the site accepts). ``url`` is a column name / SQL
    expression string (Column objects have no portable SQL rendering).
    Mirrored by :func:`strip_tracking_params_sql`."""
    from pyspark.sql import functions as F

    u = url
    lst = ", ".join(f"'{p}'" for p in params)
    kept = (
        f"filter(split(substr({u}, instr({u}, '?') + 1), '&'), "
        f"p -> NOT element_at(split(p, '='), 1) IN ({lst}))"
    )
    return F.expr(
        f"CASE WHEN instr({u}, '?') = 0 THEN {u} ELSE "
        f"concat(substring_index({u}, '?', 1), "
        f"CASE WHEN size({kept}) = 0 THEN '' "
        f"ELSE concat('?', array_join({kept}, '&')) END) END"
    )


def strip_tracking_params_sql(url_expr: str,
                              params: tuple[str, ...] = TRACKING_PARAMS) -> str:
    """DuckDB mirror of :func:`strip_tracking_params` (list_filter /
    len / strpos in place of the Spark names; 1-based element access on
    both engines)."""
    lst = ", ".join(f"'{p}'" for p in params)
    kept = (
        f"list_filter(string_split(substr({url_expr}, "
        f"strpos({url_expr}, '?') + 1), '&'), "
        f"p -> NOT list_contains([{lst}], string_split(p, '=')[1]))"
    )
    return (
        f"CASE WHEN strpos({url_expr}, '?') = 0 THEN {url_expr} ELSE "
        f"concat(string_split({url_expr}, '?')[1], "
        f"CASE WHEN len({kept}) = 0 THEN '' "
        f"ELSE concat('?', array_to_string({kept}, '&')) END) END"
    )


# -- aggressive URL variant folding -------------------------------------------

_INDEX_FILES_RE = r"/(index\.html|index\.htm|index\.php|default\.aspx)$"
_WWW_RE = r"^(https?://)www\."


def fold_url_variants(url: str):
    """JVM Column: the *aggressive* URL alias fold large crawlers apply on
    top of exact canonicalization — ``www.``-prefix strip, directory
    index-file strip (``/index.html`` & friends), trailing-slash
    unification, and the tracking-parameter scrub — so the classic
    surface variants of one page share a dedup key. Deliberately a
    SEPARATE key from the crawl's exact seen-key (the reference keys on
    exact yarl strings, use_cache.py:22-24): folding is lossy (a site
    CAN serve different content at ``/a`` and ``/a/``), so it feeds
    alias clustering and dedup candidates, never the fetch identity.

    ``url`` is a column name / SQL expression string (the
    strip_tracking_params convention). Pure regexp/CASE chain inside
    whole-stage codegen; path rules apply only when no query string
    survives the scrub (RE2-portable — no lookaheads, so the DuckDB
    mirror is rule-identical)."""
    from pyspark.sql import functions as F

    scrubbed = strip_tracking_params(url)
    # the scrub returns a Column; reapply string surgery via expr on its SQL
    # is impossible — chain Column ops instead
    u = F.regexp_replace(scrubbed, _WWW_RE, "$1")
    no_q = ~u.contains("?")
    u2 = F.when(no_q, F.regexp_replace(u, _INDEX_FILES_RE, "")).otherwise(u)
    u3 = F.when(no_q, F.regexp_replace(u2, "/+$", "")).otherwise(u2)
    return u3


def fold_url_variants_sql(url_expr: str) -> str:
    """DuckDB mirror of :func:`fold_url_variants` (same rule order; \\1
    group syntax in place of Java's $1)."""
    scrub = strip_tracking_params_sql(url_expr)
    u = f"regexp_replace(({scrub}), '{_WWW_RE}', '\\1')"
    u2 = (f"CASE WHEN strpos({u}, '?') = 0 "
          f"THEN regexp_replace({u}, '{_INDEX_FILES_RE}', '') ELSE {u} END")
    u3 = (f"CASE WHEN strpos({u}, '?') = 0 "
          f"THEN regexp_replace(({u2}), '/+$', '') ELSE ({u2}) END")
    return u3
