"""URL parsing, canonicalization and registrable-domain extraction —
pure JVM expressions (regexp + array HOFs), the web-corpus companion of
the WET source (sources/wet.py).

Why this exists: URL-keyed operations dominate web-corpus curation —
dedup by canonical URL (the cheapest near-dup killer: the same page
re-crawled with different tracking params), per-registrable-domain caps
(functions/sampling.cap_per_group), and blocklist filtering. All of it
needs a DETERMINISTIC canonical form, and at 100 TB it must stay in the
scan stage: every function here is regexp_extract / split / filter /
array_sort built-ins — codegen'd, no Python, no shuffle — and every
regex sticks to the syntax subset shared by Java regex and RE2 so an
oracle (or a Trino/DuckDB twin pipeline) replays it character for
character.

Canonicalization contract (the industry-standard conservative set):
lowercase scheme and host, strip leading ``www.`` labels (never below
two labels — idempotence-tested by property), drop the
default port (80/443), empty path -> ``/``, drop the fragment, drop
tracking parameters (``utm_*``, ``fbclid``, ``gclid``, ``ref``), and
SORT the surviving query parameters (param order is presentation, not
identity). Anything stronger (percent-decoding, IDN) is intentionally
out: it can merge URLs that are genuinely distinct.

Registrable domain uses an embedded set of common two-level public
suffixes (co.uk, com.au, ...) rather than the full Mozilla PSL — the
PSL is a data file, not logic; swap ``TWO_LEVEL_SUFFIXES`` for the real
list in production. No counterpart in the reference (seismic URLs are
fixed FDSN endpoints: stream2segment/download/modules/datacenters.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# conservative RFC-3986-ish component regexes; Java regex == RE2 here
_RX_SCHEME = r"^([A-Za-z][A-Za-z0-9+.-]*):"
_RX_HOST = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)"
_RX_PORT = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:([0-9]+)"
_RX_PATH = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_RX_QUERY = r"\?([^#]*)"

TRACKING_PARAMS = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="

TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "co.in", "com.br", "com.cn",
    "co.nz", "co.za", "com.mx", "com.ar", "com.tr",
)


# ASCII-only case folding: F.lower applies Java's FULL case mapping,
# which is 1:2 on U+0130 (İ) while DuckDB/utf8proc lowers 1:1 — a
# non-ASCII host would hash-diverge cross-engine (r6 portability
# contract). translate() maps codepoint-for-codepoint with no locale
# rules on BOTH engines, lowers exactly A-Z, and passes every other
# codepoint through untouched — so IDN hosts keep their characters
# (folding them to spaces would merge distinct hosts). ONE fold rule
# for the whole engine: this is operators/dedup.unicode_fold, re-used
# (not re-defined) so the portability-critical mapping cannot drift.
from stream2segment_spark.operators.dedup import (  # noqa: E402
    ASCII_LOWERS as ASCII_LOWER, ASCII_UPPERS as ASCII_UPPER,
    unicode_fold as ascii_lower)


def url_scheme(url: Column) -> Column:
    # the scheme regex admits only ASCII, so this equals lower() by
    # construction — translate keeps the whole module on one fold rule
    return ascii_lower(F.regexp_extract(url, _RX_SCHEME, 1))


def url_host(url: Column) -> Column:
    return ascii_lower(F.regexp_extract(url, _RX_HOST, 1))


def url_port(url: Column) -> Column:
    """Explicit port or NULL (try_cast: '' -> NULL, never an ANSI throw)."""
    return F.regexp_extract(url, _RX_PORT, 1).try_cast("int")


def url_path(url: Column) -> Column:
    """Path component; empty normalizes to '/' for canonical identity."""
    p = F.regexp_extract(url, _RX_PATH, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, _RX_QUERY, 1)


def clean_query(url: Column) -> Column:
    """Surviving query params, tracking params dropped, SORTED and
    re-joined ('' when nothing survives)."""
    params = F.split(url_query(url), "&")
    kept = F.filter(params, lambda p: (F.length(p) > 0)
                    & ~p.rlike(TRACKING_PARAMS))
    return F.array_join(F.array_sort(kept), "&")


def url_registrable_domain(host: Column) -> Column:
    """eTLD+1 for the embedded two-level-suffix set: hosts of <= 2
    labels pass through; 'a.b.co.uk'-style hosts keep three labels,
    everything else two. Expression-only (no UDF): slice from the end
    of the label array."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2),
                        F.element_at(labels, -1))
    last3 = F.concat_ws(".", F.element_at(labels, -3),
                        F.element_at(labels, -2), F.element_at(labels, -1))
    is2 = last2.isin(*TWO_LEVEL_SUFFIXES)
    return F.when(n <= 2, host) \
            .when(is2 & (n >= 3), last3) \
            .otherwise(last2)


def url_canonical(url: Column) -> Column:
    """The deterministic canonical form (contract in the module
    docstring). NULL input -> NULL."""
    scheme = url_scheme(url)
    raw_host = url_host(url)
    # strip ALL leading 'www.' labels, but never below 2 labels —
    # 'www.com' IS a registrable domain. The single-strip form is
    # non-idempotent on stacked hosts like 'www.www.ex.com' (found by
    # the hypothesis idempotence property, test_url_property.py).
    stripped = F.regexp_replace(raw_host, r"^(www\.)+", "")
    labels = F.split(raw_host, r"\.")
    last2 = F.concat_ws(".", F.element_at(labels, -2),
                        F.element_at(labels, -1))
    host = F.when(F.size(F.split(stripped, r"\.")) >= 2, stripped) \
            .otherwise(last2)
    port = url_port(url)
    default = F.when(scheme == "http", F.lit(80)) \
               .when(scheme == "https", F.lit(443))
    port_part = F.when(port.isNull() | (port.eqNullSafe(default)),
                       F.lit("")) \
                 .otherwise(F.concat(F.lit(":"), port.cast("string")))
    q = clean_query(url)
    q_part = F.when(q == "", F.lit("")) \
              .otherwise(F.concat(F.lit("?"), q))
    return F.when(url.isNull(), F.lit(None)).otherwise(
        F.concat(scheme, F.lit("://"), host, port_part,
                 url_path(url), q_part))


def filter_blocklist(df, url_col: str, blocked, *,
                     keep_blocked: bool = False):
    """Drop (or, with ``keep_blocked``, keep only) rows whose URL's
    registrable domain appears in ``blocked`` — a DataFrame with a
    ``domain`` column (UT1-style blocklist). The blocklist is broadcast
    (even the full UT1 adult list is a few MB), so the corpus never
    shuffles: scan-stage parse + broadcast hash anti-join, the only
    shape that survives 100 TB."""
    dom = url_registrable_domain(url_host(F.col(url_col)))
    b = F.broadcast(blocked.select(F.col("domain")).distinct())
    how = "left_semi" if keep_blocked else "left_anti"
    return (df.withColumn("__dom", dom)
            .join(b, F.col("__dom") == b["domain"], how)
            .drop("__dom"))


def add_url_columns(df, url_col: str, prefix: str = "url_"):
    """Enrichment projection: scheme/host/domain/path/canonical columns
    in one scan-stage select (write-once at ingest; every downstream
    URL op then reuses the columns instead of re-parsing)."""
    u = F.col(url_col)
    return df.withColumns({
        f"{prefix}scheme": url_scheme(u),
        f"{prefix}host": url_host(u),
        f"{prefix}domain": url_registrable_domain(url_host(u)),
        f"{prefix}path": url_path(u),
        f"{prefix}canonical": url_canonical(u),
    })
