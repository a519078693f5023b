"""URL / domain curation functions for web-corpus pipelines.

Everything here is a built-in Column expression (``parse_url``,
split/slice/regexp — JVM-side, whole-stage codegen); the blocklist
filter is a broadcast anti-join. At 100 TB: one scan, no Python, and
the blocklist (thousands to low millions of domains) broadcasts —
never a shuffle of the corpus on the domain key.

Registered-domain extraction uses a *documented heuristic*: the last
two labels, or the last three when the last two form a known
multi-part public suffix (co.uk, com.au, …). A full Public Suffix List
lookup is a drop-in replacement — ship the PSL as a broadcast map and
swap `_registrable` — but the PSL file is not vendored here to keep
the engine dependency-free.

Reference parity: the reference engine carries no URL ops (transport
adapters only); this module is part of the mandated LLM-pipeline
extension surface (CommonCrawl-style curation: domain mixing, host
dedup keys, blocklist removal).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, functions as F

from electrician_spark.io import local_frame

# Multi-part public suffixes common enough that the 2-label heuristic
# would otherwise mis-root a large corpus share. Heuristic, documented;
# see module docstring for the full-PSL upgrade path.
MULTIPART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.br", "com.cn", "com.mx", "com.tr", "com.ar",
    "co.in", "co.kr", "co.za", "com.sg", "com.hk", "com.tw",
)


def url_host(url: Column) -> Column:
    """Lowercased hostname (port stripped). NULL for unparseable URLs —
    schemeless inputs are retried with an ``http://`` prefix first, so
    bare ``example.com/path`` rows still resolve."""
    host = F.coalesce(
        F.try_parse_url(url, F.lit("HOST")),
        F.try_parse_url(F.concat(F.lit("http://"), url), F.lit("HOST")),
    )
    host = F.lower(F.split(host, ":", 2)[0])
    return F.when(host == "", None).otherwise(host)


def registered_domain(host: Column) -> Column:
    """Registrable domain of a hostname (heuristic — see module
    docstring): ``news.bbc.co.uk`` → ``bbc.co.uk``, ``a.b.example.com``
    → ``example.com``. IPv4 literals pass through unchanged (an IP has
    no registrable domain; keeping it intact keeps it groupable)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, F.greatest(n - 1, F.lit(1)), 2))
    last3 = F.concat_ws(".", F.slice(labels, F.greatest(n - 2, F.lit(1)), 3))
    is_ip = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    is_multipart = last2.isin(*MULTIPART_SUFFIXES)
    return (
        F.when(host.isNull(), None)
        .when(is_ip, host)
        .when(n <= 2, host)
        .when(is_multipart, last3)
        .otherwise(last2)
    )


def url_features(url: Column) -> Column:
    """Struct of curation-relevant URL signals, one codegen'd pass:
    host, registrable domain, path, path depth, query presence, and a
    ``looks_spammy`` heuristic (digit-heavy or very deep hosts — the
    cheap pre-filter before model-based URL scoring)."""
    host = url_host(url)
    path = F.coalesce(
        F.try_parse_url(url, F.lit("PATH")),
        F.try_parse_url(F.concat(F.lit("http://"), url), F.lit("PATH")),
        F.lit(""),
    )
    depth = F.size(F.filter(F.split(path, "/"), lambda p: p != ""))
    host_digits = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    host_labels = F.size(F.split(host, r"\."))
    looks_spammy = (host_digits >= 5) | (host_labels >= 5)
    return F.struct(
        host.alias("host"),
        registered_domain(host).alias("domain"),
        path.alias("path"),
        depth.alias("path_depth"),
        F.try_parse_url(url, F.lit("QUERY")).isNotNull().alias("has_query"),
        F.coalesce(looks_spammy, F.lit(False)).alias("looks_spammy"),
    )


# Query parameters that identify a CLICK, not a RESOURCE — the
# standard strip-list for URL canonicalization (utm_* per Google's
# campaign spec; click ids from ad networks; generic ref markers).
TRACKING_PARAM_RE = (
    r"^(utm_[a-z]+|gclid|fbclid|msclkid|dclid|igshid|mc_[a-z]+|"
    r"ref|ref_src|referrer|source|cmpid|icid|s_kwcid|yclid)="
)


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL for crawl-dedup keys — two fetches of
    the same resource must collide, so the canonicalizer strips
    everything that varies per click, one codegen'd Column pass:

    - scheme dropped (http/https serve the same resource in practice),
      host lowercased, leading ``www.`` and default ports stripped;
    - fragment dropped (never sent to the server);
    - tracking query parameters removed (``TRACKING_PARAM_RE``);
      surviving parameters SORTED (order is transport noise), empty
      query dropped;
    - trailing slash normalized off non-root paths.

    NULL for rows where no host parses. Pure JVM expressions
    (parse_url + array HOFs) — a corpus-wide canonicalize is one scan,
    and ``exact_dedup`` on the result is the standard URL-level crawl
    dedup stage."""
    host = url_host(url)
    path = F.coalesce(
        F.try_parse_url(url, F.lit("PATH")),
        F.try_parse_url(F.concat(F.lit("http://"), url), F.lit("PATH")),
        F.lit(""),
    )
    query = F.coalesce(
        F.try_parse_url(url, F.lit("QUERY")),
        F.try_parse_url(F.concat(F.lit("http://"), url), F.lit("QUERY")),
    )
    host_n = F.regexp_replace(host, r"^www\.", "")
    path_n = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", "$1")
    )
    params = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    query_n = F.array_join(F.array_sort(params), "&")
    return F.when(host_n.isNull(), None).otherwise(
        F.concat(
            host_n,
            path_n,
            F.when(query_n == "", F.lit("")).otherwise(F.concat(F.lit("?"), query_n)),
        )
    )


def filter_blocklisted_domains(
    df: DataFrame,
    blocklist: DataFrame | Iterable[str],
    url_col: str = "url",
    domain_col: str | None = None,
) -> DataFrame:
    """Drop rows whose registrable domain appears in ``blocklist``.

    ``blocklist`` is a one-column DataFrame (``domain``) or an iterable
    of domain strings. The join is a **broadcast LEFT ANTI** on the
    derived domain — the corpus never shuffles; each task probes a
    broadcast hash set. Pass ``domain_col`` to reuse an
    already-materialized domain column instead of re-deriving it."""
    spark = df.sparkSession
    if not isinstance(blocklist, DataFrame):
        blocklist = local_frame(spark, [(d.lower(),) for d in blocklist], "domain string")
    bl = blocklist.select(F.lower(F.col(blocklist.columns[0])).alias("__bl_domain")).distinct()
    if domain_col is None:
        probe = df.withColumn("__probe_domain", registered_domain(url_host(F.col(url_col))))
    else:
        probe = df.withColumn("__probe_domain", F.lower(F.col(domain_col)))
    out = probe.join(
        F.broadcast(bl),
        probe["__probe_domain"] == bl["__bl_domain"],
        "left_anti",
    )
    return out.drop("__probe_domain")


def domain_mixture(
    df: DataFrame, url_col: str = "url", domain_col: str | None = None
) -> DataFrame:
    """(domain, docs, share) table — the input to mixture/temperature
    sampling (sampling.mixture_sample). One scan + one map-side-combined
    groupBy on the registrable domain."""
    if domain_col is None:
        keyed = df.select(registered_domain(url_host(F.col(url_col))).alias("domain"))
    else:
        keyed = df.select(F.lower(F.col(domain_col)).alias("domain"))
    counts = keyed.groupBy("domain").agg(F.count("*").alias("docs"))
    # share via a broadcast single-row bounds join (same pinned pattern
    # as quantize.py) — an unpartitioned window here would funnel every
    # domain row through ONE task at scale.
    total = counts.agg(F.sum("docs").alias("__total"))
    return counts.join(F.broadcast(total)).select(
        "domain", "docs", (F.col("docs") / F.col("__total")).alias("share")
    )
