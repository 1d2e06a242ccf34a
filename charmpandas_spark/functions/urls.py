"""URL parsing + domain filtering for corpus curation.

The step every web-scraped training pipeline runs before anything
else: parse each document's source URL, extract the registrable
domain, and drop documents from blocklisted domains / path patterns
(spam, SEO farms, adult, boilerplate mirrors).

Design:
- Parsing is pure built-ins: ``try_parse_url``, a native Spark
  expression returning NULL on malformed input (ANSI-safe — plain
  ``parse_url`` THROWS under Spark 4 ANSI mode), plus a
  substring_index registrable-domain heuristic — JVM-side, codegen,
  zero shuffle: the filter rides the scan.
- The blocklist joins as a BROADCAST anti-join (blocklists are
  10^4-10^7 rows — megabytes — vs a 10^11-row corpus; never shuffle
  the corpus for it). ``broadcast=False`` switches to a shuffled
  anti-join for a pathological blocklist too big to broadcast.
- Registrable domain: ``with_registrable_domain`` implements the full
  public-suffix-list algorithm (publicsuffix.org semantics: normal /
  ``*.`` wildcard / ``!`` exception rules, longest-match wins,
  exception beats wildcard, default rule ``*``) as a chain of
  BROADCAST left joins — one per distinct rule-key label count (3 for
  the packaged subset, ≤5 for the full list), each joining the host's
  last-k-labels substring against a ≤10k-row rule table. Zero corpus
  shuffle; the rule resolution (exception > longest) is pure
  ``coalesce``/``greatest`` column arithmetic. ``registrable_domain``
  (last-two-labels) remains as the join-free heuristic for callers
  that don't need ccTLD correctness.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame as SparkDF, functions as F

from ..session import tiny_df

from charmpandas_spark.functions.psl_data import PSL_RULES

__all__ = [
    "canonicalize_url",
    "TRACKING_PARAMS",
    "url_host",
    "url_path",
    "registrable_domain",
    "with_registrable_domain",
    "parse_url_parts",
    "filter_blocked_domains",
]


def url_host(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.try_parse_url(c, F.lit("HOST"))


def url_path(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.try_parse_url(c, F.lit("PATH"))


def registrable_domain(url: Column | str) -> Column:
    """Last-two-labels registrable domain of the URL's host
    (``a.b.example.com`` -> ``example.com``) — join-free HEURISTIC:
    wrong for multi-label public suffixes (``a.example.co.uk`` ->
    ``co.uk``). Use ``with_registrable_domain`` (PSL semantics) when
    ccTLD correctness matters."""
    host = url_host(url)
    return F.substring_index(host, ".", -2)


def _compile_psl(rules) -> list[tuple[str, int, int | None, int | None]]:
    """Driver-side compile of PSL rule strings into one row per lookup
    key: ``(key, key_labels, norm_ps, exc_ps)`` where ``*_ps`` is the
    public-suffix label count WHEN this key matches a host's trailing
    labels. Encoding: normal rule ``co.uk`` -> key ``co.uk``, ps = 2;
    wildcard ``*.ck`` -> key ``ck``, ps = 2 (the ``*`` consumes one
    host label); exception ``!www.ck`` -> key ``www.ck``, ps = 1 (rule
    minus its leftmost label). ps equals the PSL's rule label count in
    every case, so max(ps) IS the spec's longest-rule-wins; exceptions
    carry a separate column because they win outright."""
    merged: dict[str, list[int | None]] = {}
    for raw in rules:
        r = raw.strip().lower()
        if not r or r.startswith("//"):
            continue
        exc = r.startswith("!")
        body = r.lstrip("!")
        wild = body.startswith("*.")
        key = body[2:] if wild else body
        k = key.count(".") + 1
        ps = (k - 1) if exc else (k + 1 if wild else k)
        ent = merged.setdefault(key, [None, None])
        idx = 1 if exc else 0
        ent[idx] = ps if ent[idx] is None else max(ent[idx], ps)
    return [(key, key.count(".") + 1, e[0], e[1])
            for key, e in sorted(merged.items())]


def with_registrable_domain(
    df: SparkDF,
    url_col: str | Column,
    out_col: str = "url_domain",
    rules=None,
    host: Column | None = None,
    strategy: str = "auto",
    map_literal_max: int = 2048,
) -> SparkDF:
    """Add the PSL-correct registrable domain of ``url_col`` (or of an
    explicit ``host`` column) as ``out_col``.

    Two physical strategies, both zero-corpus-shuffle:

    - ``map`` (default for ≤ ``map_literal_max`` rule keys): per
      label-count lookup of the host's last-k-labels substring in a
      LITERAL map expression via ``try_element_at`` — no joins, no
      broadcast exchanges, fully codegen'd; the whole domain
      derivation rides the scan stage. The packaged 163-key subset
      compiles to ~5 kB of plan literals.
    - ``join`` (for the full ~10k-rule list, where plan-literal bloat
      would hurt): one tiny BROADCAST left join per distinct rule-key
      label count against a pre-merged rule table.

    Rule precedence (exception wins, else longest rule) is
    ``coalesce(exc, greatest(norms), 1)`` column arithmetic in both
    strategies; the registrable domain is then the host's last
    ``ps+1`` labels via ``slice``/``array_join``. NULL when the host
    is null/unparseable or IS itself a public suffix (PSL contract).

    ``rules`` defaults to the packaged ``psl_data.PSL_RULES`` subset;
    pass ``parse_psl_text(open('public_suffix_list.dat').read())`` for
    the full current list.
    """
    spark = df.sparkSession
    comp = _compile_psl(PSL_RULES if rules is None else rules)
    if not comp:
        raise ValueError("empty PSL rule list")
    if strategy not in ("auto", "map", "join"):
        raise ValueError(f"unknown strategy {strategy!r}")
    use_map = (strategy == "map"
               or (strategy == "auto" and len(comp) <= map_literal_max))
    hcol = F.lower(host if host is not None else url_host(url_col))
    H = "__cps_pslhost"
    out = df.withColumn(H, hcol)
    norm_cols, exc_cols, drops = [], [], [H]
    max_k = max(k for _, k, _, _ in comp)
    for k in range(1, max_k + 1):
        sub = [(key, nps, eps) for key, kk, nps, eps in comp if kk == k]
        if not sub:
            continue
        lastk = F.substring_index(F.col(H), ".", -k)
        if use_map:
            for vals, cols in (([(key, nps) for key, nps, _ in sub
                                 if nps is not None], norm_cols),
                               ([(key, eps) for key, _, eps in sub
                                 if eps is not None], exc_cols)):
                if not vals:
                    continue
                m = F.map_from_arrays(
                    F.array(*[F.lit(key) for key, _ in vals]),
                    F.array(*[F.lit(ps) for _, ps in vals]))
                cols.append(F.try_element_at(m, lastk))
            continue
        kn, nn, en = (f"__cps_pslk{k}", f"__cps_psln{k}", f"__cps_psle{k}")
        rdf = tiny_df(spark, sub,
                      f"{kn} string, {nn} int, {en} int")
        out = out.join(F.broadcast(rdf), lastk == F.col(kn), "left")
        norm_cols.append(F.col(nn))
        exc_cols.append(F.col(en))
        drops += [kn, nn, en]
    norm_ps = (norm_cols[0] if len(norm_cols) == 1
               else F.greatest(*norm_cols))
    exc_ps = (F.lit(None).cast("int") if not exc_cols
              else exc_cols[0] if len(exc_cols) == 1
              else F.greatest(*exc_cols))
    ps = F.coalesce(exc_ps, norm_ps, F.lit(1))
    labs = F.split(F.col(H), r"\.")
    nlab = F.size(labs)
    dom = F.when(F.col(H).isNotNull() & (nlab > ps),
                 F.array_join(F.slice(labs, nlab - ps, ps + 1), "."))
    return out.withColumn(out_col, dom).drop(*drops)


def parse_url_parts(df: SparkDF, url_col: str,
                    prefix: str = "url_") -> SparkDF:
    """Decompose a URL column into host / registrable domain / path /
    query — all native expressions, no shuffle. The domain derives
    from the already-parsed host column (one URL parse per part, not
    a re-parse per derived column)."""
    h = f"{prefix}host"
    return df.select(
        "*",
        url_host(url_col).alias(h),
        url_path(url_col).alias(f"{prefix}path"),
        F.try_parse_url(F.col(url_col), F.lit("QUERY")).alias(
            f"{prefix}query"),
    ).withColumn(f"{prefix}domain", F.substring_index(F.col(h), ".", -2))


def filter_blocked_domains(
    df: SparkDF,
    url_col: str,
    blocked: SparkDF | list[str],
    path_block_regex: str | None = None,
    broadcast: bool = True,
    psl: bool = False,
    rules=None,
    domain_extractor: Column | Callable[[Column], Column] | None = None,
) -> SparkDF:
    """Drop rows whose registrable domain is in ``blocked`` (a
    1-column DataFrame or a literal list), and optionally rows whose
    URL path matches ``path_block_regex``.

    Domain semantics (precedence order):
    - ``domain_extractor``: a Column, or a callable given the URL
      Column, returning the domain to match — full custom override.
    - ``psl=True`` (or an explicit ``rules`` list): public-suffix-list
      registrable domains via ``with_registrable_domain`` — the
      correct choice for ccTLDs (a ``co.uk`` blocklist entry would
      otherwise match EVERY .co.uk site, and ``example.co.uk`` would
      never match at all).
    - default: the last-two-labels heuristic (join-free).

    The domain check is a LEFT ANTI join — broadcast by default (the
    blocklist is the small side by construction). The path regex is a
    plain pushable filter. Null/unparseable hosts are KEPT (they fail
    the blocklist membership test) — route them to a quality filter,
    not a domain filter.
    """
    spark = df.sparkSession
    if not isinstance(blocked, SparkDF):
        blocked = tiny_df(spark, [(d,) for d in blocked],
                          "__cps_bdom string")
    else:
        blocked = blocked.toDF("__cps_bdom")
    bl = F.broadcast(blocked) if broadcast else blocked
    if domain_extractor is not None:
        dom = (domain_extractor(F.col(url_col))
               if callable(domain_extractor) else domain_extractor)
        tagged = df.withColumn("__cps_dom", dom)
    elif psl or rules is not None:
        tagged = with_registrable_domain(df, url_col,
                                         out_col="__cps_dom",
                                         rules=rules)
    else:
        tagged = df.withColumn("__cps_dom", registrable_domain(url_col))
    out = (tagged.join(bl, F.col("__cps_dom") == F.col("__cps_bdom"),
                       "left_anti")
                 .drop("__cps_dom"))
    if path_block_regex is not None:
        out = out.filter(
            ~F.coalesce(url_path(url_col), F.lit(""))
            .rlike(path_block_regex))
    return out


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-dedup primitive)
# ---------------------------------------------------------------------------

#: Query parameters that never change page content — the standard
#: tracking/session set every crawl canonicalizer strips.
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "gclid", "fbclid", "msclkid", "ref", "sessionid",
    "phpsessid", "sid",
)


def canonicalize_url(url: Column | str,
                     strip_params: tuple = TRACKING_PARAMS) -> Column:
    """Canonical form of a URL for crawl-level dedup: lowercase scheme
    and host, default-port and fragment dropped, trailing slash
    trimmed from the path, tracking query parameters removed and the
    survivors SORTED by key — so the same page fetched through
    different campaign links / parameter orders collapses to one key.

    Pure built-ins end to end (``try_parse_url`` + split / filter /
    sort / concat higher-order functions): codegen'd, zero shuffle,
    NULL for unparseable input. Feed the result to ``exact_dedup`` /
    ``dedup_incremental`` as the id, or group on it for per-page
    crawl frequency."""
    u = F.col(url) if isinstance(url, str) else url
    proto = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    # HOST excludes the port, so it must be re-attached explicitly —
    # otherwise http://host:8080/x and http://host/x would collapse
    # into one key (false-positive dedup of distinct origins). Only
    # the scheme's DEFAULT port is dropped; any other port (and any
    # port on a non-http(s) scheme) is kept.
    # (parse_url has no PORT part — pull it off AUTHORITY, which is
    # [userinfo@]host[:port])
    port = F.nullif(
        F.regexp_extract(F.try_parse_url(u, F.lit("AUTHORITY")),
                         r":(\d+)$", 1), F.lit(""))
    default_port = (F.when(proto == "http", F.lit("80"))
                     .when(proto == "https", F.lit("443")))
    portpart = (F.when(port.isNull()
                       | (port == F.coalesce(default_port, F.lit(""))),
                       F.lit(""))
                 .otherwise(F.concat(F.lit(":"), port)))
    path = F.try_parse_url(u, F.lit("PATH"))
    path = F.when(path.isNull() | (path == ""), F.lit("")) \
        .otherwise(F.regexp_replace(path, r"/+$", ""))
    query = F.try_parse_url(u, F.lit("QUERY"))
    strip = F.array(*[F.lit(p) for p in strip_params])
    params = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda kv: (kv != "") & ~F.array_contains(
            strip, F.lower(F.split_part(kv, F.lit("="), F.lit(1)))))
    qcanon = F.array_join(F.array_sort(params), "&")
    return F.when(
        proto.isNull() | host.isNull(), F.lit(None)).otherwise(
        F.concat(proto, F.lit("://"), host, portpart, path,
                 F.when(qcanon == "", F.lit(""))
                  .otherwise(F.concat(F.lit("?"), qcanon))))
