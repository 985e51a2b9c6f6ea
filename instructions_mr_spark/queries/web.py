"""URL / domain-level dedup queries (EXT mandate — web-corpus
curation signals; operators/urls.py holds the normalization policy).

The testdata has no URL column, so both engines SYNTHESIZE the same
deterministic URL per document from (doc_id, source, lang) — mixed-
case schemes/hosts, optional ``www.``/mobile subdomains, tracking
params, trailing slashes, and fragments — and must then agree on the
normalized form, the dedup groups, and the per-domain rollup.  The
synthesis fragment is ONE string valid in both dialects, so the two
sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructions_mr_spark.functions import duck_hash, spark_hash
from instructions_mr_spark.operators.urls import (
    PUBLIC_SUFFIXES_DEMO,
    normalize_url,
    registrable_domain,
    url_host,
)
from instructions_mr_spark.queries._util import t
from instructions_mr_spark.registry import query
from instructions_mr_spark.plans.guard import literal_df

# Shared Spark-SQL/DuckDB synthesis fragment (STRING is a valid cast
# target in both dialects).
_URL_SYNTH = """
    CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://'
         WHEN doc_id % 4 = 1 THEN 'https://'
         WHEN doc_id % 4 = 2 THEN 'http://'
         ELSE 'https://' END
    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN 'm.' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END
    || CASE WHEN doc_id % 9 = 0 THEN '.COM' ELSE '.com' END
    || '/' || lang || '/page-' || CAST(doc_id % 40 AS STRING)
    || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS STRING)
            WHEN doc_id % 3 = 1
            THEN '?id=' || CAST(doc_id % 5 AS STRING) || '&utm_campaign=x'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN '#section-2' ELSE '' END
"""

# DuckDB twin of operators/urls.py:_stripped + normalize_url.
_DUCK_NORM_CTES = f"""
    urls AS (
      SELECT doc_id, source, lang, ({_URL_SYNTH}) AS url FROM documents
    ),
    stripped AS (
      SELECT doc_id, source, lang,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(regexp_replace(url, '#.*$', '')),
               '^[a-z][a-z0-9+.-]*://', ''),
               '^[^/?#]*@', ''),
               '^([^/:?#]*):[0-9]+([/?#]|$)', '\\1\\2'), '^www\\.', '') AS u
      FROM urls
    ),
    parts AS (
      SELECT doc_id, source, lang, u,
             regexp_replace(split_part(u, '?', 1), '/+$', '') AS path,
             split_part(u, '?', 2) AS qs
      FROM stripped
    ),
    norm AS (
      SELECT doc_id, source, lang, u,
             path || CASE WHEN qn != '' THEN '?' || qn ELSE '' END AS norm_url
      FROM (
        SELECT *,
               array_to_string(list_sort(list_filter(string_split(qs, '&'),
                 p -> p != '' AND NOT regexp_matches(p,
                   '^(utm_[a-z0-9_]+|ref|fbclid|gclid)='))), '&') AS qn
        FROM parts)
    )
"""


def _synth_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.expr(f"({_URL_SYNTH})").alias("url")
    )


@query(
    "url_dedup",
    oracle=f"""
    WITH {_DUCK_NORM_CTES}
    SELECT {duck_hash('norm_url', 17, hex_digits=15)} AS url_h,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           MIN(doc_id) AS kept_doc_id
    FROM norm GROUP BY 1
    """,
)
def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: canonicalize every document's URL
    (operators/urls.py policy: fragment/scheme/userinfo/port/www/
    tracking-params/trailing-slash dropped, params sorted,
    lowercased) and keep the lowest doc_id per canonical-URL DIGEST —
    the fetch-dedup pass a crawled corpus runs before any
    content-based dedup.

    Scale shape: normalization is a scan projection (regexp + in-row
    array ops, WholeStageCodegen); the group-by keys on the portable
    60-bit digest of the canonical URL, so the exchange carries
    (int64, int64) rows — never the URL strings.  Inspecting a dup
    group's actual URL is a join back by url_h on the tiny flagged
    subset."""
    u = _synth_urls(spark, sf_dir)
    return (
        u.select("doc_id", normalize_url("url").alias("norm_url"))
        .select("doc_id", F.expr(spark_hash("norm_url", 17, hex_digits=15)).alias("url_h"))
        .groupBy("url_h")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("kept_doc_id"),
        )
    )


@query(
    "domain_stats",
    oracle=f"""
    WITH {_DUCK_NORM_CTES},
    hosted AS (
      SELECT doc_id, norm_url,
             split_part(split_part(u, '/', 1), '?', 1) AS host
      FROM norm
    )
    SELECT COALESCE(NULLIF(regexp_extract(host, '[^.]+\\.[^.]+$'), ''), host)
             AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(DISTINCT {duck_hash('norm_url', 17, hex_digits=15)}) AS BIGINT)
             AS n_unique_urls,
           CAST(COUNT(*) - COUNT(DISTINCT {duck_hash('norm_url', 17, hex_digits=15)}) AS BIGINT)
             AS n_dup_urls
    FROM hosted GROUP BY 1
    """,
)
def domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level crawl report: per registrable domain (last-two-
    label heuristic with single-label fallback; swap in the public-
    suffix list via a broadcast table at production), document count,
    distinct hosts, distinct canonical URLs, and the duplicate-URL
    count — the signal that drives per-domain fetch budgets and
    mirror blacklisting.  (Duplication is emitted as the exact integer
    pair n_unique_urls/n_dup_urls, never a rounded rate.)

    Scale shape: one projection + one domain-keyed aggregate; the
    distinct-URL count keys on the 60-bit digest (int64, not the URL
    string) and re-keys inside the aggregate (Spark plans
    count-distinct as a two-phase expand — still one exchange on the
    domain key)."""
    u = _synth_urls(spark, sf_dir)
    return (
        u.select(
            registrable_domain("url").alias("domain"),
            url_host("url").alias("host"),
            normalize_url("url").alias("norm_url"),
        )
        .select(
            "domain",
            "host",
            F.expr(spark_hash("norm_url", 17, hex_digits=15)).alias("url_h"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.countDistinct("url_h").alias("n_unique_urls"),
            (F.count("*") - F.countDistinct("url_h")).alias("n_dup_urls"),
        )
    )


# PSL-query synthesis: suffix variety is the whole point (a .co.uk /
# .github.io host is where the PSL beats the two-label heuristic), so
# this twin-dialect fragment rotates hosts through listed multi-label
# suffixes, unlisted country suffixes, and bare/single-label hosts.
_URL_SYNTH_PSL = """
    'https://'
    || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN 'edge.' ELSE '' END
    || source
    || CASE doc_id % 7 WHEN 0 THEN '.com'
                       WHEN 1 THEN '.co.uk'
                       WHEN 2 THEN '.com.au'
                       WHEN 3 THEN '.github.io'
                       WHEN 4 THEN '.ac.uk'
                       WHEN 5 THEN '.org'
                       ELSE '.co.zz' END
    || '/' || lang || '/p' || CAST(doc_id % 20 AS STRING)
"""

_PSL_VALUES = ", ".join(
    f"('{s}', {s.count('.') + 1})" for s in PUBLIC_SUFFIXES_DEMO
)


@query(
    "domain_stats_psl",
    oracle=f"""
    WITH psl(suffix, slen) AS (VALUES {_PSL_VALUES}),
    urls AS (
      SELECT doc_id, ({_URL_SYNTH_PSL}) AS url FROM documents
    ),
    hosts AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(url),
               '^[a-z][a-z0-9+.-]*://', ''), '^www\\.', '') AS u
      FROM urls
    ),
    h AS (
      SELECT doc_id, split_part(split_part(u, '/', 1), '?', 1) AS host
      FROM hosts
    ),
    cands AS (
      SELECT doc_id, host, L,
             array_to_string(string_split(host, '.')[-L:], '.') AS cand
      FROM h, LATERAL (SELECT unnest([1, 2, 3]) AS L) s
      WHERE len(string_split(host, '.')) >= L
    ),
    matched AS (
      SELECT c.doc_id, c.host, MAX(p.slen) AS sl
      FROM cands c JOIN psl p ON c.cand = p.suffix
      GROUP BY c.doc_id, c.host
    ),
    reg AS (
      SELECT h.doc_id, h.host,
             CASE WHEN len(string_split(h.host, '.'))
                       >= COALESCE(m.sl, 1) + 1
                  THEN array_to_string(
                    string_split(h.host, '.')[-(COALESCE(m.sl, 1) + 1):], '.')
                  ELSE h.host END AS domain
      FROM h LEFT JOIN matched m ON h.doc_id = m.doc_id AND h.host = m.host
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM reg GROUP BY 1
    """,
)
def domain_stats_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup under the PUBLIC-SUFFIX LIST (the
    production replacement for the two-label heuristic): per host the
    longest listed suffix wins and the registrable domain is suffix +
    one label, so ``docs.blog.co.uk`` rolls up to ``blog.co.uk`` (the
    heuristic's ``co.uk`` would merge every .co.uk site into one
    phantom domain).  Suffix match is a BROADCAST join against the
    (tiny, ~9k-rule in production) suffix table — the scan never
    shuffles to resolve domains (operators/urls.py
    registrable_domain_psl; demo PSL slice PUBLIC_SUFFIXES_DEMO).

    Unlisted suffixes (the synthetic ``.co.zz``) fall back to the
    default single-label rule — publicsuffix.org's own '*' default."""
    from instructions_mr_spark.operators.urls import registrable_domain_psl

    u = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"({_URL_SYNTH_PSL})").alias("url")
    )
    hosts = u.select("doc_id", url_host("url").alias("host"))
    reg = registrable_domain_psl(hosts, spark)
    return reg.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
    )


# ------------------------------------------------ query-param mining

_TRACKING_RE = "^(utm_[a-z0-9_]+|ref|fbclid|gclid)$"


@query(
    "url_param_mining",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id, ({_URL_SYNTH}) AS url FROM documents
    ),
    qs AS (
      SELECT doc_id,
             split_part(regexp_replace(url, '#.*$', ''), '?', 2) AS q
      FROM urls
    ),
    params AS (
      SELECT doc_id,
             split_part(p, '=', 1) AS param,
             substr(p, length(split_part(p, '=', 1)) + 2) AS val
      FROM qs, LATERAL (SELECT unnest(string_split(q, '&')) AS p) s
      WHERE q != '' AND p != ''
    )
    SELECT param,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT val) AS BIGINT) AS n_values,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(CASE WHEN regexp_matches(param, '{_TRACKING_RE}')
                     THEN 1 ELSE 0 END AS BIGINT) AS policy_stripped
    FROM params GROUP BY param
    """,
)
def url_param_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-parameter mining — the audit that DISCOVERS tracking
    params instead of assuming the blocklist: per observed parameter
    name, occurrence count, distinct-value count, and distinct-doc
    count, plus whether the current normalization policy
    (operators/urls.py tracking-param regexp) already strips it.
    Params with many URLs but near-constant values (utm_source=feed)
    or values ~unique per URL (session ids) are stripping candidates
    the policy may be missing; this table is how the blocklist gets
    its next entry.

    Scale shape: parsing is a scan projection (regexp + split, no
    UDF); the aggregate groups by the parameter NAME — cardinality
    ~hundreds on real crawls — so the exchange is trivially small and
    count-distinct expands map-side.  At 100 TB run it on a sampled
    partition slice first; the ranking is stable under sampling."""
    u = _synth_urls(spark, sf_dir)
    params = (
        u.select(
            "doc_id",
            F.split_part(
                F.regexp_replace("url", "#.*$", ""), F.lit("?"), F.lit(2)
            ).alias("q"),
        )
        .filter(F.col("q") != "")
        .select("doc_id", F.explode(F.split("q", "&")).alias("p"))
        .filter(F.col("p") != "")
        .select(
            "doc_id",
            F.split_part(F.col("p"), F.lit("="), F.lit(1)).alias("param"),
            F.expr(
                "substr(p, length(split_part(p, '=', 1)) + 2)"
            ).alias("val"),
        )
    )
    return params.groupBy("param").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("val").alias("n_values"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max(
            F.when(
                F.regexp_like("param", F.lit(_TRACKING_RE)), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("policy_stripped"),
    )


# ------------------------------------------- crawl-frontier politeness


@query(
    "crawl_frontier_politeness",
    oracle=f"""
    WITH {_DUCK_NORM_CTES},
    hosted AS (
      SELECT doc_id, split_part(split_part(u, '/', 1), '?', 1) AS host
      FROM norm
    ),
    waves AS (
      SELECT host,
             CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id)
                  AS BIGINT) AS wave
      FROM hosted
    )
    SELECT wave, CAST(COUNT(*) AS BIGINT) AS n_fetches
    FROM waves GROUP BY wave
    """,
)
def crawl_frontier_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl frontier: at most ONE fetch per host
    per wave, so each URL's wave is its rank within its host queue
    (deterministic doc_id order) and the schedule's shape is the wave
    histogram — wave 1 hits every distinct host, the tail waves are
    the hot hosts that throttle the crawl (makespan = max wave =
    largest per-host queue).  This is how a frontier sized for 1000
    fetchers is laid out so no host sees concurrent requests.

    Scale shape: one window partitioned BY HOST (the natural crawl
    partitioning — each host queue is independent and the exchange
    key matches the politeness domain), then a narrow (wave) count.
    Skewed hosts make long queues, not hot shuffle keys: the window
    processes each host's queue on one task, which is exactly the
    politeness constraint."""
    from pyspark.sql import Window

    u = _synth_urls(spark, sf_dir)
    hosted = u.select("doc_id", url_host("url").alias("host"))
    w = Window.partitionBy("host").orderBy("doc_id")
    waves = hosted.select(
        F.row_number().over(w).cast("bigint").alias("wave")
    )
    return waves.groupBy("wave").agg(F.count("*").alias("n_fetches"))


# ------------------------------------------------- robots.txt gating

# Demo robots rules per host pattern (production: fetched robots.txt,
# parsed into one (host, path_prefix, allow) row per rule, broadcast).
_ROBOTS_RULES = [
    # (host_suffix_label, path_prefix, allow) — host matched exactly on
    # the synthesized corpus's '<source>.com' hosts.
    ("src0.com", "/en/", 0),
    ("src0.com", "/en/page-1", 1),   # allow overrides for page-1*
    ("src1.com", "/de/", 0),
    ("m.src2.com", "/", 0),          # mobile mirror fully disallowed
]

_ROBOTS_VALUES = ", ".join(
    f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES
)


@query(
    "robots_txt_gate",
    oracle=f"""
    WITH rules(rhost, prefix, allow) AS (VALUES {_ROBOTS_VALUES}),
    {_DUCK_NORM_CTES},
    pages AS (
      SELECT doc_id,
             split_part(split_part(u, '/', 1), '?', 1) AS host,
             CASE WHEN regexp_replace(split_part(u, '?', 1), '^[^/]*', '') = ''
                  THEN '/'
                  ELSE regexp_replace(split_part(u, '?', 1), '^[^/]*', '') END
               AS path
      FROM stripped
    ),
    matched AS (
      SELECT p.doc_id, p.host,
             MAX(CASE WHEN r.prefix IS NOT NULL
                      THEN lpad(CAST(length(r.prefix) AS VARCHAR), 4, '0')
                           || CAST(r.allow AS VARCHAR) END) AS win
      FROM pages p
      LEFT JOIN rules r
        ON p.host = r.rhost AND starts_with(p.path, r.prefix)
      GROUP BY p.doc_id, p.host
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(SUM(CASE WHEN win IS NULL OR substr(win, 5, 1) = '1'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
           CAST(SUM(CASE WHEN win IS NOT NULL AND substr(win, 5, 1) = '0'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
    FROM matched GROUP BY host
    """,
)
def robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gating with LONGEST-MATCH precedence (the Google/
    RFC 9309 rule): per URL, among all rules whose path-prefix
    matches, the longest prefix wins and its allow/disallow verdict
    decides; no matching rule means allowed.  Emitted as a per-host
    crawl report (urls / allowed / blocked) — the gate a fetcher
    consults before every request, run here corpus-wide to size the
    crawlable frontier.

    Scale shape: the rule table (thousands of rows in production) is
    BROADCAST; prefix matching is a broadcast theta-join evaluated in
    the scan stage, and the longest-match election is an exact
    string-pack max (zero-padded rule length + verdict — the
    embedding_label_centroid argmax pattern) inside the (doc, host)
    aggregate.  No corpus shuffle to resolve verdicts; the only
    exchanges are the per-doc election and the tiny host rollup."""
    matched = robots_verdicts(spark, sf_dir)
    return matched.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum(
            F.when(
                F.col("win").isNull() | (F.substring("win", 5, 1) == "1"), 1
            ).otherwise(0)
        ).alias("n_allowed"),
        F.sum(
            F.when(
                F.col("win").isNotNull() & (F.substring("win", 5, 1) == "0"), 1
            ).otherwise(0)
        ).alias("n_blocked"),
    )


def robots_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document robots verdict (doc_id, host, win) under
    longest-match precedence; `win` is NULL (no rule -> allowed) or
    the zero-padded (rule length, allow-bit) string pack whose 5th
    char holds the verdict.  Shared by the robots_txt_gate rollup and
    the web-curation example's per-doc gate."""
    rules = literal_df(spark,
        _ROBOTS_RULES, "rhost string, prefix string, allow int"
    )
    u = _synth_urls(spark, sf_dir)
    from instructions_mr_spark.operators.urls import url_path

    pages = u.select(
        "doc_id",
        url_host("url").alias("host"),
        url_path("url").alias("path"),
    )
    return (
        pages.join(
            F.broadcast(rules),
            (pages.host == rules.rhost)
            & pages.path.startswith(rules.prefix),
            "left",
        )
        .groupBy("doc_id", "host")
        .agg(
            F.max(
                F.when(
                    F.col("prefix").isNotNull(),
                    F.concat(
                        F.lpad(F.length("prefix").cast("string"), 4, "0"),
                        F.col("allow").cast("string"),
                    ),
                )
            ).alias("win")
        )
    )


# ------------------------------------------- dedup cascade attribution


@query(
    "dedup_cascade_attribution",
    oracle=f"""
    WITH {_DUCK_NORM_CTES},
    keyed AS (
      SELECT n.doc_id, md5(d.text) AS text_h,
             {duck_hash('n.norm_url', 17, hex_digits=15)} AS url_h
      FROM norm n JOIN documents d ON n.doc_id = d.doc_id
    ),
    keep1 AS (
      SELECT text_h, MIN(doc_id) AS keeper1 FROM keyed GROUP BY text_h
    ),
    s1 AS (
      SELECT k.doc_id, k.url_h, (k.doc_id != p.keeper1) AS killed_exact
      FROM keyed k JOIN keep1 p USING (text_h)
    ),
    keep2 AS (
      SELECT url_h, MIN(doc_id) AS keeper2
      FROM s1 WHERE NOT killed_exact GROUP BY url_h
    ),
    attributed AS (
      SELECT s1.doc_id,
             CASE WHEN s1.killed_exact THEN 'exact'
                  WHEN s1.doc_id != p2.keeper2 THEN 'url'
                  ELSE 'kept' END AS killed_by
      FROM s1 LEFT JOIN keep2 p2 USING (url_h)
    )
    SELECT killed_by, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM attributed GROUP BY killed_by
    """,
)
def dedup_cascade_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CASCADE with per-stage attribution — the production
    ordering (cheapest first): stage 1 exact-text hash keeps the
    lowest doc_id per body; stage 2 canonical-URL dedup runs ONLY
    over stage-1 survivors (cascade semantics: a doc killed by the
    cheap stage never reaches the expensive one).  Output is the
    kill-attribution rollup ('exact' / 'url' / 'kept') that tells a
    pipeline owner which stage is earning its cost — the report that
    decides whether to add/remove stages (near-dup LSH would be stage
    3, same composition pattern).

    Scale shape: both elections are digest-keyed argmin group-bys
    (md5 body hash, 60-bit URL digest — int64/hex exchanges, never
    bodies); the cascade filter is a join-back by the same digest, so
    stage 2's exchange shrinks by stage 1's kill rate.  At 100 TB
    each stage's keeper table is also the incremental-ingestion state
    (dedup_incremental's left-join shape)."""
    from pyspark.sql.functions import md5

    d = t(spark, sf_dir, "documents")
    u = _synth_urls(spark, sf_dir)
    keyed = d.select("doc_id", md5("text").alias("text_h")).join(
        u.select("doc_id", normalize_url("url").alias("norm_url")).select(
            "doc_id", F.expr(spark_hash("norm_url", 17, hex_digits=15)).alias("url_h")
        ),
        "doc_id",
    )
    keep1 = keyed.groupBy("text_h").agg(F.min("doc_id").alias("keeper1"))
    s1 = keyed.join(keep1, "text_h").select(
        "doc_id", "url_h", (F.col("doc_id") != F.col("keeper1")).alias("killed_exact")
    )
    keep2 = (
        s1.filter(~F.col("killed_exact"))
        .groupBy("url_h")
        .agg(F.min("doc_id").alias("keeper2"))
    )
    attributed = s1.join(keep2, "url_h", "left").select(
        F.when(F.col("killed_exact"), "exact")
        .when(F.col("doc_id") != F.col("keeper2"), "url")
        .otherwise("kept")
        .alias("killed_by")
    )
    return attributed.groupBy("killed_by").agg(F.count("*").alias("n_docs"))
