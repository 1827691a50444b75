"""Link/URL extraction over markup ([north-star] N5 adjacency,
extending ``operators/markup.py`` toward the full CommonCrawl
preprocessing shape; no reference citation — the reference has no
documents). After boilerplate stripping, the other thing a web-scale
corpus pipeline pulls out of HTML is the LINK GRAPH: outlink lists
per document and host-level degree aggregates (the inputs to
PageRank-style quality priors and domain-level source caps).

Fixture: ``synth_html``'s five static anchors (relative paths) plus a
deterministic ``<ul>`` of varied links per document — two internal
doc-to-doc links (targets ``doc_id*7 % 997`` and ``doc_id*13 % 997``
on the doc's own language host), one external CDN asset on a host
cycling over 5 shards, a fragment-only anchor and a ``mailto:``
(both of which extraction must KEEP in the raw href count but DROP
from the http link set). The DuckDB oracle rebuilds the identical
bytes, so the hash match proves extraction, host parsing, filtering,
and the degree aggregation are engine-exact.

Scale posture: extraction is per-row regex map work (zero shuffle);
``link_host_degree`` is one explode + one hash aggregation on host —
the same narrow-explode pattern as the markup block queries. No
Python workers anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    dec_qsum,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.operators.graph import (
    PAGERANK_CTES,
    PR_ITERS,
    PR_TOPN,
    _Q9,
    pagerank,
    top_ranked,
)
from bigdata_pipelines_aws_glue_spark.operators.markup import (
    _HTML_CTE,
    synth_html,
)
from bigdata_pipelines_aws_glue_spark.operators.urls import (
    _REF_SCHEME_RE,
    _resolve_sql,
    resolve_ref,
)
from bigdata_pipelines_aws_glue_spark.operators.skew import spread
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

_HREF_RE = r'href="([^"]*)"'
_HTTP_RE = r"^https?://"
_HOST_RE = r"^https?://([^/]+)"
#: path = everything after the host (empty -> "/")
_PATH_RE = r"^https?://[^/]*(/.*)?$"


def synth_linked_html(
    doc_id: Column, lang: Column, text: Column
) -> Column:
    """The markup fixture plus the varied-link block (appended as one
    more newline-separated block, so the markup family's block
    queries are untouched)."""
    t1 = (doc_id * F.lit(7)) % F.lit(997)
    t2 = (doc_id * F.lit(13)) % F.lit(997)
    links = F.concat(
        F.lit('<ul class="links"><li><a href="https://'),
        lang,
        F.lit(".example.test/doc/"),
        t1.cast("string"),
        F.lit('">doc a</a></li><li><a href="https://'),
        lang,
        F.lit(".example.test/doc/"),
        t2.cast("string"),
        F.lit('">doc b</a></li><li><a href="https://cdn'),
        (doc_id % F.lit(5)).cast("string"),
        F.lit(".assets.test/img/"),
        (doc_id % F.lit(50)).cast("string"),
        F.lit('.png">img</a></li><li><a href="#top">top</a></li>'),
        F.lit('<li><a href="mailto:ops@example.test">contact</a>'),
        F.lit("</li></ul>"),
    )
    return F.concat_ws("\n", synth_html(doc_id, lang, text), links)


#: DuckDB twin of the appended link block.
_LINKS_SQL = """
    '<ul class="links"><li><a href="https://' || lang
    || '.example.test/doc/' || CAST((doc_id * 7) % 997 AS VARCHAR)
    || '">doc a</a></li><li><a href="https://' || lang
    || '.example.test/doc/' || CAST((doc_id * 13) % 997 AS VARCHAR)
    || '">doc b</a></li><li><a href="https://cdn'
    || CAST(doc_id % 5 AS VARCHAR) || '.assets.test/img/'
    || CAST(doc_id % 50 AS VARCHAR)
    || '.png">img</a></li><li><a href="#top">top</a></li>'
    || '<li><a href="mailto:ops@example.test">contact</a></li></ul>'
"""

#: CTE producing (doc_id, lang, lhtml) — markup's hx plus the links.
_LINKED_CTE = (
    _HTML_CTE
    + f""",
lh AS (
    SELECT doc_id, lang,
           html || chr(10) || {_LINKS_SQL} AS lhtml
    FROM hx
)
"""
)


def _http_links(html: Column) -> Column:
    """array<string> of absolute http(s) hrefs, document order."""
    return F.filter(
        F.regexp_extract_all(html, F.lit(_HREF_RE), F.lit(1)),
        lambda x: x.rlike(_HTTP_RE),
    )


def extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document outlink report: raw href count, http(s) subset,
    internal/external split (internal = the doc's own language host),
    distinct-host count, and an md5 over the SORTED http link list
    (order-insensitive content attestation)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    html = synth_linked_html(F.col("doc_id"), F.col("lang"), F.col("text"))
    hrefs = F.regexp_extract_all(html, F.lit(_HREF_RE), F.lit(1))
    http = _http_links(html)
    hosts = F.transform(
        http, lambda x: F.regexp_extract(x, _HOST_RE, 1)
    )
    own_host = F.concat(F.col("lang"), F.lit(".example.test"))
    n_internal = F.size(
        F.filter(hosts, lambda h: h == own_host)
    )
    return docs.select(
        "doc_id",
        F.size(hrefs).cast("int").alias("n_hrefs"),
        F.size(http).cast("int").alias("n_http"),
        n_internal.cast("int").alias("n_internal"),
        (F.size(http) - n_internal).cast("int").alias("n_external"),
        F.size(F.array_distinct(hosts)).cast("int").alias("n_hosts"),
        F.md5(F.array_join(F.array_sort(http), "|")).alias("links_md5"),
    )


EXTRACT_LINKS_ORACLE = (
    _LINKED_CTE
    + f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lhtml, '{_HREF_RE}', 1)) AS INT)
           AS n_hrefs,
       CAST(len(list_filter(regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                x -> regexp_matches(x, '{_HTTP_RE}'))) AS INT) AS n_http,
       CAST(len(list_filter(
                list_transform(
                    list_filter(regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                                x -> regexp_matches(x, '{_HTTP_RE}')),
                    x -> regexp_extract(x, '{_HOST_RE}', 1)),
                h -> h = lang || '.example.test')) AS INT) AS n_internal,
       CAST(len(list_filter(regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                x -> regexp_matches(x, '{_HTTP_RE}')))
            - len(list_filter(
                list_transform(
                    list_filter(regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                                x -> regexp_matches(x, '{_HTTP_RE}')),
                    x -> regexp_extract(x, '{_HOST_RE}', 1)),
                h -> h = lang || '.example.test')) AS INT) AS n_external,
       CAST(len(list_distinct(
                list_transform(
                    list_filter(regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                                x -> regexp_matches(x, '{_HTTP_RE}')),
                    x -> regexp_extract(x, '{_HOST_RE}', 1)))) AS INT)
           AS n_hosts,
       md5(array_to_string(list_sort(
           list_filter(regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                       x -> regexp_matches(x, '{_HTTP_RE}'))), '|'))
           AS links_md5
FROM lh
"""
)


def link_host_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level degree aggregation over the corpus link graph: for
    each target host, total inlinks, distinct linking documents, and
    distinct target paths. One explode + one hash aggregation — the
    domain-cap/source-mix input shape."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    html = synth_linked_html(F.col("doc_id"), F.col("lang"), F.col("text"))
    edges = docs.select(
        "doc_id", F.explode(_http_links(html)).alias("url")
    ).select(
        "doc_id",
        F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("host"),
        F.coalesce(
            F.nullif(F.regexp_extract(F.col("url"), _PATH_RE, 1), F.lit("")),
            F.lit("/"),
        ).alias("path"),
    )
    return edges.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("doc_id").cast("long").alias("n_src_docs"),
        F.countDistinct("path").cast("long").alias("n_paths"),
    )


HOST_DEGREE_ORACLE = (
    _LINKED_CTE
    + f""",
edges AS (
    SELECT doc_id,
           regexp_extract(u.url, '{_HOST_RE}', 1) AS host,
           coalesce(nullif(regexp_extract(u.url, '{_PATH_RE}', 1), ''),
                    '/') AS path
    FROM (
        SELECT doc_id,
               unnest(list_filter(
                   regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                   x -> regexp_matches(x, '{_HTTP_RE}'))) AS url
        FROM lh
    ) u
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
       CAST(count(DISTINCT path) AS BIGINT) AS n_paths
FROM edges
GROUP BY host
"""
)


#: internal doc-to-doc link target: the trailing id of an
#: own-language ``/doc/{t}`` URL.
_DOC_TARGET_RE = r"/doc/([0-9]+)$"


def _doc_edges(
    spark: SparkSession, sf_dir: str, refs: DataFrame | None = None
) -> DataFrame:
    """DISTINCT (src, dst) doc-to-doc edges parsed back out of the
    synthesized HTML (extraction -> graph composition, not fixture
    arithmetic), restricted to targets that exist in the corpus.
    t1 == t2 collapses under distinct; t == doc_id is a legal
    self-loop (doc 0).

    ``refs``: a caller that ALSO needs :func:`_http_refs`
    (frontier_authority_rank) passes its checkpointed frame so the
    linked-HTML synthesis + href regex scan runs once per invocation
    instead of once per consumer. Row-set
    identical by construction: filtering the exploded refs on
    ``internal`` equals exploding the internal-filtered array, and
    ``dst = cast(t_raw)`` is the same ``_DOC_TARGET_RE`` extract."""
    docs = load_table(spark, sf_dir, "documents")
    if refs is not None:
        edges = (
            refs.filter(F.col("internal"))
            .select(
                F.col("doc_id").alias("src"),
                F.col("t_raw").cast("long").alias("dst"),
            )
            .distinct()
        )
    else:
        html = synth_linked_html(
            F.col("doc_id"), F.col("lang"), F.col("text")
        )
        own_host = F.concat(F.col("lang"), F.lit(".example.test"))
        internal = F.filter(
            _http_links(html),
            lambda x: F.regexp_extract(x, _HOST_RE, 1) == own_host,
        )
        edges = (
            spread(docs).select(
                F.col("doc_id").alias("src"),
                F.explode(internal).alias("url"),
            )
            .select(
                "src",
                F.regexp_extract(F.col("url"), _DOC_TARGET_RE, 1)
                .cast("long")
                .alias("dst"),
            )
            .distinct()
        )
    targets = docs.select(F.col("doc_id").alias("dst"))
    return edges.join(targets, "dst", "left_semi")


def _pagerank_ranks(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """:func:`pagerank` over the unweighted (``w = 1``) link graph —
    factored out of :func:`link_pagerank` so
    :func:`frontier_authority_rank` spends the SAME rank mass on
    frontier ordering. ``edges`` lets frontier_authority_rank pass the
    edge frame it derived from its shared refs checkpoint."""
    if edges is None:
        edges = _doc_edges(spark, sf_dir)
    return pagerank(edges.withColumn("w", F.lit(1)))


def link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PR_TOPN`` documents by :func:`pagerank` over the extracted
    link graph — the HTML -> links -> graph -> quality-prior
    composition a crawl pipeline runs. The kernel's leak semantics
    matter here: at sf<=0.01 about half the mod-997 targets fall
    outside the corpus (dropped by the existence semi-join), so the
    graph has both dangling nodes and nodes without inlinks."""
    return top_ranked(_pagerank_ranks(spark, sf_dir)).select(
        "pos",
        F.col("node").alias("doc_id"),
        stable_round(F.col("r"), 9).alias("pagerank"),
    )


#: just the extracted+existence-filtered edge list (raw_edges,
#: edges, with PageRank's weight column w = 1) — the prefix the graph
#: oracles (LPA, k-core) share without PageRank's rank CTEs.
#: MATERIALIZED: edges is referenced 2-6x downstream (both UNION
#: orientations, outw/e/nn/r0) and a
#: non-materialized chain re-inlines the lh regex extraction per
#: reference (the standing DuckDB CTE rule).
_EDGES_CHAIN = f""",
raw_edges AS MATERIALIZED (
    SELECT DISTINCT doc_id AS src,
           -- TRY_CAST, not CAST: when a MATERIALIZED consumer keeps
           -- DuckDB from pushing the own-host filter into the unnest,
           -- the cast must tolerate the non-/doc/ URLs it then sees
           -- (identical to CAST on every row the filter keeps; Spark's
           -- non-ANSI cast already null-tolerates)
           TRY_CAST(regexp_extract(u.url, '{_DOC_TARGET_RE}', 1)
                    AS BIGINT) AS dst
    FROM (
        SELECT doc_id, lang,
               unnest(list_filter(
                   regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                   x -> regexp_matches(x, '{_HTTP_RE}'))) AS url
        FROM lh
    ) u
    WHERE regexp_extract(u.url, '{_HOST_RE}', 1)
              = u.lang || '.example.test'
),
edges AS MATERIALIZED (
    SELECT src, dst, 1 AS w FROM raw_edges
    WHERE dst IN (SELECT doc_id FROM documents)
)"""


#: the undirected distinct form (self-loops dropped) — the SQL twin
#: of :func:`_undirected`, shared by the LPA and k-core oracles so
#: the construction lives in exactly one string.
_UNDIRECTED_CTE = """,
ue AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges
    ) WHERE src <> dst
)"""


#: the PageRank oracle CTE chain (edges prefix + ``PAGERANK_CTES``)
#: — shared by ``LINK_PAGERANK_ORACLE`` and the authority-ordered
#: frontier so both replay the identical kernel.
_PR_CHAIN = _EDGES_CHAIN + ",\n" + PAGERANK_CTES


LINK_PAGERANK_ORACLE = (
    _LINKED_CTE
    + _PR_CHAIN
    + f""",
ranked AS (
    SELECT node, r,
           row_number() OVER (ORDER BY r DESC, node) AS pos
    FROM r{PR_ITERS}
)
SELECT CAST(pos AS INT) AS pos,
       node AS doc_id,
       floor(r * 1000000000.0 + 0.5) / 1000000000.0 AS pagerank
FROM ranked WHERE pos <= {PR_TOPN}
"""
)


def crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that closes the crawl loop (WARC -> HTML -> links ->
    FRONTIER): every http URL referenced by the corpus but not in it,
    with reference counts and a per-host politeness rank — the queue
    a crawler actually consumes, ordered so each host is fetched
    most-wanted-first while hosts proceed independently (politeness =
    one queue per host).

    Visited = the corpus's own doc URLs, so an internal ``/doc/{t}``
    link is frontier iff target ``t`` is NOT a corpus doc_id (at
    sf0.01 roughly half the mod-997 targets are unvisited; at sf0.1
    every target exists and the internal frontier is empty — the
    external CDN assets remain). The existence check is a LEFT ANTI
    join on doc_id (the complement of ``_doc_edges``' semi join);
    externals are never visited. One explode + one anti join + one
    hash agg + one per-host window — no Python, nothing all-pairs."""
    frontier = _frontier_refs(spark, sf_dir)
    agg = frontier.groupBy("host", "url").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs"),
        F.min("doc_id").alias("first_ref_doc"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col("url").asc()
    )
    return agg.select(
        "host",
        F.row_number().over(w).cast("int").alias("fetch_rank"),
        "url",
        "n_refs",
        "first_ref_doc",
    )


def _http_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per http OUTLINK occurrence with its classification
    columns — (doc_id, n_http, url, host, t_raw, internal). The
    expensive part of both frontier derivations: linked-HTML
    synthesis + href extraction + host/target regexes. Factored out
    so ``frontier_authority_rank`` can checkpoint it ONCE per
    invocation and feed both its PageRank edge set and its frontier
    membership from the same scan."""
    # spread: the synthesis/regex map stage is embarrassingly
    # parallel; a single-split scan would run it in one task.
    docs = spread(load_table(spark, sf_dir, "documents"))
    html = synth_linked_html(F.col("doc_id"), F.col("lang"), F.col("text"))
    own_host = F.concat(F.col("lang"), F.lit(".example.test"))
    http = _http_links(html)
    return docs.select(
        "doc_id",
        own_host.alias("own_host"),
        F.size(http).cast("long").alias("n_http"),
        F.explode(http).alias("url"),
    ).select(
        "doc_id",
        "n_http",
        "url",
        F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("host"),
        F.regexp_extract(F.col("url"), _DOC_TARGET_RE, 1).alias("t_raw"),
        (
            F.regexp_extract(F.col("url"), _HOST_RE, 1)
            == F.col("own_host")
        ).alias("internal"),
    )


def _frontier_refs(
    spark: SparkSession, sf_dir: str, refs: DataFrame | None = None
) -> DataFrame:
    """One row per FRONTIER REFERENCE — (doc_id, n_http, url, host)
    for every http URL the corpus cites but does not contain
    (unvisited internal targets + all externals). THE shared
    membership derivation: ``crawl_frontier`` aggregates it into the
    demand queue (ignoring ``n_http``) and
    ``frontier_authority_rank`` spends PageRank mass over it
    (``n_http`` = the referring doc's full http outdegree, OPIC's
    cash divisor) — so a change to the membership rules moves both
    queries AND both oracles (``_FRONTIER_CTES``) together."""
    docs = load_table(spark, sf_dir, "documents")
    if refs is None:
        refs = _http_refs(spark, sf_dir)
    internal = refs.filter(F.col("internal")).withColumn(
        "target", F.col("t_raw").cast("long")
    )
    unvisited_internal = internal.join(
        docs.select(F.col("doc_id").alias("target")),
        "target",
        "left_anti",
    )
    external = refs.filter(~F.col("internal"))
    return unvisited_internal.select(
        "doc_id", "n_http", "url", "host"
    ).unionByName(external.select("doc_id", "n_http", "url", "host"))


#: DuckDB twin of :func:`_frontier_refs` — the ``frontier`` CTE both
#: frontier oracles build on.
_FRONTIER_CTES = f""",
hb AS (
    SELECT doc_id, lang,
           list_filter(regexp_extract_all(lhtml, '{_HREF_RE}', 1),
                       x -> regexp_matches(x, '{_HTTP_RE}')) AS http
    FROM lh
),
fr_refs AS (
    SELECT doc_id, lang, CAST(len(http) AS BIGINT) AS n_http,
           unnest(http) AS url
    FROM hb
),
fr_refs2 AS (
    SELECT doc_id, n_http, url,
           regexp_extract(url, '{_HOST_RE}', 1) AS host,
           regexp_extract(url, '{_DOC_TARGET_RE}', 1) AS t_raw,
           regexp_extract(url, '{_HOST_RE}', 1)
               = lang || '.example.test' AS internal
    FROM fr_refs
),
frontier AS (
    SELECT doc_id, n_http, url, host FROM fr_refs2
    WHERE internal
      AND CAST(t_raw AS BIGINT) NOT IN (SELECT doc_id FROM documents)
    UNION ALL
    SELECT doc_id, n_http, url, host FROM fr_refs2 WHERE NOT internal
)"""


CRAWL_FRONTIER_ORACLE = (
    _LINKED_CTE
    + _FRONTIER_CTES
    + """,
agg AS (
    SELECT host, url,
           CAST(count(*) AS BIGINT) AS n_refs,
           min(doc_id) AS first_ref_doc
    FROM frontier
    GROUP BY host, url
)
SELECT host,
       CAST(row_number() OVER (
            PARTITION BY host ORDER BY n_refs DESC, url ASC
       ) AS INT) AS fetch_rank,
       url, n_refs, first_ref_doc
FROM agg
"""
)


# ---------------------------------- relative-URL resolution layer

#: every document's base URL for reference resolution (RFC 3986 §5.1
#: "base URI from the encapsulating entity"): a multi-segment path so
#: directory merges and ``..`` pops are exercised for real.


def synth_base_url(doc_id: Column, lang: Column) -> Column:
    return F.concat(
        F.lit("https://"),
        lang,
        F.lit(".example.test/s"),
        (doc_id % F.lit(3)).cast("string"),
        F.lit("/t"),
        (doc_id % F.lit(4)).cast("string"),
        F.lit("/index.html"),
    )


def _base_path(doc_id: Column) -> Column:
    return F.concat(
        F.lit("/s"),
        (doc_id % F.lit(3)).cast("string"),
        F.lit("/t"),
        (doc_id % F.lit(4)).cast("string"),
        F.lit("/index.html"),
    )


_BASE_PATH_SQL = (
    "('/s' || CAST(doc_id % 3 AS VARCHAR) || '/t' "
    "|| CAST(doc_id % 4 AS VARCHAR) || '/index.html')"
)


def synth_rel_html(doc_id: Column, lang: Column, text: Column) -> Column:
    """``synth_linked_html`` plus a relative-reference block — the
    href shapes real crawl HTML is actually made of (RFC 3986 §5.4's
    example set, doc-parameterized): a path merge, a ``.`` segment, a
    ``..`` pop, a past-root ``..`` clamp, a protocol-relative URL, a
    query-only ref, and an empty (same-document) ref. Appended as one
    more newline-separated block so every existing fixture consumer
    is untouched."""
    rel = F.concat(
        F.lit('<ul class="rel"><li><a href="sub/p'),
        (doc_id % F.lit(7)).cast("string"),
        F.lit('.html">r1</a></li><li><a href="./n'),
        (doc_id % F.lit(5)).cast("string"),
        F.lit('">r2</a></li><li><a href="../u'),
        (doc_id % F.lit(3)).cast("string"),
        F.lit('">r3</a></li><li><a href="../../../d'),
        (doc_id % F.lit(2)).cast("string"),
        F.lit('">r4</a></li><li><a href="//cdn'),
        (doc_id % F.lit(5)).cast("string"),
        F.lit(".assets.test/lib"),
        (doc_id % F.lit(50)).cast("string"),
        F.lit('.js">r5</a></li><li><a href="?v='),
        (doc_id % F.lit(9)).cast("string"),
        F.lit('">r6</a></li><li><a href="">r7</a></li></ul>'),
    )
    return F.concat_ws(
        "\n", synth_linked_html(doc_id, lang, text), rel
    )


#: DuckDB twin of the relative-reference block.
_REL_SQL = """
    '<ul class="rel"><li><a href="sub/p'
    || CAST(doc_id % 7 AS VARCHAR)
    || '.html">r1</a></li><li><a href="./n'
    || CAST(doc_id % 5 AS VARCHAR)
    || '">r2</a></li><li><a href="../u'
    || CAST(doc_id % 3 AS VARCHAR)
    || '">r3</a></li><li><a href="../../../d'
    || CAST(doc_id % 2 AS VARCHAR)
    || '">r4</a></li><li><a href="//cdn'
    || CAST(doc_id % 5 AS VARCHAR) || '.assets.test/lib'
    || CAST(doc_id % 50 AS VARCHAR)
    || '.js">r5</a></li><li><a href="?v='
    || CAST(doc_id % 9 AS VARCHAR)
    || '">r6</a></li><li><a href="">r7</a></li></ul>'
"""

#: CTE producing (doc_id, lang, rhtml) and the exploded hrefs with
#: their document-order index (the range/struct_pack ordinality
#: trick of markup's _BLOCK_CTE).
_REL_CTE = (
    _LINKED_CTE
    + f""",
rel AS (
    SELECT doc_id, lang,
           lhtml || chr(10) || {_REL_SQL} AS rhtml
    FROM lh
),
hr0 AS (
    SELECT doc_id, lang,
           unnest(list_transform(
               range(1, len(hl) + 1),
               i -> struct_pack(idx := i - 1,
                                href := hl[CAST(i AS INT)]))) AS u
    FROM (
        SELECT doc_id, lang,
               regexp_extract_all(rhtml, '{_HREF_RE}', 1) AS hl
        FROM rel
    )
),
hr AS (
    SELECT doc_id, lang,
           CAST(u.idx AS INT) AS href_idx,
           u.href AS href
    FROM hr0
)
"""
)


def _href_kind(href: Column) -> Column:
    """Reference taxonomy (diagnostic column; branch order mirrors
    :func:`urls.resolve_ref`)."""
    return (
        F.when(href == F.lit(""), F.lit("empty"))
        .when(href.startswith("#"), F.lit("fragment_only"))
        .when(href.rlike(r"^https?://"), F.lit("absolute"))
        .when(href.rlike(_REF_SCHEME_RE), F.lit("other_scheme"))
        .when(href.startswith("//"), F.lit("protocol_relative"))
        .when(href.startswith("/"), F.lit("root_relative"))
        .when(href.startswith("?"), F.lit("query_only"))
        .otherwise(F.lit("relative"))
    )


_HREF_KIND_SQL = f"""CASE
        WHEN href = '' THEN 'empty'
        WHEN href LIKE '#%' THEN 'fragment_only'
        WHEN regexp_matches(href, '^https?://') THEN 'absolute'
        WHEN regexp_matches(href, '{_REF_SCHEME_RE}') THEN 'other_scheme'
        WHEN href LIKE '//%' THEN 'protocol_relative'
        WHEN href LIKE '/%' THEN 'root_relative'
        WHEN href LIKE '?%' THEN 'query_only'
        ELSE 'relative'
    END"""


def _exploded_hrefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, href_idx, href): every href in the rel-fixture
    HTML, in document order. One narrow explode, no shuffle."""
    # spread: parallelize the synthesis + href-extract map stage over
    # a single-split scan; a no-op when the scan already has enough
    # partitions.
    docs = spread(load_table(spark, sf_dir, "documents"))
    html = synth_rel_html(F.col("doc_id"), F.col("lang"), F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        F.posexplode(
            F.regexp_extract_all(html, F.lit(_HREF_RE), F.lit(1))
        ).alias("href_idx", "href"),
    ).withColumn("href_idx", F.col("href_idx").cast("int"))


def resolve_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-href resolution report: every reference in the document —
    absolute, protocol-relative, root-relative, dotted-relative,
    query-only, fragment-only, empty, ``mailto:`` — resolved against
    the document's base URL per RFC 3986 §5 (``urls.resolve_ref``),
    with its taxonomy class. The layer between the HTML extractor
    and the URL canonicalizer: real crawl hrefs are mostly
    relative. Map-only regex/string work."""
    hrefs = _exploded_hrefs(spark, sf_dir)
    resolved = resolve_ref(
        F.lit("https"),
        F.concat(F.col("lang"), F.lit(".example.test")),
        _base_path(F.col("doc_id")),
        F.col("href"),
    )
    return hrefs.select(
        "doc_id",
        "href_idx",
        "href",
        _href_kind(F.col("href")).alias("kind"),
        resolved.alias("resolved_url"),
    )


RESOLVE_LINKS_ORACLE = (
    _REL_CTE
    + f"""
SELECT doc_id, href_idx, href,
       {_HREF_KIND_SQL} AS kind,
       {_resolve_sql("'https'", "(lang || '.example.test')",
                     _BASE_PATH_SQL, "href")} AS resolved_url
FROM hr
"""
)


def crawl_frontier_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier over the FULL reference set — absolute hrefs plus
    every resolved relative — with a URL-EXACT visited check: a URL
    is visited iff it is literally some corpus document's own URL
    (``https://{lang}.example.test/doc/{id}``). Unlike
    ``crawl_frontier``'s doc_id-target check, an own-host ``/doc/t``
    link whose host differs from doc t's actual language host stays
    in the frontier — exactly what a URL-keyed crawler store would
    decide. Non-http refs (``mailto:``) drop out. One explode + one
    anti join on the URL string + one hash agg + one per-host
    politeness window."""
    docs = load_table(spark, sf_dir, "documents")
    # The href explode is separated from the resolution projection by
    # a hash exchange. Fused, the whole-stage method for this stage
    # (generate + resolve + filter + partial agg) exceeds janino's
    # 64 KB per-method limit ("ERROR CodeGenerator: Failed to
    # compile", then interpreted fallback for the entire stage); an
    # Exchange ends the whole-stage-codegen span at the cost of one
    # narrow shuffle inside the consumer's job. numPartitions is
    # pinned to defaultParallelism (derived, not a local constant)
    # because AQE would coalesce these few metadata bytes into one
    # partition and serialize the 16-pass resolve chain that follows.
    hrefs = _exploded_hrefs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    resolved = resolve_ref(
        F.lit("https"),
        F.concat(F.col("lang"), F.lit(".example.test")),
        _base_path(F.col("doc_id")),
        F.col("href"),
    )
    refs = hrefs.select("doc_id", resolved.alias("url")).filter(
        F.col("url").rlike(r"^https?://")
    )
    visited = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("lang"),
            F.lit(".example.test/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    frontier = refs.join(visited, "url", "left_anti")
    agg = frontier.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs"),
        F.min("doc_id").alias("first_ref_doc"),
    )
    agg = agg.select(
        F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("host"),
        "url",
        "n_refs",
        "first_ref_doc",
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col("url").asc()
    )
    return agg.select(
        "host",
        F.row_number().over(w).cast("int").alias("fetch_rank"),
        "url",
        "n_refs",
        "first_ref_doc",
    )


CRAWL_FRONTIER_RESOLVED_ORACLE = (
    _REL_CTE
    + f""",
rr AS (
    SELECT doc_id,
           {_resolve_sql("'https'", "(lang || '.example.test')",
                         _BASE_PATH_SQL, "href")} AS url
    FROM hr
),
fr AS (
    SELECT doc_id, url FROM rr
    WHERE regexp_matches(url, '^https?://')
      AND url NOT IN (
          SELECT 'https://' || lang || '.example.test/doc/'
                 || CAST(doc_id AS VARCHAR)
          FROM documents
      )
),
agg AS (
    SELECT regexp_extract(url, '{_HOST_RE}', 1) AS host, url,
           CAST(count(*) AS BIGINT) AS n_refs,
           min(doc_id) AS first_ref_doc
    FROM fr
    GROUP BY url
)
SELECT host,
       CAST(row_number() OVER (
            PARTITION BY host ORDER BY n_refs DESC, url ASC
       ) AS INT) AS fetch_rank,
       url, n_refs, first_ref_doc
FROM agg
"""
)


def frontier_authority_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Authority-driven crawl ordering (public method: OPIC,
    Abiteboul et al. 2003; importance-first crawl scheduling, Cho,
    Garcia-Molina & Page 1998): each frontier URL's priority is the
    PAGERANK MASS flowing into it — sum over referring docs of
    ``PR(doc) / outdeg(doc)`` — instead of the raw reference count
    ``crawl_frontier`` ranks by. Makes ``link_pagerank``'s vector
    load-bearing in the crawl stack: the same attested kernel
    (:func:`_pagerank_ranks`) feeds the scheduler, and
    ``rank_shift`` exposes exactly where authority overrules demand
    (a URL cited once by a high-rank page outranks one cited twice
    by rank-less leaves).

    Semantics shared with the attested pieces: frontier membership
    is ``crawl_frontier``'s (unvisited internal + external refs);
    ``demand_rank`` replays its per-host (n_refs DESC, url) order
    exactly (pytest joins the two); docs outside the rank vector
    contribute 0 (the documented leak semantics); outdegree is the
    doc's FULL http outlink count — OPIC divides a page's cash over
    every outlink, visited or not. Numerics: per-contribution
    quantization at 1e-9 + decimal-carried sum (``dec_qsum``), the
    PageRank kernel's own discipline; the per-host windows order by
    the exact integer sum, never the double.

    Scale shape: one explode + one anti join + one hash join onto
    the bounded rank vector + one hash agg + two per-host windows —
    the ``crawl_frontier`` plan plus a single extra join, nothing
    all-pairs, no Python."""
    # The PageRank edge set and the frontier membership both start
    # from the same linked-HTML synthesis + href/host regex scan: one
    # eager checkpoint of the shared (doc_id, n_http, url, host,
    # t_raw, internal) refs frame feeds both consumers, so the scan
    # runs once per invocation — within-query reuse only, nothing
    # crosses invocations.
    refs = _http_refs(spark, sf_dir).localCheckpoint(eager=True)
    ranks = _pagerank_ranks(
        spark, sf_dir, edges=_doc_edges(spark, sf_dir, refs=refs)
    )
    frontier = _frontier_refs(spark, sf_dir, refs=refs)
    contrib = frontier.join(
        ranks, frontier["doc_id"] == ranks["node"], "left"
    ).select(
        "host",
        "url",
        (
            F.coalesce(F.col("r"), F.lit(0.0))
            / F.col("n_http").cast("double")
        ).alias("c"),
    )
    agg = contrib.groupBy("host", "url").agg(
        dec_qsum(F.col("c"), _Q9).alias("auth_q"),
        F.count(F.lit(1)).cast("long").alias("n_refs"),
    )
    w_auth = Window.partitionBy("host").orderBy(
        F.col("auth_q").desc(), F.col("n_refs").desc(), F.col("url").asc()
    )
    w_dem = Window.partitionBy("host").orderBy(
        F.col("n_refs").desc(), F.col("url").asc()
    )
    return (
        agg.select(
            "host",
            F.row_number().over(w_auth).cast("int").alias("auth_rank"),
            "url",
            (F.col("auth_q").cast("double") / F.lit(_Q9)).alias(
                "authority"
            ),
            "n_refs",
            F.row_number().over(w_dem).cast("int").alias("demand_rank"),
        )
        .withColumn(
            "rank_shift",
            (F.col("demand_rank") - F.col("auth_rank")).cast("int"),
        )
    )


FRONTIER_AUTHORITY_ORACLE = (
    _LINKED_CTE
    + _PR_CHAIN
    + _FRONTIER_CTES
    + f""",
acontrib AS (
    SELECT f.host, f.url,
           COALESCE(r.r, 0.0) / CAST(f.n_http AS DOUBLE) AS c
    FROM frontier f
    LEFT JOIN r{PR_ITERS} r ON r.node = f.doc_id
),
aagg AS (
    SELECT host, url,
           sum(CAST(floor(c * 1000000000.0 + 0.5) AS BIGINT))
               AS auth_q,
           CAST(count(*) AS BIGINT) AS n_refs
    FROM acontrib GROUP BY host, url
)
SELECT host,
       CAST(row_number() OVER (
           PARTITION BY host
           ORDER BY auth_q DESC, n_refs DESC, url ASC
       ) AS INT) AS auth_rank,
       url,
       CAST(auth_q AS DOUBLE) / 1000000000.0 AS authority,
       n_refs,
       CAST(row_number() OVER (
           PARTITION BY host ORDER BY n_refs DESC, url ASC
       ) AS INT) AS demand_rank,
       CAST(row_number() OVER (
           PARTITION BY host ORDER BY n_refs DESC, url ASC
       ) - row_number() OVER (
           PARTITION BY host
           ORDER BY auth_q DESC, n_refs DESC, url ASC
       ) AS INT) AS rank_shift
FROM aagg
"""
)


#: synchronous label-propagation rounds (bounded, unrolled in the
#: oracle — the PageRank discipline).
LPA_ROUNDS = 4


def _undirected(edges: DataFrame) -> DataFrame:
    """Directed (src, dst) -> checkpointed undirected distinct edge
    frame with self-loops dropped (both orientations present) —
    shared by label propagation and k-core peeling."""
    e1 = edges.select("src", "dst")
    e2 = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        e1.unionByName(e2)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def lpa_labels(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Deterministic synchronous label propagation (public method:
    Raghavan, Albert & Kumara 2007, with the async random-order step
    replaced by SYNCHRONOUS rounds and a deterministic tie-break —
    highest neighbour-label count, then SMALLEST label — so both
    engines replay it exactly) over an arbitrary directed (src, dst)
    edge frame, treated as undirected with self-loops dropped.
    Returns (node, label) after ``rounds`` rounds. Factored (the
    ``capped_waterfill`` discipline) so pytest can replay it against
    a pure-Python reference on seeded random graphs.

    Known property of the synchronous variant (deliberate, replayed
    identically by the oracle): bipartite-ish structures can
    oscillate instead of converging — the bounded round count makes
    the result well-defined either way. Scale shape: per round one
    hash join edges x labels, one (node, label) hash agg, one
    per-node window, one label join — all shuffles on node keys,
    nothing all-pairs; state is one (node, label) row per node.

    ``pick`` has exactly one row per node, for any input graph:
    every lab node is a ``ue`` src (lab is built from distinct src,
    and the undirected frame mirrors every edge) and every neighbour
    is itself a lab node, so ``cnt`` has at least one row per node.
    ``pick`` is therefore the next label frame, each round reads the
    state once, and the rounds chain lazily; only the final frame is
    checkpointed, for callers that read it more than once."""
    ue = _undirected(edges)
    lab = (
        ue.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(rounds):
        cnt = (
            ue.alias("e")
            .join(lab.alias("l"), F.col("e.dst") == F.col("l.node"))
            .groupBy(
                F.col("e.src").alias("node"),
                F.col("l.label").alias("lbl"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("lbl").asc()
        )
        lab = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lbl").alias("label"))
        )
    return lab.localCheckpoint(eager=True)


def lpa_doc_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection over the extracted doc link graph — the
    curation-side use of the link structure PageRank doesn't give:
    PageRank says which pages matter, label propagation says which
    pages cluster (topic/host neighbourhoods; the grouping a corpus
    curator samples across to avoid near-duplicate topical floods).
    Runs :func:`lpa_labels` for ``LPA_ROUNDS`` synchronous rounds on
    ``_doc_edges``' undirected form, then aggregates each final
    label into one community row (size + node-id span). Adjacency
    note: ``dedup_clusters_star`` attests CONNECTED COMPONENTS
    (min-id fixpoint over near-dup pairs); LPA is the density-driven
    refinement — a single component splits into multiple communities
    where link density does, which the corpus graph exercises
    (strictly more communities than components at every SF)."""
    labels = lpa_labels(_doc_edges(spark, sf_dir))
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


def _lpa_round_sql(k: int) -> str:
    return f"""cnt{k} AS MATERIALIZED (
    SELECT e.src AS node, l.label AS lbl, count(*) AS c
    FROM ue e JOIN l{k - 1} l ON l.node = e.dst
    GROUP BY e.src, l.label
),
pick{k} AS MATERIALIZED (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (
                   PARTITION BY node ORDER BY c DESC, lbl ASC
               ) AS rn
        FROM cnt{k}
    ) WHERE rn = 1
),
l{k} AS MATERIALIZED (
    SELECT p.node, COALESCE(pk.lbl, p.label) AS label
    FROM l{k - 1} p LEFT JOIN pick{k} pk ON pk.node = p.node
)"""


LPA_COMMUNITIES_ORACLE = (
    _LINKED_CTE
    + _EDGES_CHAIN
    + _UNDIRECTED_CTE
    + f""",
l0 AS MATERIALIZED (
    SELECT DISTINCT src AS node, src AS label FROM ue
),
{",".join(_lpa_round_sql(i) for i in range(1, LPA_ROUNDS + 1))}
SELECT label AS community,
       CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node,
       max(node) AS max_node
FROM l{LPA_ROUNDS}
GROUP BY label
"""
)


#: k-core threshold + bounded peel rounds (unrolled in the oracle).
KCORE_K = 2
KCORE_ROUNDS = 4


def kcore_peel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling over the doc link graph (public
    method: Seidman 1983 degeneracy cores; the iterative-peel
    formulation every distributed graph library uses): per round,
    drop every node whose CURRENT degree is below ``KCORE_K`` and
    keep only edges between survivors, ``KCORE_ROUNDS`` times — one
    audit row per round (surviving nodes/edges, nodes dropped, and
    a converged flag once a round drops nothing). The curation use:
    the k-core is the link graph's dense backbone — the subgraph
    PageRank mass concentrates in — while the peeled shells are the
    weakly-cited long tail a source-quality prior treats
    differently; the audit trace is the operator's observable
    (which shell the corpus's mass sits in, and how fast peeling
    stabilizes).

    Graph/state discipline shared with LPA: ``_undirected``'s
    checkpointed edge frame, per-round eager checkpoints, each
    round = one degree aggregation + two node-keyed semi-joins —
    edge-linear per round, nothing all-pairs. The audit rows are
    counts observed on those checkpoints, as one local relation. A
    node that keeps degree >= k but loses all neighbours leaves the
    edge frame and counts as dropped the SAME round — both engines
    share this convention by construction (node set = edge
    endpoints)."""
    return local_frame(
        spark,
        kcore_peel(_undirected(_doc_edges(spark, sf_dir))),
        "round int NOT NULL, n_nodes bigint NOT NULL, n_edges bigint, "
        "n_dropped bigint NOT NULL, converged boolean NOT NULL",
    )


def kcore_peel(e: DataFrame) -> list[tuple]:
    """The peel kernel over an arbitrary checkpointed undirected
    edge frame -> the audit rows ``(round, n_nodes, n_edges,
    n_dropped, converged)`` — factored (the ``capped_waterfill``
    discipline) so pytest can replay it against a pure-Python
    reference on seeded random graphs.

    Observed metrics reject DISTINCT, so node counts come from the
    degree table, which has one row per node of ``e``: its row count
    is observed below the ``KCORE_K`` filter, inside ``keep``'s
    checkpoint, and round r's surviving nodes are round r+1's
    degree rows. The final edge frame's node count is one scalar
    count after the loop."""
    nodes: list[int] = []
    edges: list[int] = []
    for _ in range(KCORE_ROUNDS):
        n_deg, n_e = Observation(), Observation()
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .observe(n_deg, F.count(F.lit(1)).alias("n"))
            .filter(F.col("deg") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .observe(n_e, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        nodes.append(n_deg.get["n"])
        edges.append(n_e.get["n"] // 2)
    nodes.append(e.select("src").distinct().count())
    rows = []
    for r in range(1, KCORE_ROUNDS + 1):
        dropped = nodes[r - 1] - nodes[r]
        rows.append((r, nodes[r], edges[r - 1], dropped, dropped == 0))
    return rows


def _kcore_round_sql(r: int) -> str:
    return f"""d{r} AS MATERIALIZED (
    SELECT src, count(*) AS deg FROM e{r - 1} GROUP BY src
),
kp{r} AS MATERIALIZED (
    SELECT src AS node FROM d{r} WHERE deg >= {KCORE_K}
),
e{r} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{r - 1} e
    JOIN kp{r} a ON a.node = e.src
    JOIN kp{r} b ON b.node = e.dst
),
aud{r} AS MATERIALIZED (
    SELECT CAST({r} AS INT) AS round,
           (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e{r})
               AS n_nodes,
           (SELECT CAST(count(*) // 2 AS BIGINT) FROM e{r})
               AS n_edges,
           (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e{r - 1})
               - (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e{r})
               AS n_dropped
)"""


KCORE_ORACLE = (
    _LINKED_CTE
    + _EDGES_CHAIN
    + _UNDIRECTED_CTE
    + f""",
e0 AS MATERIALIZED (SELECT src, dst FROM ue),
{",".join(_kcore_round_sql(r) for r in range(1, KCORE_ROUNDS + 1))}
SELECT round, n_nodes, n_edges, n_dropped,
       n_dropped = 0 AS converged
FROM ({" UNION ALL ".join(f"SELECT * FROM aud{r}" for r in range(1, KCORE_ROUNDS + 1))})
"""
)


def _register() -> None:
    registry.register("extract_links", extract_links, EXTRACT_LINKS_ORACLE)
    registry.register(
        "link_host_degree", link_host_degree, HOST_DEGREE_ORACLE
    )
    registry.register("link_pagerank", link_pagerank, LINK_PAGERANK_ORACLE)
    registry.register("crawl_frontier", crawl_frontier, CRAWL_FRONTIER_ORACLE)
    registry.register(
        "frontier_authority_rank",
        frontier_authority_rank,
        FRONTIER_AUTHORITY_ORACLE,
    )
    registry.register(
        "lpa_doc_communities",
        lpa_doc_communities,
        LPA_COMMUNITIES_ORACLE,
    )
    registry.register(
        "kcore_peel_audit", kcore_peel_audit, KCORE_ORACLE
    )
    registry.register("resolve_links", resolve_links, RESOLVE_LINKS_ORACLE)
    registry.register(
        "crawl_frontier_resolved",
        crawl_frontier_resolved,
        CRAWL_FRONTIER_RESOLVED_ORACLE,
    )
