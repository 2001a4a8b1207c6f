"""Raw-markup ingestion operators: HTML → text extraction family
(VERDICT r14 next-round #1 — the last missing LLM-pipeline stage: a
real pretraining corpus enters as markup, not clean text).

Pattern: functions/markup.py synthesizes a deterministic HTML payload
from each ``(doc_id, text)`` row executor-side, parses it back with
the from-spec stdlib ``html.parser`` walk INSIDE the same
Arrow-batched ``mapInPandas`` body, and emits per-doc extraction
metrics. The DuckDB oracle recomputes every metric in closed form
from ``LENGTH(text)`` and ``doc_id`` (the synthesis contract), so the
cross-engine hash breaks on: a text-node concatenation bug, a
``<style>``/``<title>`` content leak, a charref decode bug, a tag or
depth miscount, or a byte-accounting slip.

The parse is the family's shared expensive stage, so it registers in
:func:`rs_streamloader_spark.session.stage_cached` ("html_metrics"):
a catalog sweep parses the corpus once, and every family member then
projects/aggregates the cached per-doc metric table — on a long-lived
cluster this is the one materialized extraction pass feeding all
downstream screens.

Scale posture: extraction is map-only — payload bytes flow
executor→Python worker and come back as FIXED-WIDTH integer/hash
columns; no shuffle ever carries markup. The per-source rollup
shuffles ≤ a few counter columns per doc with map-side combine.

Reference surface: none (novel §2.5 extension; BASELINE.json:6 covers
"text analysis" — the reference assumes someone else stripped the
markup).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_streamloader_spark.functions.markup import extract_html, synth_html
from rs_streamloader_spark.operators.registry import register
from rs_streamloader_spark.session import load_tables, spread, stage_cached

_METRIC_SCHEMA = (
    "doc_id bigint, source string, n_chars_extracted bigint,"
    " text_md5 string, n_tags bigint, n_charrefs bigint,"
    " html_bytes bigint, n_links bigint, n_p bigint, n_h2 bigint,"
    " n_div bigint, max_block_depth bigint"
)


def _extract_metrics(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """synth → REAL stdlib-parser extraction → per-doc metric row.
    Every count comes from the parse (what a real ingest would see),
    never from the synthesis formulas — the oracle recomputes the
    formulas, which is exactly what makes the comparison a test."""
    for pdf in batches:
        rows = {
            "doc_id": [],
            "source": [],
            "n_chars_extracted": [],
            "text_md5": [],
            "n_tags": [],
            "n_charrefs": [],
            "html_bytes": [],
            "n_links": [],
            "n_p": [],
            "n_h2": [],
            "n_div": [],
            "max_block_depth": [],
        }
        for doc_id, source, text in zip(
            pdf["doc_id"], pdf["source"], pdf["text"]
        ):
            payload = synth_html(int(doc_id), text)
            ex = extract_html(payload)
            tc = ex.tag_counts
            rows["doc_id"].append(doc_id)
            rows["source"].append(source)
            rows["n_chars_extracted"].append(len(ex.text))
            rows["text_md5"].append(
                hashlib.md5(ex.text.encode("utf-8")).hexdigest()
            )
            rows["n_tags"].append(ex.n_tags)
            rows["n_charrefs"].append(ex.n_charrefs)
            rows["html_bytes"].append(len(payload))
            rows["n_links"].append(tc.get("a", 0))
            rows["n_p"].append(tc.get("p", 0))
            rows["n_h2"].append(tc.get("h2", 0))
            rows["n_div"].append(tc.get("div", 0))
            rows["max_block_depth"].append(ex.max_block_depth)
        out = pd.DataFrame(rows)
        for c, t in (
            ("doc_id", "int64"),
            ("n_chars_extracted", "int64"),
            ("n_tags", "int64"),
            ("n_charrefs", "int64"),
            ("html_bytes", "int64"),
            ("n_links", "int64"),
            ("n_p", "int64"),
            ("n_h2", "int64"),
            ("n_div", "int64"),
            ("max_block_depth", "int64"),
        ):
            out[c] = out[c].astype(t)
        yield out


def _html_metrics_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached per-doc extraction table for the whole family."""
    return stage_cached(
        spark,
        sf_dir,
        "html_metrics",
        lambda: (
            # spread: the per-doc synth+parse in _extract_metrics is
            # pure-Python work, but a small corpus scans as ONE split
            # (sf0.1 documents is a single 594 KB file) — without the
            # widen the whole family's parse stage runs single-task.
            # No-op once the scan yields >= core splits (guide §2/§4).
            spread(
                load_tables(spark, sf_dir, "documents")["documents"]
                .select("doc_id", "source", "text")
                .where(F.length("text") > 0)
            ).mapInPandas(_extract_metrics, schema=_METRIC_SCHEMA)
        ),
    )


# closed-form synthesis-contract CTE shared by all three oracles:
# every quantity derives from LENGTH(text) and doc_id alone (module
# docstring of functions/markup.py pins the byte accounting)
_CONTRACT_CTE = """
    WITH d AS (
      SELECT doc_id, source, text,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                  AS BIGINT) AS n_words,
             4 + doc_id % 5 AS p_sz, 3 + doc_id % 4 AS l_strd
      FROM documents WHERE LENGTH(text) > 0
    ),
    m AS (
      SELECT *,
             (n_words + p_sz - 1) // p_sz AS n_paras,
             (n_words - 1) // l_strd + 1 AS n_links,
             (n_words - 1) // 4 AS n_ent
      FROM d
    ),
    s AS (
      SELECT *,
             (n_paras - 1) // 7 + 1 AS n_h2,
             n_paras - ((n_paras - 1) // 7 + 1) AS n_p,
             3 * (n_paras // 3)
               + CASE WHEN n_paras % 3 = 2 THEN 1 ELSE 0 END AS n_div,
             3 + LEAST(n_paras - 1, 2) AS max_depth
      FROM m
    ),
    b AS (
      SELECT *,
             88 + LENGTH(CAST(doc_id AS VARCHAR)) + n_chars
                + 7 * n_paras + 2 * n_h2 + 11 * n_div
                + 16 * n_links + 4 * n_ent AS html_bytes
      FROM s
    )
"""


@register(
    "html_text_extract",
    oracle=_CONTRACT_CTE
    + """
    SELECT doc_id,
           n_chars AS n_chars_extracted,
           MD5(text) AS text_md5,
           CAST(5 + n_paras + n_div + n_links AS BIGINT) AS n_tags,
           CAST(n_ent AS BIGINT) AS n_charrefs
    FROM b
    """,
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text recovery, byte-exact: parse the synthesized page
    with the stdlib tokenizer, concatenate text nodes OUTSIDE
    title/style/script, decode ``&#32;`` charrefs — and prove the
    result equals the source document by md5. The oracle hashes the
    original text directly, so one leaked style byte, one swallowed
    space, or one mis-decoded entity anywhere in the corpus fails the
    gate. n_tags/n_charrefs come from the parser's own counters vs
    the contract's closed forms.

    Scale posture: map-only; markup never crosses an exchange — each
    doc reduces to a 16-byte digest + 3 counters in one Python pass."""
    return _html_metrics_cached(spark, sf_dir).select(
        "doc_id", "n_chars_extracted", "text_md5", "n_tags", "n_charrefs"
    )


@register(
    "html_boilerplate_density",
    oracle=_CONTRACT_CTE
    + """
    SELECT doc_id,
           html_bytes,
           n_chars AS text_bytes,
           CAST(n_links AS BIGINT) AS n_links,
           (1000000 * n_chars) // html_bytes AS density_ppm,
           100 * n_chars < 35 * html_bytes AS low_text_flag
    FROM b
    """,
)
def html_boilerplate_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-markup density screen (the Readability/jusText
    boilerplate signal): extracted-text bytes over total page bytes,
    as exact integer parts-per-million — integer division is
    bit-identical cross-engine, so no double-rounding waiver is
    needed — plus the admission flag density < 0.35 evaluated as the
    integer comparison 100·text < 35·html (0.35 is the corpus median,
    so the screen genuinely splits the population at every sf).
    Low-density pages are the navigation/chrome-heavy ones a curation
    pipeline drops first.

    Scale posture: map-only projection over the shared parsed stage;
    the flag computes JVM-side from the returned counters."""
    mx = _html_metrics_cached(spark, sf_dir)
    return mx.select(
        "doc_id",
        "html_bytes",
        F.col("n_chars_extracted").alias("text_bytes"),
        "n_links",
        # exact BIGINT floor division (Spark DIV == DuckDB //) — a
        # double divide-then-cast could truncate one ULP differently
        F.expr("(1000000 * n_chars_extracted) DIV html_bytes").alias(
            "density_ppm"
        ),
        (
            F.lit(100) * F.col("n_chars_extracted")
            < F.lit(35) * F.col("html_bytes")
        ).alias("low_text_flag"),
    )


@register(
    "html_structure_stats",
    oracle=_CONTRACT_CTE
    + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_p) AS BIGINT) AS total_p,
           CAST(SUM(n_h2) AS BIGINT) AS total_h2,
           CAST(SUM(n_div) AS BIGINT) AS total_div,
           CAST(SUM(n_links) AS BIGINT) AS total_a,
           CAST(SUM(max_depth) AS BIGINT) AS depth_sum,
           CAST(MAX(max_depth) AS BIGINT) AS depth_max
    FROM b GROUP BY source
    """,
)
def html_structure_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DOM structure rollup: paragraph/heading/div/anchor
    tag totals and block-nesting depth (sum + max) — the corpus-level
    shape profile that flags template-heavy or deeply-nested sources
    before extraction quality work starts. All counters come from the
    real parse; the oracle re-derives them from the contract.

    Scale posture: the only shuffle in the family — ≤6 small integer
    columns per doc into a 20-group hash aggregate with map-side
    combine."""
    mx = _html_metrics_cached(spark, sf_dir)
    return mx.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_p").alias("total_p"),
        F.sum("n_h2").alias("total_h2"),
        F.sum("n_div").alias("total_div"),
        F.sum("n_links").alias("total_a"),
        F.sum("max_block_depth").alias("depth_sum"),
        F.max("max_block_depth").alias("depth_max"),
    )


# ---------------------------------------------------------------------------
# Markdown ingestion (functions/markdown.py — the second raw format)
# ---------------------------------------------------------------------------

_MD_SCHEMA = (
    "doc_id bigint, source string, n_chars_extracted bigint,"
    " text_md5 string, n_blocks bigint, n_h1 bigint, n_h2 bigint,"
    " n_h3 bigint, n_blockquotes bigint, n_code_blocks bigint,"
    " n_code_words bigint, n_code_spans bigint, n_em bigint,"
    " n_links bigint"
)


def _extract_md_metrics(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from rs_streamloader_spark.functions.markdown import extract_md, synth_md

    for pdf in batches:
        rows: dict = {k.split(" ")[0]: [] for k in _MD_SCHEMA.split(", ")}
        for doc_id, source, text in zip(
            pdf["doc_id"], pdf["source"], pdf["text"]
        ):
            md = extract_md(synth_md(int(doc_id), text))
            hc = md.heading_counts
            rows["doc_id"].append(doc_id)
            rows["source"].append(source)
            rows["n_chars_extracted"].append(len(md.text))
            rows["text_md5"].append(
                hashlib.md5(md.text.encode("utf-8")).hexdigest()
            )
            rows["n_blocks"].append(md.n_blocks)
            rows["n_h1"].append(hc.get(1, 0))
            rows["n_h2"].append(hc.get(2, 0))
            rows["n_h3"].append(hc.get(3, 0))
            rows["n_blockquotes"].append(md.n_blockquotes)
            rows["n_code_blocks"].append(md.n_code_blocks)
            rows["n_code_words"].append(md.n_code_words)
            rows["n_code_spans"].append(md.n_code_spans)
            rows["n_em"].append(md.n_em)
            rows["n_links"].append(md.n_links)
        out = pd.DataFrame(rows)
        for c in rows:
            if c != "source" and c != "text_md5":
                out[c] = out[c].astype("int64")
        yield out


def _md_metrics_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached per-doc markdown extraction table."""
    return stage_cached(
        spark,
        sf_dir,
        "md_metrics",
        lambda: (
            # spread: same single-split rationale as _html_metrics_cached
            spread(
                load_tables(spark, sf_dir, "documents")["documents"]
                .select("doc_id", "source", "text")
                .where(F.length("text") > 0)
            ).mapInPandas(_extract_md_metrics, schema=_MD_SCHEMA)
        ),
    )


# synthesis-contract CTE for the markdown oracles: block kind and
# inline-marker cadence re-derived from LENGTH(text) and doc_id via a
# word-INDEX explode (first-match-wins precedence mirrored exactly)
_MD_CTE = """
    WITH d AS (
      SELECT doc_id, source, text,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                  AS BIGINT) AS n_words,
             5 + doc_id % 4 AS p_sz
      FROM documents WHERE LENGTH(text) > 0
    ),
    w AS (
      SELECT doc_id, p_sz, UNNEST(RANGE(0, n_words)) AS i FROM d
    ),
    inl AS (
      SELECT doc_id,
             SUM(CASE WHEN NOT in_code AND i % 7 = 0
                      THEN 1 ELSE 0 END) AS n_code_spans,
             SUM(CASE WHEN NOT in_code AND i % 7 <> 0 AND i % 5 = 2
                      THEN 1 ELSE 0 END) AS n_em,
             SUM(CASE WHEN NOT in_code AND i % 7 <> 0 AND i % 5 <> 2
                           AND i % 9 = 4
                      THEN 1 ELSE 0 END) AS n_links,
             SUM(CASE WHEN in_code THEN 1 ELSE 0 END) AS n_code_words
      FROM (SELECT doc_id, i, ((i // p_sz) % 8) = 6 AS in_code FROM w)
      GROUP BY doc_id
    ),
    blk AS (
      SELECT doc_id, p_sz,
             UNNEST(RANGE(0, (n_words + p_sz - 1) // p_sz)) AS k
      FROM d
    ),
    bstat AS (
      SELECT doc_id,
             SUM(CASE WHEN k % 8 = 6 THEN 1 ELSE 0 END) AS n_code_blocks,
             SUM(CASE WHEN k % 8 <> 6 AND k % 5 = 0 AND (k // 5) % 3 = 0
                      THEN 1 ELSE 0 END) AS n_h1,
             SUM(CASE WHEN k % 8 <> 6 AND k % 5 = 0 AND (k // 5) % 3 = 1
                      THEN 1 ELSE 0 END) AS n_h2,
             SUM(CASE WHEN k % 8 <> 6 AND k % 5 = 0 AND (k // 5) % 3 = 2
                      THEN 1 ELSE 0 END) AS n_h3,
             SUM(CASE WHEN k % 8 <> 6 AND k % 5 = 3 THEN 1 ELSE 0 END)
               AS n_blockquotes
      FROM blk GROUP BY doc_id
    )
"""


@register(
    "md_text_extract",
    oracle=_MD_CTE
    + """
    SELECT d.doc_id,
           d.n_chars AS n_chars_extracted,
           MD5(d.text) AS text_md5,
           (d.n_words + d.p_sz - 1) // d.p_sz AS n_blocks,
           CAST(inl.n_code_spans AS BIGINT) AS n_code_spans,
           CAST(inl.n_em AS BIGINT) AS n_em,
           CAST(inl.n_links AS BIGINT) AS n_links
    FROM d JOIN inl USING (doc_id)
    """,
)
def md_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown → text recovery, byte-exact: strip ATX headings,
    blockquote prefixes, fenced code blocks, code spans, emphasis and
    links with the from-spec two-level parser, and prove the joined
    word stream equals the source document by md5. The inline
    counters pin the precedence contract (code span > emphasis >
    link, and NOTHING applies inside a fence) against the oracle's
    first-match-wins word-index explode — the classic extractor trap
    of styling leaking into code is a hash break here.

    Scale posture: map-only; the markdown source never crosses an
    exchange; oracle-side the word explode collapses immediately to
    per-doc counters."""
    return _md_metrics_cached(spark, sf_dir).select(
        "doc_id",
        "n_chars_extracted",
        "text_md5",
        "n_blocks",
        "n_code_spans",
        "n_em",
        "n_links",
    )


@register(
    "md_structure_by_source",
    oracle=_MD_CTE
    + """
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n_h1) AS BIGINT) AS total_h1,
           CAST(SUM(b.n_h2) AS BIGINT) AS total_h2,
           CAST(SUM(b.n_h3) AS BIGINT) AS total_h3,
           CAST(SUM(b.n_blockquotes) AS BIGINT) AS total_blockquotes,
           CAST(SUM(b.n_code_blocks) AS BIGINT) AS total_code_blocks,
           CAST(SUM(inl.n_code_words) AS BIGINT) AS total_code_words
    FROM d
    JOIN bstat b USING (doc_id)
    JOIN inl USING (doc_id)
    GROUP BY d.source
    """,
)
def md_structure_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source markdown shape profile: heading-level mix,
    blockquote and fenced-code-block totals, and the code-word mass
    (the tokens a code-vs-prose router would divert) — every counter
    from the real parse, re-derived by the oracle's block-index
    explode. The signal a curation mix uses to balance docs-vs-code
    sources before tokenization.

    Scale posture: the family's one shuffle — ≤7 integer counters per
    doc into a 20-group hash aggregate with map-side combine."""
    mx = _md_metrics_cached(spark, sf_dir)
    return mx.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_h1").alias("total_h1"),
        F.sum("n_h2").alias("total_h2"),
        F.sum("n_h3").alias("total_h3"),
        F.sum("n_blockquotes").alias("total_blockquotes"),
        F.sum("n_code_blocks").alias("total_code_blocks"),
        F.sum("n_code_words").alias("total_code_words"),
    )


# ---------------------------------------------------------------------------
# URL provenance (JVM-only: parse_url stays inside codegen)
# ---------------------------------------------------------------------------

# synthesis contract for a document's crawl URL — every component
# derives from (doc_id, source, lang, first word of text):
#   https://{source}.example.{tld}[:8443 if doc_id%7==0]
#     /p{(doc_id+1)%10}[/p{(doc_id+2)%10} ...]  (1 + doc_id%3 segments)
#     /{first word}
#     [?q={lang}&ref=feed if doc_id%5==2]
#     [#s1 if doc_id%11==3]
# with tld = (com, org, net, io)[doc_id % 4]
_URL_CTE = """
    WITH d AS (
      SELECT doc_id, source, lang,
             STRING_SPLIT(text, ' ')[1] AS slug,
             ['com', 'org', 'net', 'io'][CAST(doc_id % 4 AS INTEGER) + 1]
               AS tld,
             doc_id % 7 = 0 AS has_port,
             CAST(1 + doc_id % 3 AS BIGINT) AS n_seg,
             doc_id % 5 = 2 AS has_query,
             doc_id % 11 = 3 AS has_fragment
      FROM documents WHERE LENGTH(text) > 0
    )
"""


def _synth_url():
    """The Spark-side URL builder (JVM string concat, codegen)."""
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    seg = lambda j: F.concat(  # noqa: E731
        F.lit("/p"), ((F.col("doc_id") + F.lit(j)) % 10).cast("string")
    )
    path = F.concat(
        seg(1),
        F.when(F.col("doc_id") % 3 >= 1, seg(2)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 >= 2, seg(3)).otherwise(F.lit("")),
        F.lit("/"),
        F.element_at(F.split(F.col("text"), " "), 1),
    )
    return F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example."),
        tld,
        F.when(F.col("doc_id") % 7 == 0, F.lit(":8443")).otherwise(F.lit("")),
        path,
        F.when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("?q="), F.col("lang"), F.lit("&ref=feed")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 3, F.lit("#s1")).otherwise(F.lit("")),
    )


@register(
    "url_parse_provenance",
    oracle=_URL_CTE
    + """
    SELECT doc_id,
           source || '.example.' || tld AS host,
           tld,
           n_seg + 1 AS path_depth,
           has_port,
           has_fragment,
           CASE WHEN has_query THEN lang ELSE NULL END AS q_param
    FROM d
    """,
)
def url_parse_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-URL provenance extraction, entirely JVM-side: the URL is
    synthesized by codegen string concat from the synthesis contract,
    then DECOMPOSED with Spark's ``parse_url`` (HOST, AUTHORITY for
    the port check, QUERY key lookup, REF) plus a regexp TLD pull and
    a path-depth split — the CommonCrawl metadata stage (domain/TLD
    priors, tracking-param screens) with zero Python in the plan. The
    oracle rebuilds every component from the contract columns, so a
    parse_url semantics surprise (port leaking into HOST, fragment
    kept in PATH, query decoding) is a hash break.

    Scale posture: map-only whole-stage codegen; one scan, no
    exchange, no Python worker round-trip at all."""
    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "lang", "text")
        .where(F.length("text") > 0)
    )
    u = docs.select("doc_id", _synth_url().alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    authority = F.parse_url(F.col("url"), F.lit("AUTHORITY"))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    return u.select(
        "doc_id",
        host.alias("host"),
        F.regexp_extract(host, r"\.([a-z]+)$", 1).alias("tld"),
        (F.size(F.split(path, "/")) - 1).cast("bigint").alias("path_depth"),
        authority.contains(":").alias("has_port"),
        F.parse_url(F.col("url"), F.lit("REF")).isNotNull().alias(
            "has_fragment"
        ),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("q")).alias(
            "q_param"
        ),
    )


@register(
    "url_tld_rollup",
    oracle=_URL_CTE
    + """
    SELECT tld,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_hosts,
           CAST(SUM(CASE WHEN has_port THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_port,
           CAST(SUM(CASE WHEN has_query THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_query,
           CAST(SUM(n_seg + 1) AS BIGINT) AS depth_sum
    FROM d GROUP BY tld
    """,
)
def url_tld_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TLD crawl rollup over the PARSED provenance (not the
    contract): doc counts, distinct hosts, port/query shares, path
    depth mass — the domain-prior table a curation mix keys on. Runs
    downstream of url_parse_provenance's extraction so a parse bug
    poisons this rollup too (and the oracle catches it).

    Scale posture: codegen extraction then ONE hash-aggregate
    exchange of 4 counters + a distinct-host set bounded by the
    source count."""
    parsed = url_parse_provenance(spark, sf_dir)
    return parsed.groupBy("tld").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
        F.sum(F.when(F.col("has_port"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_port"),
        F.sum(F.when(F.col("q_param").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_query"),
        F.sum("path_depth").cast("bigint").alias("depth_sum"),
    )


# ---------------------------------------------------------------------------
# JSONL ingestion (JVM-only: from_json / get_json_object in codegen)
# ---------------------------------------------------------------------------

# synthesis contract for a document's JSONL record (all JVM concat):
#   {"id":<doc_id>,"lang":"<lang>","tags":["t<doc_id%5>","t<(doc_id+1)%7>"],
#    "meta":{"src":"<source>","q":<doc_id%100>}}
# with docs doc_id % 13 == 5 CORRUPTED by a leading garbage prefix —
# the whole-record parse failure a real JSONL feed contains — which
# PERMISSIVE from_json surfaces as an all-NULL struct.
_JSONL_CTE = """
    WITH d AS (
      SELECT doc_id, source, lang,
             doc_id % 13 = 5 AS is_malformed,
             CAST(doc_id % 100 AS BIGINT) AS q_val
      FROM documents WHERE LENGTH(text) > 0
    )
"""

_JSONL_SCHEMA = (
    "id bigint, lang string, tags array<string>,"
    " meta struct<src:string, q:bigint>"
)


def _synth_jsonl() -> Column:
    js = F.concat(
        F.lit('{"id":'),
        F.col("doc_id").cast("string"),
        F.lit(',"lang":"'),
        F.col("lang"),
        F.lit('","tags":["t'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('","t'),
        ((F.col("doc_id") + 1) % 7).cast("string"),
        F.lit('"],"meta":{"src":"'),
        F.col("source"),
        F.lit('","q":'),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("}}"),
    )
    # corruption: leading garbage breaks the WHOLE record (probed:
    # PERMISSIVE from_json yields all-NULL fields, get_json_object
    # yields NULL — never a partial parse, unlike tail truncation)
    return F.when(F.col("doc_id") % 13 == 5, F.concat(F.lit("CORRUPT"), js)).otherwise(js)


@register(
    "jsonl_ingest_extract",
    oracle=_JSONL_CTE
    + """
    SELECT doc_id,
           CASE WHEN is_malformed THEN NULL ELSE doc_id END AS parsed_id,
           CASE WHEN is_malformed THEN NULL ELSE lang END AS parsed_lang,
           CASE WHEN is_malformed THEN NULL
                ELSE CAST(2 AS INTEGER) END AS n_tags,
           CASE WHEN is_malformed THEN NULL ELSE q_val END AS q,
           CASE WHEN is_malformed THEN NULL ELSE q_val END AS q_via_path,
           is_malformed
    FROM d
    """,
)
def jsonl_ingest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL record ingestion with malformed-record handling, entirely
    JVM-side: records synthesized by codegen concat (a deterministic
    1-in-13 slice carries leading garbage — the torn/garbled lines a
    real feed contains), then parsed BOTH ways Spark offers —
    ``from_json`` with an explicit schema (struct/array field pulls)
    and ``get_json_object`` JSONPath — with malformedness detected as
    the PERMISSIVE-mode all-NULL parse. The oracle predicts every
    field from the contract, so a partial-parse surprise, a JSONPath
    discrepancy between the two APIs, or a silently-swallowed corrupt
    row is a hash break.

    Scale posture: map-only codegen; no Python stage, no exchange."""
    return _jsonl_parsed(spark, sf_dir).drop("source")


def _jsonl_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared parse plan (source carried through so the audit
    aggregates without a second scan or a doc_id join)."""
    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "lang", "text")
        .where(F.length("text") > 0)
    )
    u = docs.select("doc_id", "source", _synth_jsonl().alias("js"))
    p = F.from_json(F.col("js"), _JSONL_SCHEMA)
    return u.select(
        "doc_id",
        "source",
        p["id"].alias("parsed_id"),
        p["lang"].alias("parsed_lang"),
        F.when(p["id"].isNotNull(), F.size(p["tags"])).alias("n_tags"),
        p["meta"]["q"].alias("q"),
        F.get_json_object(F.col("js"), "$.meta.q")
        .cast("bigint")
        .alias("q_via_path"),
        p["id"].isNull().alias("is_malformed"),
    )


@register(
    "jsonl_corrupt_audit",
    oracle=_JSONL_CTE
    + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN is_malformed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_malformed,
           CAST((1000000 * SUM(CASE WHEN is_malformed THEN 1 ELSE 0 END))
             // COUNT(*) AS BIGINT) AS malformed_ppm,
           CAST(SUM(CASE WHEN is_malformed THEN 0 ELSE q_val END)
                AS BIGINT) AS q_sum
    FROM d GROUP BY source
    """,
)
def jsonl_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source JSONL feed health: row/malformed counts, exact
    integer-ppm corrupt rate, and the parsed-value mass — the ingest
    dashboard row that decides whether a feed is quarantined. Runs
    over the PARSED output (not the contract), so detection bugs
    surface here too.

    Scale posture: codegen parse then one hash-aggregate exchange of
    3 counters with map-side combine."""
    return (
        _jsonl_parsed(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("is_malformed"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_malformed"),
            F.expr(
                "(1000000 * sum(CASE WHEN is_malformed THEN 1 ELSE 0 END))"
                " DIV count(*)"
            ).alias("malformed_ppm"),
            F.sum(F.coalesce(F.col("q"), F.lit(0)))
            .cast("bigint")
            .alias("q_sum"),
        )
    )


# ---------------------------------------------------------------------------
# CSV ingestion (JVM-only: from_csv in codegen)
# ---------------------------------------------------------------------------


@register(
    "csv_ingest_extract",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             STRING_SPLIT(text, ' ') AS ws,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                  AS BIGINT) AS n_words,
             doc_id % 11 = 4 AS is_malformed,
             doc_id % 9 = 7 AS is_short
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT doc_id,
           CASE WHEN is_malformed THEN NULL ELSE doc_id END AS parsed_id,
           CASE WHEN n_words >= 2 THEN ws[1] || ',' || ws[2]
                ELSE ws[1] END AS payload,
           lang AS parsed_lang,
           CASE WHEN is_short THEN NULL
                ELSE CAST(doc_id % 100 AS BIGINT) END AS q,
           is_malformed,
           is_short
    FROM d
    """,
)
def csv_ingest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV record ingestion with the quoting/malformed edge cases a
    real feed contains, entirely JVM-side. The synthesized line is
    ``id,"w1,w2",lang,q`` — the payload field is QUOTED and carries an
    embedded delimiter, the classic naive-split breaker — with two
    deterministic fault slices: doc_id%11==4 rows carry a non-numeric
    id (PERMISSIVE type-failure → NULL id, other fields still parse —
    probed behavior) and doc_id%9==7 rows drop the trailing column
    (missing → NULL). ``from_csv`` decomposes the line against the
    schema; the oracle rebuilds every field from the corpus, so a
    quote-handling surprise, a column-shift on the short rows, or a
    swallowed type failure is a hash break.

    Scale posture: map-only whole-stage codegen; no Python stage, no
    exchange."""
    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "lang", "text")
        .where(F.length("text") > 0)
    )
    words = F.split(F.col("text"), " ")
    quoted = F.concat(
        F.lit('"'),
        F.element_at(words, 1),
        F.when(
            F.size(words) >= 2,
            F.concat(F.lit(","), F.element_at(words, 2)),
        ).otherwise(F.lit("")),
        F.lit('"'),
    )
    id_field = F.when(
        F.col("doc_id") % 11 == 4,
        F.concat(F.lit("X"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("doc_id").cast("string"))
    line = F.concat(
        id_field,
        F.lit(","),
        quoted,
        F.lit(","),
        F.col("lang"),
        F.when(
            F.col("doc_id") % 9 != 7,
            F.concat(F.lit(","), (F.col("doc_id") % 100).cast("string")),
        ).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", line.alias("line"))
    p = F.from_csv(
        F.col("line"), "id bigint, payload string, lang string, q bigint"
    )
    return u.select(
        "doc_id",
        p["id"].alias("parsed_id"),
        p["payload"].alias("payload"),
        p["lang"].alias("parsed_lang"),
        p["q"].alias("q"),
        p["id"].isNull().alias("is_malformed"),
        p["q"].isNull().alias("is_short"),
    )


# ---------------------------------------------------------------------------
# XML ingestion (JVM-only: Spark 4's native from_xml + the xpath_*
# battery in codegen — the sixth and last raw format)
# ---------------------------------------------------------------------------

# synthesis contract for a document's XML record (all JVM concat):
#   <doc id="<doc_id>"><lang><lang></lang>
#     <tags><t>t<doc_id%7></t> [... 1 + doc_id%3 <t> children total,
#           values t<(doc_id+j)%7>]</tags>
#     <meta src="<source>" q="<doc_id%100>"/>
#     <slug>w1&amp;w2</slug>          (w1/w2 = first two words; just w1
#                                      when the doc has a single word)
#     <mark>&#<97+doc_id%26>;</mark>  (numeric charref → a letter)
#   </doc>
# with docs doc_id % 17 == 9 TRUNCATED after '<tags>' (unclosed
# element — probed: from_xml PERMISSIVE yields the all-NULL struct;
# xpath_* THROWS on malformed input, so every xpath pull is gated
# behind a lazily-evaluated CASE WHEN).
_XML_CTE = """
    WITH d AS (
      SELECT doc_id, source, lang,
             STRING_SPLIT(text, ' ') AS ws,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                  AS BIGINT) AS n_words,
             doc_id % 17 = 9 AS is_malformed,
             CAST(doc_id % 100 AS BIGINT) AS q_val,
             CAST(1 + doc_id % 3 AS BIGINT) AS n_t
      FROM documents WHERE LENGTH(text) > 0
    )
"""

_XML_SCHEMA = (
    "_id bigint, lang string, tags struct<t:array<string>>,"
    " meta struct<_src:string, _q:bigint>, slug string, mark string"
)


def _synth_xml() -> Column:
    """The Spark-side XML record builder (JVM string concat, codegen)."""
    words = F.split(F.col("text"), " ")
    slug = F.concat(
        F.element_at(words, 1),
        F.when(
            F.size(words) >= 2,
            F.concat(F.lit("&amp;"), F.element_at(words, 2)),
        ).otherwise(F.lit("")),
    )
    t = lambda j: F.concat(  # noqa: E731
        F.lit("<t>t"),
        ((F.col("doc_id") + F.lit(j)) % 7).cast("string"),
        F.lit("</t>"),
    )
    head = F.concat(
        F.lit('<doc id="'),
        F.col("doc_id").cast("string"),
        F.lit('"><lang>'),
        F.col("lang"),
        F.lit("</lang><tags>"),
    )
    rest = F.concat(
        t(0),
        F.when(F.col("doc_id") % 3 >= 1, t(1)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 >= 2, t(2)).otherwise(F.lit("")),
        F.lit('</tags><meta src="'),
        F.col("source"),
        F.lit('" q="'),
        (F.col("doc_id") % 100).cast("string"),
        F.lit('"/><slug>'),
        slug,
        F.lit("</slug><mark>&#"),
        (F.col("doc_id") % 26 + 97).cast("string"),
        F.lit(";</mark></doc>"),
    )
    # truncation fault slice: the torn record a real XML feed contains
    return F.when(F.col("doc_id") % 17 == 9, head).otherwise(
        F.concat(head, rest)
    )


def _xml_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared parse plan (source carried through for the rollup)."""
    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "lang", "text")
        .where(F.length("text") > 0)
    )
    u = docs.select("doc_id", "source", _synth_xml().alias("x"))
    p = F.from_xml(F.col("x"), _XML_SCHEMA)
    return u.select(
        "doc_id",
        "source",
        "x",
        p["_id"].alias("parsed_id"),
        p["lang"].alias("parsed_lang"),
        F.when(p["_id"].isNotNull(), F.size(p["tags"]["t"])).alias("n_tags"),
        p["meta"]["_q"].alias("q"),
        # the OTHER XML API: XPath attribute pull — gated behind the
        # parse verdict because xpath_* throws on malformed input
        # (CASE WHEN branches evaluate lazily per row in codegen)
        F.when(
            p["_id"].isNotNull(),
            F.expr("xpath_long(x, '/doc/meta/@q')"),
        ).alias("q_via_xpath"),
        p["slug"].alias("slug_decoded"),
        p["mark"].alias("mark_char"),
        p["_id"].isNull().alias("is_malformed"),
    )


@register(
    "xml_ingest_extract",
    oracle=_XML_CTE
    + """
    SELECT doc_id,
           CASE WHEN is_malformed THEN NULL ELSE doc_id END AS parsed_id,
           CASE WHEN is_malformed THEN NULL ELSE lang END AS parsed_lang,
           CASE WHEN is_malformed THEN NULL
                ELSE CAST(n_t AS INTEGER) END AS n_tags,
           CASE WHEN is_malformed THEN NULL ELSE q_val END AS q,
           CASE WHEN is_malformed THEN NULL ELSE q_val END AS q_via_xpath,
           CASE WHEN is_malformed THEN NULL
                WHEN n_words >= 2 THEN ws[1] || '&' || ws[2]
                ELSE ws[1] END AS slug_decoded,
           CASE WHEN is_malformed THEN NULL
                ELSE CHR(97 + CAST(doc_id % 26 AS INTEGER)) END AS mark_char,
           is_malformed
    FROM d
    """,
)
def xml_ingest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML record ingestion with malformed-record handling, entirely
    JVM-side: records synthesized by codegen concat (a deterministic
    1-in-17 slice is TRUNCATED mid-element — the torn record a real
    feed contains), then parsed BOTH ways Spark offers — the native
    ``from_xml`` with an explicit schema (root/nested attributes via
    the ``_`` prefix, repeated ``<t>`` children into an array field)
    and the ``xpath_long`` attribute pull, the latter gated behind the
    parse verdict because xpath THROWS on malformed XML (probed). The
    entity contract is pinned twice per doc: ``&amp;`` inside the slug
    and a per-doc numeric charref ``&#97+k;`` whose decoded letter the
    oracle re-derives — an undecoded entity, a partial-parse surprise,
    or a swallowed torn record is a hash break.

    Scale posture: map-only whole-stage codegen; no Python stage, no
    exchange."""
    return _xml_parsed(spark, sf_dir).drop("source", "x")


@register(
    "xml_xpath_structure",
    oracle=_XML_CTE
    + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_malformed THEN 0 ELSE 1 END) AS BIGINT)
             AS n_wellformed,
           CAST(SUM(CASE WHEN is_malformed THEN 0 ELSE n_t END) AS BIGINT)
             AS total_t_tags,
           CAST(SUM(CASE WHEN is_malformed THEN 0 ELSE q_val END) AS BIGINT)
             AS q_sum,
           CAST(SUM(CASE WHEN is_malformed THEN 0
                         WHEN n_words >= 2
                           THEN LENGTH(ws[1]) + 1 + LENGTH(ws[2])
                         ELSE LENGTH(ws[1]) END) AS BIGINT) AS slug_chars
    FROM d GROUP BY source
    """,
)
def xml_xpath_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source XML feed rollup computed through the XPATH battery
    (the API the from_xml query doesn't lean on): repeated-element
    counts via ``count(/doc/tags/t)``, the attribute mass via
    ``xpath_long``, and the DECODED slug byte mass via
    ``xpath_string`` — each gated by a cheap structural well-formedness
    prefilter (``endswith '</doc>'``, the sniff a real router runs
    before spending a parse; the torn slice is exactly the complement,
    so the gate itself is oracle-checked via n_wellformed). An XPath
    miscount, an entity left undecoded, or a gate slip breaks the hash.

    Scale posture: codegen extraction then ONE hash-aggregate exchange
    of 4 counters into the fixed source grid with map-side combine."""
    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "lang", "text")
        .where(F.length("text") > 0)
    )
    u = docs.select("doc_id", "source", _synth_xml().alias("x"))
    wf = F.col("x").endswith("</doc>")
    gated = lambda e: F.when(wf, F.expr(e))  # noqa: E731
    return (
        u.select(
            "source",
            wf.alias("wf"),
            gated("xpath_long(x, 'count(/doc/tags/t)')").alias("nt"),
            gated("xpath_long(x, '/doc/meta/@q')").alias("qv"),
            gated("length(xpath_string(x, '/doc/slug'))").alias("sl"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("wf"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_wellformed"),
            F.sum(F.coalesce("nt", F.lit(0))).cast("bigint").alias(
                "total_t_tags"
            ),
            F.sum(F.coalesce("qv", F.lit(0))).cast("bigint").alias("q_sum"),
            F.sum(F.coalesce("sl", F.lit(0)))
            .cast("bigint")
            .alias("slug_chars"),
        )
    )


# ---------------------------------------------------------------------------
# robots.txt compliance screen (broadcast policy dim over parsed URLs)
# ---------------------------------------------------------------------------


@register(
    "robots_compliance_screen",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(SUBSTR(source, 4) AS BIGINT) AS src_k,
             SUBSTR(STRING_SPLIT(text, ' ')[1], 1, 1) AS slug_head
      FROM documents WHERE LENGTH(text) > 0
    ),
    flagged AS (
      SELECT source,
             src_k % 3 = 0 AND slug_head = CHR(97 + CAST(src_k % 26 AS INTEGER))
               AS blocked
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked,
           CAST((1000000 * SUM(CASE WHEN blocked THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS blocked_ppm
    FROM flagged GROUP BY source
    """,
)
def robots_compliance_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy compliance: each host publishes a robots policy —
    hosts with source index ≡ 0 (mod 3) disallow leaf paths starting
    with the letter chr(97 + k%26) — and every fetched URL's LEAF
    path segment (parsed with ``parse_url``/``split``, never the
    contract columns) is checked against its host's rule via a
    BROADCAST join of the tiny policy dim. Per-source rollup of blocked fetches in exact
    integer ppm — the compliance dashboard a crawler operator pages
    on. The oracle replays rule synthesis + matching declaratively.

    Scale posture: the policy dim is O(hosts) and broadcasts
    (plan-asserted); the fact side stays map-local until the final
    counter aggregate — at 100 TB the join costs one hash probe per
    URL, no fact shuffle."""
    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "lang", "text")
        .where(F.length("text") > 0)
    )
    urls = docs.select(
        "doc_id", "source", _synth_url().alias("url")
    ).withColumn(
        # the leaf path segment's first character, pulled from the
        # PARSED URL (the last '/'-split element of PATH), never from
        # the contract columns
        "slug_head",
        F.substring(
            F.element_at(
                F.split(F.parse_url(F.col("url"), F.lit("PATH")), "/"), -1
            ),
            1,
            1,
        ),
    )
    # the robots policy dim: one row per host, derived from the
    # distinct source set (tiny) — disallow rule as described above
    policy = (
        docs.select("source")
        .distinct()
        .withColumn("src_k", F.substring("source", 4, 10).cast("bigint"))
        .select(
            "source",
            F.when(
                F.col("src_k") % 3 == 0,
                F.expr("char(97 + src_k % 26)"),
            ).alias("disallow_head"),
        )
    )
    joined = urls.join(F.broadcast(policy), "source", "left")
    return (
        joined.withColumn(
            "blocked",
            F.col("disallow_head").isNotNull()
            & (F.col("slug_head") == F.col("disallow_head")),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("blocked"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_blocked"),
            F.expr(
                "(1000000 * sum(CASE WHEN blocked THEN 1 ELSE 0 END))"
                " DIV count(*)"
            ).alias("blocked_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# mixed-format router (the unified ingest front door)
# ---------------------------------------------------------------------------


def _route_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import json as _json

    from rs_streamloader_spark.functions.markdown import extract_md, synth_md

    for pdf in batches:
        out = {
            "doc_id": [],
            "fmt": [],
            "n_chars_extracted": [],
            "text_md5": [],
        }
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            i = int(doc_id)
            r = i % 3
            if r == 0:
                payload = synth_html(i, text)
            elif r == 1:
                payload = synth_md(i, text)
            else:
                # corpus text is [a-z ]: no JSON escaping required
                payload = _json.dumps({"id": i, "text": text})
            # SNIFF the format from the payload itself — the router
            # decision a real mixed feed makes; the oracle predicts it
            # from the synthesis cadence, so a sniff bug is a mismatch
            head = payload[:1]
            if head == "<":
                fmt = "html"
                recovered = extract_html(payload).text
            elif head == "{":
                fmt = "json"
                try:
                    recovered = _json.loads(payload).get("text", "")
                except ValueError:
                    recovered = ""
            else:
                fmt = "md"
                recovered = extract_md(payload).text
            out["doc_id"].append(doc_id)
            out["fmt"].append(fmt)
            out["n_chars_extracted"].append(len(recovered))
            out["text_md5"].append(
                hashlib.md5(recovered.encode("utf-8")).hexdigest()
            )
        res = pd.DataFrame(out)
        res["doc_id"] = res["doc_id"].astype("int64")
        res["n_chars_extracted"] = res["n_chars_extracted"].astype("int64")
        yield res


@register(
    "ingest_format_router",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'html'
                           WHEN 1 THEN 'md'
                           ELSE 'json' END AS fmt,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_extracted,
           MD5(text) AS text_md5
    FROM documents WHERE LENGTH(text) > 0
    """,
)
def ingest_format_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified ingest front door: a mixed feed where each record
    is HTML, Markdown, or a JSON envelope (by synthesis cadence), and
    the router must SNIFF the format from the payload bytes and
    dispatch to the matching extractor — html.parser walk, the
    CommonMark-subset walk, or a JSON field pull. Every branch must
    recover the source text byte-exactly (md5 against the oracle) AND
    tag the format the oracle independently predicts — a mis-sniff
    sends a payload down the wrong extractor and breaks both columns
    at once. This is the capstone over the r15 ingestion wave: one
    operator exercising all three extraction paths in one pass.

    Scale posture: map-only Arrow-batched pass; payloads never cross
    an exchange; per-doc output is a tag + digest + counter."""
    return spread(
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "text")
        .where(F.length("text") > 0)
    ).mapInPandas(
        _route_extract,
        schema=(
            "doc_id bigint, fmt string, n_chars_extracted bigint,"
            " text_md5 string"
        ),
    )


# ---------------------------------------------------------------------------
# quarantine load flow (the reference's COPY error path on the native
# sink: good rows load, bad rows land in an error table)
# ---------------------------------------------------------------------------


@register(
    "jsonl_quarantine_loadflow",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, doc_id % 13 = 5 AS is_malformed
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT source,
           CAST(SUM(CASE WHEN is_malformed THEN 0 ELSE 1 END) AS BIGINT)
             AS n_loaded,
           CAST(SUM(CASE WHEN is_malformed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           SUM(CASE WHEN is_malformed THEN 0 ELSE 1 END)
             > 20 * SUM(CASE WHEN is_malformed THEN 1 ELSE 0 END)
             AS within_error_budget
    FROM d GROUP BY source
    """,
)
def jsonl_quarantine_loadflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's COPY error path (MAXERROR budget +
    stl_load_errors introspection, core.ts:40-48 / utils.ts:10)
    re-expressed on the native sink as a QUARANTINE load flow: the
    JSONL feed parses executor-side, well-formed rows UPSERT into the
    main table through the full Loader path (staging → manifest →
    keyed upsert) while malformed rows APPEND into a quarantine
    table — then both tables are read BACK FROM DISK and rolled up
    per source, with an error-budget verdict (loaded > 20× quarantined
    ≈ MAXERROR ~5%). Every count therefore proves the end-to-end
    write/commit/read path routed each row exactly once — a dropped
    quarantine row, a double-landed batch, or a malformed row leaking
    into the main table breaks the oracle.

    Scale posture: the split is one predicate over the parsed stream
    (computed once, both sinks consume it); each sink write is the
    loader's bucketed O(batch) path; the rollup reads back fixed-width
    columns only."""
    import os

    from rs_streamloader_spark.loader import Loader
    from rs_streamloader_spark.session import scratch_dir
    from rs_streamloader_spark.sinks.native import NativeTableSink

    parsed = _jsonl_parsed(spark, sf_dir).select(
        "doc_id", "source", "is_malformed"
    )
    base = scratch_dir(spark, "quarantine", sf_dir)
    main = NativeTableSink(
        spark, os.path.join(base, "main"), num_buckets=8, bucket_by="doc_id"
    )
    quar = NativeTableSink(spark, os.path.join(base, "quarantine"))
    loader = Loader(
        spark,
        options={
            "table": "wh.jsonl_main",
            "id_field": "doc_id",
            "staging_format": "parquet",
            "copy_settings": {"format": "PARQUET"},
        },
        sink=main,
        staging_root=os.path.join(base, "stage_main"),
    )
    loader.add_source(parsed.where(~F.col("is_malformed")))
    loader.upsert()
    quar.insert(parsed.where(F.col("is_malformed")))

    # the verdict reads the LANDED tables, never the in-memory split
    loaded = main.read().groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_loaded")
    )
    quarantined = quar.read().groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_quarantined")
    )
    return (
        loaded.join(quarantined, "source", "full_outer")
        .select(
            "source",
            F.coalesce("n_loaded", F.lit(0)).alias("n_loaded"),
            F.coalesce("n_quarantined", F.lit(0)).alias("n_quarantined"),
        )
        .withColumn(
            "within_error_budget",
            F.col("n_loaded") > 20 * F.col("n_quarantined"),
        )
    )


# ---------------------------------------------------------------------------
# WARC/1.0 capture ingestion (functions/warc.py — the seventh raw
# format and the one a pretraining corpus PHYSICALLY arrives in:
# Common Crawl ships WARC. Text recovery traverses three layers —
# WARC framing -> HTTP message -> HTML markup — so one slipped byte
# at any layer breaks the md5 gate.)
# ---------------------------------------------------------------------------

_WARC_SCHEMA = (
    "doc_id bigint, source string, n_records bigint, warc_bytes bigint,"
    " req_content_length bigint, resp_content_length bigint,"
    " html_hdr_bytes bigint, text_md5 string"
)


def _extract_warc_metrics(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """synth → from-spec record walk → HTTP strip → HTML extract.
    Every emitted number comes from the PARSE (what a real crawl
    ingest sees), never from the synthesis formulas the oracle
    recomputes — that asymmetry is what makes the compare a test."""
    import re

    from rs_streamloader_spark.functions.warc import parse_warc, synth_warc

    cl_re = re.compile(r"Content-Length: (\d+)")
    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "source", "n_records", "warc_bytes",
            "req_content_length", "resp_content_length",
            "html_hdr_bytes", "text_md5",
        )}
        for doc_id, source, text in zip(
            pdf["doc_id"], pdf["source"], pdf["text"]
        ):
            cap = synth_warc(int(doc_id), source, text)
            recs = parse_warc(cap)
            by_type = {r.rec_type: r for r in recs}
            resp = by_type["response"]
            hdr_end = resp.payload.find("\r\n\r\n")
            m = cl_re.search(resp.payload[: hdr_end + 2])
            html = resp.payload[hdr_end + 4 :]
            ex = extract_html(html)
            rows["doc_id"].append(doc_id)
            rows["source"].append(source)
            rows["n_records"].append(len(recs))
            rows["warc_bytes"].append(len(cap))
            rows["req_content_length"].append(
                int(by_type["request"].headers["content-length"])
            )
            rows["resp_content_length"].append(
                int(resp.headers["content-length"])
            )
            rows["html_hdr_bytes"].append(int(m.group(1)) if m else -1)
            rows["text_md5"].append(
                hashlib.md5(ex.text.encode("utf-8")).hexdigest()
            )
        out = pd.DataFrame(rows)
        for c in (
            "doc_id", "n_records", "warc_bytes", "req_content_length",
            "resp_content_length", "html_hdr_bytes",
        ):
            out[c] = out[c].astype("int64")
        yield out


def _warc_metrics_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached per-doc capture-parse table for the family."""
    return stage_cached(
        spark,
        sf_dir,
        "warc_metrics",
        lambda: (
            # spread: same single-split rationale as _html_metrics_cached
            spread(
                load_tables(spark, sf_dir, "documents")["documents"]
                .select("doc_id", "source", "text")
                .where(F.length("text") > 0)
            ).mapInPandas(_extract_warc_metrics, schema=_WARC_SCHEMA)
        ),
    )


# closed-form WARC byte accounting on top of the HTML contract CTE
# (functions/warc.py module docstring pins every constant; validated
# off-Spark over all 5000 sf0.1 docs before these operators existed)
_WARC_CTE = _CONTRACT_CTE + """
    , w AS (
      SELECT *,
             LENGTH(CAST(doc_id AS VARCHAR)) AS l_id,
             LENGTH(source) AS l_src
      FROM b
    ),
    w2 AS (
      SELECT *,
             20 + l_src + l_id AS uri_len,
             66 + l_id + l_src AS req_pl,
             77 + LENGTH(CAST(html_bytes AS VARCHAR)) + html_bytes
               AS resp_pl
      FROM w
    ),
    w3 AS (
      SELECT *,
             211 + uri_len + LENGTH(CAST(req_pl AS VARCHAR))
                 + req_pl + 4 AS rec2_len,
             213 + uri_len + LENGTH(CAST(resp_pl AS VARCHAR))
                 + resp_pl + 4 AS rec3_len
      FROM w2
    ),
    wb AS (
      SELECT *, 245 + rec2_len + rec3_len AS warc_bytes FROM w3
    )
"""


@register(
    "warc_ingest_extract",
    oracle=_WARC_CTE
    + """
    SELECT doc_id,
           CAST(3 AS BIGINT) AS n_records,
           CAST(warc_bytes AS BIGINT) AS warc_bytes,
           CAST(req_pl AS BIGINT) AS req_content_length,
           CAST(resp_pl AS BIGINT) AS resp_content_length,
           CAST(html_bytes AS BIGINT) AS html_hdr_bytes,
           MD5(text) AS text_md5
    FROM wb
    """,
)
def warc_ingest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC capture → document recovery, byte-exact through three
    layers: walk the ISO-28500 record framing (declared-length reads,
    never content scans), strip the HTTP/1.1 response headers, parse
    the entity HTML with the stdlib walk, and prove the recovered text
    equals the source document by md5. The oracle recomputes every
    byte count (record framing overhead, HTTP header width, the
    markup.py html_bytes formula) in closed form from LENGTH(text) /
    LENGTH(source) / doc_id — so a framing slip, an off-by-one payload
    read, a header-width bug, or a markup leak each breaks its own
    column.

    Scale posture: map-only Arrow-batched pass — captures are built
    and parsed inside one Python stage and reduce to 6 integers + a
    16-byte digest per doc; no shuffle ever carries a capture. At
    100 TB this is the classic embarrassingly-parallel Common Crawl
    extraction shape (one WARC file per task, zero exchanges)."""
    return _warc_metrics_cached(spark, sf_dir).select(
        "doc_id", "n_records", "warc_bytes", "req_content_length",
        "resp_content_length", "html_hdr_bytes", "text_md5",
    )


@register(
    "warc_source_rollup",
    oracle=_WARC_CTE
    + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(warc_bytes) AS BIGINT) AS total_warc_bytes,
           CAST(SUM(req_pl) AS BIGINT) AS total_req_payload,
           CAST(SUM(resp_pl) AS BIGINT) AS total_resp_payload,
           CAST(MAX(resp_pl) AS BIGINT) AS max_resp_payload,
           CAST((1000000 * SUM(html_bytes)) // SUM(warc_bytes)
                AS BIGINT) AS content_share_ppm
    FROM wb GROUP BY source
    """,
)
def warc_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host capture accounting: total capture bytes, request/
    response payload volumes, the largest response, and the content
    share (entity bytes over capture bytes, exact integer ppm) — the
    crawl-storage dashboard that tells an operator how much of each
    host's captured volume is actual page content vs protocol
    framing. All inputs are PARSED header values off the shared
    capture-parse stage; the oracle rebuilds them from the contract.

    Scale posture: the family's one shuffle — 5 integer columns per
    doc into a 20-group hash aggregate with map-side combine."""
    mx = _warc_metrics_cached(spark, sf_dir)
    return mx.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("warc_bytes").cast("bigint").alias("total_warc_bytes"),
        F.sum("req_content_length").cast("bigint").alias(
            "total_req_payload"
        ),
        F.sum("resp_content_length").cast("bigint").alias(
            "total_resp_payload"
        ),
        F.max("resp_content_length").cast("bigint").alias(
            "max_resp_payload"
        ),
        F.expr(
            "(1000000 * sum(html_hdr_bytes)) DIV sum(warc_bytes)"
        ).alias("content_share_ppm"),
    )


def _extract_warc_faults(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Fault-injected capture parse: docs on the doc_id % 17 == 3
    slice lose their final 5 + (doc_id % 7) * 3 chars (an interrupted
    crawl write). The parser must flag EXACTLY the response record of
    exactly those docs as truncated — detection comes from the
    declared-length read coming up short, never from the slice rule."""
    from rs_streamloader_spark.functions.warc import parse_warc, synth_warc

    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "source", "n_records_parsed", "is_truncated",
            "clean_recovered",
        )}
        for doc_id, source, text in zip(
            pdf["doc_id"], pdf["source"], pdf["text"]
        ):
            i = int(doc_id)
            tail = 5 + (i % 7) * 3 if i % 17 == 3 else 0
            cap = synth_warc(i, source, text, truncate_tail=tail)
            recs = parse_warc(cap)
            truncated = any(r.truncated for r in recs)
            clean_ok = False
            if not truncated:
                resp = next(r for r in recs if r.rec_type == "response")
                html = resp.payload[resp.payload.find("\r\n\r\n") + 4 :]
                clean_ok = extract_html(html).text == text
            rows["doc_id"].append(doc_id)
            rows["source"].append(source)
            rows["n_records_parsed"].append(len(recs))
            rows["is_truncated"].append(truncated)
            rows["clean_recovered"].append(clean_ok)
        out = pd.DataFrame(rows)
        out["doc_id"] = out["doc_id"].astype("int64")
        out["n_records_parsed"] = out["n_records_parsed"].astype("int64")
        yield out


@register(
    "warc_truncation_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, doc_id % 17 = 3 AS is_fault
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(3 * COUNT(*) AS BIGINT) AS n_records_parsed,
           CAST(SUM(CASE WHEN is_fault THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(SUM(CASE WHEN is_fault THEN 0 ELSE 1 END) AS BIGINT)
             AS n_clean_recovered
    FROM d GROUP BY source
    """,
)
def warc_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted-crawl QC: a slice of captures (doc_id % 17 == 3 —
    17 is coprime to the 20-source cadence, so the slice cuts across
    every host) is tail-truncated mid-payload, and the per-host audit
    counts captures the PARSER flagged truncated plus clean captures
    that recovered byte-exactly. The truncation signal is the
    declared Content-Length read coming up short — the oracle instead
    predicts the slice from the fault rule, so a parser that misses a
    short read (or flags a clean one) breaks the count; a tail cut of
    ≤ 18 chars only removes closing markup, so md5-equality would NOT
    detect it — the length check is the only honest signal, which is
    exactly what this audit pins. Records-parsed stays 3 per doc:
    framing must survive payload loss (the spec's resynchronization
    guarantee for a short FINAL record).

    Scale posture: map-only parse → 2 integers + 2 booleans per doc
    → 20-group rollup with map-side combine."""
    parsed = spread(
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "text")
        .where(F.length("text") > 0)
    ).mapInPandas(
        _extract_warc_faults,
        schema=(
            "doc_id bigint, source string, n_records_parsed bigint,"
            " is_truncated boolean, clean_recovered boolean"
        ),
    )
    return parsed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_records_parsed").cast("bigint").alias("n_records_parsed"),
        F.sum(F.when(F.col("is_truncated"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_truncated"),
        F.sum(F.when(F.col("clean_recovered"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clean_recovered"),
    )


# ---------------------------------------------------------------------------
# pretrain_pipeline_e2e — the full ingest-to-admission pipeline in one
# operator: WARC capture -> 3-layer extraction -> Gopher-style quality
# screens on the RECOVERED text -> exact-hash dedup -> per-source tally
# ---------------------------------------------------------------------------

from rs_streamloader_spark.functions.text_functions import (
    GOPHER_STOPWORDS as _PIPE_STOPWORDS,
)

_PIPE_SCHEMA = (
    "doc_id bigint, source string, n_words bigint, n_chars_tok bigint,"
    " n_types bigint, top_tok_cnt bigint, n_stop bigint,"
    " text_bytes bigint, html_bytes bigint, text_md5 string"
)


def _pipeline_metrics(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Capture → recovery → token statistics, all computed from the
    RECOVERED text (never the source column) — so a recovery bug at
    any of the three layers poisons every downstream metric and the
    oracle (which recomputes from the original text) catches it."""
    from collections import Counter

    from rs_streamloader_spark.functions.warc import parse_warc, synth_warc

    stop = set(_PIPE_STOPWORDS)
    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "source", "n_words", "n_chars_tok", "n_types",
            "top_tok_cnt", "n_stop", "text_bytes", "html_bytes",
            "text_md5",
        )}
        for doc_id, source, text in zip(
            pdf["doc_id"], pdf["source"], pdf["text"]
        ):
            cap = synth_warc(int(doc_id), source, text)
            resp = next(
                r for r in parse_warc(cap) if r.rec_type == "response"
            )
            html = resp.payload[resp.payload.find("\r\n\r\n") + 4 :]
            recovered = extract_html(html).text
            words = recovered.split(" ")
            counts = Counter(words)
            rows["doc_id"].append(doc_id)
            rows["source"].append(source)
            rows["n_words"].append(len(words))
            rows["n_chars_tok"].append(sum(len(w) for w in words))
            rows["n_types"].append(len(counts))
            rows["top_tok_cnt"].append(max(counts.values()))
            rows["n_stop"].append(sum(counts[s] for s in stop & counts.keys()))
            rows["text_bytes"].append(len(recovered))
            rows["html_bytes"].append(len(html))
            rows["text_md5"].append(
                hashlib.md5(recovered.encode("utf-8")).hexdigest()
            )
        out = pd.DataFrame(rows)
        for c in (
            "doc_id", "n_words", "n_chars_tok", "n_types", "top_tok_cnt",
            "n_stop", "text_bytes", "html_bytes",
        ):
            out[c] = out[c].astype("int64")
        yield out


@register(
    "pretrain_pipeline_e2e",
    # the markup byte-accounting comes from the SAME _CONTRACT_CTE the
    # whole HTML family shares (one definition of html_bytes — a
    # contract change cannot silently diverge this oracle from the
    # others); only the token statistics and pipeline stages are new
    oracle=_CONTRACT_CTE
    + f"""
    , toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      FROM documents WHERE LENGTH(text) > 0
    ),
    pd AS (
      SELECT doc_id,
             COUNT(*) AS n_words,
             SUM(LENGTH(tok)) AS n_chars_tok,
             COUNT(DISTINCT tok) AS n_types,
             MAX(cnt_per_tok) AS top_tok_cnt,
             SUM(CASE WHEN tok IN {_PIPE_STOPWORDS} THEN 1 ELSE 0 END)
               AS n_stop
      FROM (
        SELECT doc_id, tok,
               COUNT(*) OVER (PARTITION BY doc_id, tok) AS cnt_per_tok
        FROM toks
      )
      GROUP BY doc_id
    ),
    f AS (
      SELECT b.doc_id, b.source, b.text, b.n_chars, b.html_bytes,
             pd.n_words AS tok_words,
             (pd.n_words BETWEEN 10 AND 1000
              AND pd.n_chars_tok * 10 >= pd.n_words * 30
              AND pd.n_chars_tok * 10 <= pd.n_words * 100
              AND 100 * b.n_chars >= 35 * b.html_bytes
              AND pd.n_stop > 0) AS pass
      FROM b JOIN pd ON b.doc_id = pd.doc_id
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY MD5(text), pass ORDER BY doc_id
             ) AS rn
      FROM f
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_rejected,
           CAST(SUM(CASE WHEN pass AND rn > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_dropped,
           CAST(SUM(CASE WHEN pass AND rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN pass AND rn = 1 THEN tok_words ELSE 0 END)
                AS BIGINT) AS admitted_tokens
    FROM r GROUP BY source
    """,
)
def pretrain_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining ingest pipeline as ONE oracle-checked
    operator — the shape every real 100 TB corpus build runs nightly:

    1. **Ingest**: WARC captures parse through the from-spec record
       walker; the HTTP entity HTML parses through the stdlib walk;
       every downstream number is computed from the RECOVERED text.
    2. **Quality screens** (computed JVM-side over the emitted
       counters, all integer cross-multiplied): Gopher word-count
       bounds [10, 1000], mean word length [3, 10], the boilerplate
       density floor (text ≥ 0.35 × markup — the html family's
       corpus-median screen), and stopword presence.
    3. **Exact dedup** among admitted docs: first-by-doc_id per
       recovered-text md5 wins; later copies drop (the dup branch is
       corpus-live at sf0.1 and pinned by a constructed-corpus test
       at compare scale).
    4. **Admission tally** per source: rejected / dup-dropped /
       admitted doc counts + admitted token mass — the numbers that
       decide the next crawl's source mix.

    The oracle replays all four stages declaratively from the
    original text + synthesis contract, so a recovery bug, a
    threshold slip, a dedup-ordering bug, or a tally miss each breaks
    the hash.

    Scale posture: stage 1 is map-only (captures never cross an
    exchange — per-doc output is 8 integers + a digest); dedup is one
    hash-partitioned window on (md5, pass); the tally is a 20-group
    map-side-combinable rollup. Three total exchanges of fixed-width
    rows, independent of document size."""
    mx = spread(
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "text")
        .where(F.length("text") > 0)
    ).mapInPandas(_pipeline_metrics, schema=_PIPE_SCHEMA)
    flagged = mx.withColumn(
        "pass",
        F.col("n_words").between(10, 1000)
        & (F.col("n_chars_tok") * 10 >= F.col("n_words") * 30)
        & (F.col("n_chars_tok") * 10 <= F.col("n_words") * 100)
        & (F.lit(100) * F.col("text_bytes") >= F.lit(35) * F.col("html_bytes"))
        & (F.col("n_stop") > 0),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("text_md5", "pass").orderBy("doc_id")
    ranked = flagged.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(~F.col("pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_quality_rejected"),
        F.sum(F.when(F.col("pass") & (F.col("rn") > 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_dropped"),
        F.sum(F.when(F.col("pass") & (F.col("rn") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_admitted"),
        F.sum(
            F.when(F.col("pass") & (F.col("rn") == 1), F.col("n_words"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("admitted_tokens"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup — the crawl-frontier dedup stage: messy
# fetch URLs normalize to canonical identities before content fetch
# ---------------------------------------------------------------------------


def _synth_messy_url():
    """Codegen fetch-URL builder: canonical identity
    ``https://{source}.example.{tld}/item/{doc_id DIV 40}`` dressed in
    deterministic crawl mess — %3 uppercases the host's middle label,
    %5 adds the default :443 port, %7 a trailing slash, %2 tracking
    params, %11 a fragment. doc_id DIV 40 pairs consecutive same-
    source ids (20 | 40), so real duplicate identities exist in every
    source."""
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    host = F.concat(
        F.col("source"),
        F.when(F.col("doc_id") % 3 == 1, F.lit(".EXAMPLE.")).otherwise(
            F.lit(".example.")
        ),
        tld,
    )
    return F.concat(
        F.lit("https://"),
        host,
        F.when(F.col("doc_id") % 5 == 1, F.lit(":443")).otherwise(
            F.lit("")
        ),
        F.lit("/item/"),
        F.expr("CAST(doc_id DIV 40 AS STRING)"),
        F.when(F.col("doc_id") % 7 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.lit("?utm_source=feed&utm_campaign=x"),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 1, F.lit("#frag")).otherwise(
            F.lit("")
        ),
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             ['com', 'org', 'net', 'io'][CAST(doc_id % 4 AS INTEGER) + 1]
               AS tld
      FROM documents WHERE LENGTH(text) > 0
    ),
    c AS (
      SELECT doc_id,
             'https://' || source || '.example.' || tld || '/item/'
               || CAST(doc_id // 40 AS VARCHAR) AS canon
      FROM d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
           CAST(COUNT(*) - COUNT(DISTINCT canon) AS BIGINT)
             AS n_dup_fetches,
           CAST((1000000 * (COUNT(*) - COUNT(DISTINCT canon)))
                // COUNT(*) AS BIGINT) AS dup_ppm,
           CAST(SUM(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_upper_hosts,
           CAST(SUM(CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_default_ports,
           CAST(SUM(CASE WHEN doc_id % 7 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_trailing_slashes,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tracking_queries,
           CAST(SUM(CASE WHEN doc_id % 11 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fragments,
           MIN(canon) AS sample_canon
    FROM c JOIN d USING (doc_id)
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier stage that runs
    BEFORE any content fetch: every messy fetch URL (mixed-case host,
    default :443 port, trailing slash, utm tracking params, fragment)
    normalizes to its canonical identity via ``parse_url`` +
    string ops, ENTIRELY in JVM codegen, and the frontier dedupes on
    the canonical form. Every count is measured on the PARSED side:
    each mess kind is detected from the URL text (a case-sensitive
    host compare, an AUTHORITY port probe, a path-suffix probe, a
    utm-prefixed QUERY param, a REF probe) while the oracle predicts
    it from the synthesis cadence — so a canonicalization bug splits
    duplicate identities (n_canonical too high), a detection bug
    breaks its own counter, and a recompose bug breaks the
    byte-compared sample_canon.

    Scale posture: map-only codegen canonicalization; the dedup
    measure is one COUNT DISTINCT over the canonical key (the same
    partial-aggregate shape dedup_exact uses); single-row output."""
    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "text")
        .where(F.length("text") > 0)
    )
    u = docs.select("doc_id", _synth_messy_url().alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    authority = F.parse_url(F.col("url"), F.lit("AUTHORITY"))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    query = F.parse_url(F.col("url"), F.lit("QUERY"))
    ref = F.parse_url(F.col("url"), F.lit("REF"))
    parsed = u.select(
        "doc_id",
        host.alias("host"),
        authority.alias("authority"),
        path.alias("path"),
        query.alias("query"),
        ref.alias("ref"),
    ).select(
        "doc_id",
        # canonical recompose: lowercase host, default port gone (HOST
        # already excludes it — the port probe is AUTHORITY's job),
        # trailing slash stripped, utm-only query dropped, no fragment
        F.concat(
            F.lit("https://"),
            F.lower(F.col("host")),
            F.regexp_replace(F.col("path"), "/$", ""),
        ).alias("canon"),
        (F.col("host") != F.lower(F.col("host"))).alias("was_upper"),
        F.col("authority").contains(":443").alias("had_port"),
        F.col("path").endswith("/").alias("had_slash"),
        F.coalesce(
            F.col("query").startswith("utm_"), F.lit(False)
        ).alias("had_utm"),
        F.col("ref").isNotNull().alias("had_frag"),
    )
    return parsed.agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.countDistinct("canon").cast("bigint").alias("n_canonical"),
        (F.count("*") - F.countDistinct("canon"))
        .cast("bigint")
        .alias("n_dup_fetches"),
        F.expr(
            "CAST((1000000 * (count(*) - count(DISTINCT canon)))"
            " DIV count(*) AS BIGINT)"
        ).alias("dup_ppm"),
        F.sum(F.when(F.col("was_upper"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_upper_hosts"),
        F.sum(F.when(F.col("had_port"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_default_ports"),
        F.sum(F.when(F.col("had_slash"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_trailing_slashes"),
        F.sum(F.when(F.col("had_utm"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tracking_queries"),
        F.sum(F.when(F.col("had_frag"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fragments"),
        F.min("canon").alias("sample_canon"),
    )
