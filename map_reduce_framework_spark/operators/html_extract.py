"""HTML/markup -> text extraction: the intake edge of a web-crawl
curation pipeline (VERDICT r8 ask #1).

Every downstream operator in this engine (gopher/C4 rule filters,
dedup, langid, mixture) assumes already-extracted text; a real
Common-Crawl-style corpus arrives as HTML. This module implements the
dependency-free main-content extraction recipe (the
trafilatura/jusText/Common-Crawl family: strip script/style/comments,
reconstruct block-level lines, score each line by length and LINK
DENSITY, keep the content-dense lines) entirely as string/array
expressions -- JVM-side, whole-stage-codegen, shuffle-free. No Python
in the hot path: the whole extraction is ONE narrow projection, so at
100 TB it is scan-bound map work with full predicate
pushdown/column-pruning upstream.

Pipeline (identical, step for step, in the Spark engine and the DuckDB
oracle -- two dialects of the same expression chain):

1. drop ``<!-- comments -->``, ``<script>``/``<style>`` elements;
2. protect anchor text: ``<a ...>X</a>`` -> ``\\x01X\\x02`` (sentinel
   chars that cannot occur in text) so per-line link mass survives tag
   stripping;
3. block-level tags (p, div, li, h1-6, table rows, nav, footer, ...)
   become newlines -- the line reconstruction;
4. strip all remaining tags; decode the six common entities
   (``&lt; &gt; &quot; &#39; &nbsp; &amp;``, amp last);
5. per line: visible text = trim(line minus sentinels), link_chars =
   characters that came from anchor text; KEEP a line iff
   ``len(visible) >= MIN_LINE_CHARS`` and ``link_chars * LINK_DENSITY_DEN
   < len(visible)`` (link density < 1/3 -- nav/footer/ad rows are
   short or link-heavy, body prose is neither: the jusText/boilerpipe
   line-density rule);
6. extracted text = kept visible lines joined by newline.

The registered queries run the extractor over a CRAFTED HTML corpus
synthesized deterministically from the documents table (the
``video_frame_dhash`` pattern: the corpus is a pure function of the
rows, so the DuckDB oracle rebuilds the exact same pages): each page
wraps the document text in ``<article><p>`` between a planted
link-heavy ``<nav>``, an ad-style link row, and a link-heavy
``<footer>``, plus a comment, a ``<script>`` containing a bare ``<``,
a ``<style>`` block, and entity-encoded punctuation in a second
content line. Extraction must remove every planted boilerplate line
and preserve the main content BYTE-EXACTLY -- certified per document
by the driver's hash compare, and end-to-end by
tests/test_round9_ops.py (which also feeds the extraction output
through the existing gopher/C4 rule funnel: the composition a real
crawl pipeline runs).

Reference scope note: the reference engine (go-map-reduce-framework)
has no HTML intake; this operator extends the engine along SURVEY.md
section 6's LLM-pipeline axis, like the rest of text_analysis.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

#: Line-level keep rule: minimum visible characters, and visible
#: length must exceed LINK_DENSITY_DEN x link characters (density
#: < 1/3). 25 chars is jusText's "short line" boundary scaled to the
#: synthetic corpus (min document length 48); both are module
#: constants a production config would expose.
MIN_LINE_CHARS = 25
LINK_DENSITY_DEN = 3

#: Anchor-text sentinels: control chars no text column contains.
_M1 = chr(1)
_M2 = chr(2)
_NL = chr(10)

#: Tags treated as line boundaries (HTML block-level elements plus the
#: structural head/body wrappers).
_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|article"
    "|header|footer|nav|aside|main|blockquote|pre|title|head|body|html"
)

#: The six entities every extractor decodes (amp LAST so ``&amp;lt;``
#: decodes to the literal ``&lt;``, not ``<``).
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "''"),  # SQL-escaped single quote, identical in both dialects
    ("&nbsp;", " "),
]


def _cleaned_expr(col: str, dialect: str) -> str:
    """The cleaned-text expression: steps 1-4 over ``col``. ``dialect``
    is 'spark' or 'duck'; the regex PATTERNS are byte-identical (no
    backslash classes, so Java regex and RE2 agree), only the backref
    token ($2 vs \\2) and DuckDB's explicit 'g' option differ."""
    g = ", 'g'" if dialect == "duck" else ""
    backref = "\\2" if dialect == "duck" else "$2"
    s = col
    s = f"REGEXP_REPLACE({s}, '(?s)<!--.*?-->', ''{g})"
    s = f"REGEXP_REPLACE({s}, '(?is)<script( [^>]*)?>.*?</script>', ''{g})"
    s = f"REGEXP_REPLACE({s}, '(?is)<style( [^>]*)?>.*?</style>', ''{g})"
    s = (
        f"REGEXP_REPLACE({s}, '(?is)<a( [^>]*)?>(.*?)</a>', "
        f"'{_M1}{backref}{_M2}'{g})"
    )
    s = (
        f"REGEXP_REPLACE({s}, '(?is)</?({_BLOCK_TAGS})( [^>]*)?>', "
        f"'{_NL}'{g})"
    )
    s = f"REGEXP_REPLACE({s}, '(?s)<[^>]*>', ''{g})"
    for ent, ch in _ENTITIES:
        s = f"REPLACE({s}, '{ent}', '{ch}')"
    return f"REPLACE({s}, '&amp;', '&')"


def _stats_expr(col: str, dialect: str) -> str:
    """The per-line stats array: split the cleaned text on newlines and
    map each line to a struct (vis = visible trimmed text, lnk = anchor
    characters). lnk = (chars removed with whole sentinel segments) -
    2 x (number of sentinel pairs); GREATEST(0, ...) guards a sentinel
    pair torn across lines by a newline inside anchor text."""
    g = ", 'g'" if dialect == "duck" else ""
    vis = f"TRIM(REPLACE(REPLACE(l, '{_M1}', ''), '{_M2}', ''))"
    lnk = (
        f"GREATEST(LENGTH(l) - "
        f"LENGTH(REGEXP_REPLACE(l, '{_M1}[^{_M2}]*{_M2}', ''{g})) - "
        f"2 * (LENGTH(l) - LENGTH(REPLACE(l, '{_M1}', ''))), 0)"
    )
    cleaned = _cleaned_expr(col, dialect)
    if dialect == "duck":
        return (
            f"list_transform(string_split({cleaned}, '{_NL}'), "
            f"l -> {{'vis': {vis}, 'lnk': {lnk}}})"
        )
    return (
        f"TRANSFORM(SPLIT({cleaned}, '{_NL}'), "
        f"l -> NAMED_STRUCT('vis', {vis}, 'lnk', {lnk}))"
    )


def _keep_pred() -> str:
    """The line keep rule over a stats struct ``st`` (dialect-shared)."""
    return (
        f"LENGTH(st.vis) >= {MIN_LINE_CHARS} AND "
        f"st.lnk * {LINK_DENSITY_DEN} < LENGTH(st.vis)"
    )


def _extracted_from_stats(dialect: str) -> str:
    """extracted text from a bound ``stats`` column."""
    if dialect == "duck":
        return (
            f"array_to_string(list_transform(list_filter(stats, "
            f"st -> {_keep_pred()}), st -> st.vis), '{_NL}')"
        )
    return (
        f"ARRAY_JOIN(TRANSFORM(FILTER(stats, st -> {_keep_pred()}), "
        f"st -> st.vis), '{_NL}')"
    )


# ---------------------------------------------------------------------------
# The crafted HTML corpus: a deterministic page per document row.
# Planted boilerplate: comment, <style>, <script> (with a bare '<'),
# link-heavy nav, an ad-style link row, a link-heavy footer. Main
# content: the document text in <article><p>, then an entity-encoded
# second content line (kept: long, link-free) proving entity decoding
# reaches the hashed output.
# ---------------------------------------------------------------------------

#: Kept second content line (proves entity decoding reaches the hashed
#: output). Deliberately 4 whitespace tokens -- one short of CONTAM_N
#: (text_analysis.py:562) -- so the line every crafted page shares
#: contributes ZERO n-grams to the decontamination sweep: the raw-HTML
#: curation run (round 10) would otherwise see every training doc
#: "contaminated" by the planted boilerplate and funnel to nothing.
_SUMMARY_LINE = 'summary: "maps & reduces-reference-sheet"'

_PAGE_PREFIX = (
    "<!-- synthesized crawl page -->"
    '<html lang="en"><head><title>doc '
)
_PAGE_MID = (
    "</title><style>.m{color:#333}</style><script>var n=1<2;</script>"
    '</head><body><nav><a href="/">home page</a> | '
    '<a href="/about">about us page</a> | <a href="/c">contact</a></nav>'
    '<div class="ad"><a href="/buy">buy the thing now</a></div>'
    "<article><p>"
)
_PAGE_SUFFIX = (
    "</p><p>summary: &quot;maps &amp; reduces-reference-sheet&quot;</p>"
    '</article><footer><a href="/t">terms of service</a> '
    '<a href="/p">privacy policy</a> copyright 2026</footer></body></html>'
)


def synth_html_expr() -> str:
    """The crafted page as a SQL expression over (doc_id, text) --
    dialect-shared (CONCAT + CAST AS STRING parse identically)."""
    return (
        f"CONCAT('{_PAGE_PREFIX}', CAST(doc_id AS STRING), "
        f"'{_PAGE_MID}', text, '{_PAGE_SUFFIX}')"
    )


def html_corpus(documents: DataFrame) -> DataFrame:
    """(doc_id, html): the crafted corpus -- also the general entry
    point for running the extractor over REAL pages (any DataFrame
    with doc_id + html columns feeds extract_text_from)."""
    return documents.selectExpr("doc_id", f"{synth_html_expr()} AS html")


def synth_pages(documents: DataFrame) -> DataFrame:
    """(doc_id, html, lang, source): the crafted crawl drop WITH the
    metadata columns a real crawl carries next to the raw bytes --
    the input relation of the raw-HTML curation run (round 10:
    run_curation stage 0) and the epochal HTML ingest."""
    return documents.selectExpr(
        "doc_id", f"{synth_html_expr()} AS html", "lang", "source"
    )


def extracted_documents_from(pages: DataFrame, col: str = "html") -> DataFrame:
    """Rebuild the full documents relation from raw pages: text = the
    extracted main content, n_chars recomputed from it, metadata
    (lang, source) passed through the SAME projection -- no join, no
    shuffle: extraction rides the scan exactly like extract_text_from,
    with the metadata columns along for the ride."""
    from .text_analysis import _fan_out

    staged = _fan_out(pages).selectExpr(
        "doc_id",
        "lang",
        "source",
        f"{_stats_expr(col, 'spark')} AS stats",
    )
    return staged.selectExpr(
        "doc_id",
        f"{_extracted_from_stats('spark')} AS text",
        "lang",
        "source",
    ).selectExpr(
        "doc_id",
        "text",
        "lang",
        "source",
        "CAST(LENGTH(text) AS BIGINT) AS n_chars",
    )


def extracted_documents_sql(pages_rel: str = "pages") -> str:
    """DuckDB twin of extracted_documents_from over a bound pages
    relation -- the CTE body that SHADOWS the ``documents`` view so an
    unchanged downstream oracle chain re-derives its counts from raw
    HTML (the _extracted_quality_sql pattern, generalized)."""
    return f"""
        SELECT doc_id, text, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM (
            SELECT doc_id, lang, source,
                   {_extracted_from_stats('duck')} AS text
            FROM (
                SELECT doc_id, lang, source,
                       {_stats_expr('html', 'duck')} AS stats
                FROM {pages_rel}
            )
        )
    """


def extract_text_from(pages: DataFrame, col: str = "html") -> DataFrame:
    """(doc_id, extracted_text) from any (doc_id, <col>) relation: the
    production operator. One narrow two-level projection (stats bound
    once -- CollapseProject keeps the non-cheap alias out of the three
    consumers), no shuffle, no Python."""
    from .text_analysis import _fan_out

    staged = _fan_out(pages).selectExpr(
        "doc_id", f"{_stats_expr(col, 'spark')} AS stats"
    )
    return staged.selectExpr(
        "doc_id", f"{_extracted_from_stats('spark')} AS extracted_text"
    )


def extract_text(documents: DataFrame) -> DataFrame:
    """The registered query: crafted corpus -> main-content extraction.
    (doc_id, extracted_text), hash-exact vs the DuckDB twin."""
    return extract_text_from(html_corpus(documents))


def extraction_report(documents: DataFrame) -> DataFrame:
    """Per-document extraction data card: (doc_id, n_lines, n_kept,
    n_chars_html, n_chars_text, n_link_chars) -- the boilerplate-mass
    accounting a crawl pipeline records next to the extracted text.
    Same single-scan shape as extract_text."""
    from .text_analysis import _fan_out

    staged = _fan_out(documents).selectExpr(
        "doc_id",
        f"{synth_html_expr()} AS html",
    ).selectExpr(
        "doc_id",
        "LENGTH(html) AS n_chars_html",
        f"{_stats_expr('html', 'spark')} AS stats",
    )
    return staged.selectExpr(
        "doc_id",
        "CAST(SIZE(stats) AS BIGINT) AS n_lines",
        f"CAST(SIZE(FILTER(stats, st -> {_keep_pred()})) AS BIGINT) "
        "AS n_kept",
        "CAST(n_chars_html AS BIGINT) AS n_chars_html",
        f"CAST(LENGTH({_extracted_from_stats('spark')}) AS BIGINT) "
        "AS n_chars_text",
        "CAST(AGGREGATE(stats, 0L, (a, st) -> a + st.lnk) AS BIGINT) "
        "AS n_link_chars",
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: the same chain in the duck dialect over the same
# synthesized pages.
# ---------------------------------------------------------------------------


def _extract_text_sql() -> str:
    return f"""
    WITH pages AS (
        SELECT doc_id, {synth_html_expr()} AS html FROM documents
    ),
    staged AS (
        SELECT doc_id, {_stats_expr('html', 'duck')} AS stats FROM pages
    )
    SELECT doc_id, {_extracted_from_stats('duck')} AS extracted_text
    FROM staged
    """


def _extraction_report_sql() -> str:
    return f"""
    WITH pages AS (
        SELECT doc_id, {synth_html_expr()} AS html FROM documents
    ),
    staged AS (
        SELECT doc_id, length(html) AS n_chars_html,
               {_stats_expr('html', 'duck')} AS stats
        FROM pages
    )
    SELECT doc_id,
           CAST(len(stats) AS BIGINT) AS n_lines,
           CAST(len(list_filter(stats, st -> {_keep_pred()})) AS BIGINT)
               AS n_kept,
           CAST(n_chars_html AS BIGINT) AS n_chars_html,
           CAST(length({_extracted_from_stats('duck')}) AS BIGINT)
               AS n_chars_text,
           CAST(COALESCE(list_sum(list_transform(stats, st -> st.lnk)), 0)
               AS BIGINT) AS n_link_chars
    FROM staged
    """


def extracted_quality_score(documents: DataFrame) -> DataFrame:
    """The intake composition, registered: crafted pages -> extraction
    -> the existing quality_score rules over the EXTRACTED text (with
    n_chars recomputed from it). Hash-exact end to end: the oracle
    shadows the documents relation with the extraction chain (DuckDB
    CTE-over-view shadowing via the main. qualifier) and re-runs the
    untouched quality_score SQL on top -- the exact composition a crawl
    pipeline executes as its first two stages."""
    from .text_analysis import quality_score

    ext = extract_text(documents)
    as_docs = ext.select(
        "doc_id",
        F.col("extracted_text").alias("text"),
        F.length("extracted_text").cast("bigint").alias("n_chars"),
    )
    return quality_score(as_docs)


def _extracted_quality_sql() -> str:
    from .text_analysis import ORACLE_SQL as _TA_SQL

    return f"""
    WITH documents AS (
        SELECT doc_id, extracted_text AS text,
               CAST(length(extracted_text) AS BIGINT) AS n_chars
        FROM (
            WITH pages AS (
                SELECT doc_id, {synth_html_expr()} AS html
                FROM main.documents
            ),
            staged AS (
                SELECT doc_id, {_stats_expr('html', 'duck')} AS stats
                FROM pages
            )
            SELECT doc_id, {_extracted_from_stats('duck')}
                       AS extracted_text
            FROM staged
        )
    )
    SELECT * FROM ({_TA_SQL["quality_score"]})
    """


ORACLE_SQL: dict[str, str] = {
    "extract_text": _extract_text_sql(),
    "extraction_report": _extraction_report_sql(),
    "extracted_quality_score": _extracted_quality_sql(),
}
