"""Round-7 registrations: bounded-model LM scoring, raw-web text
normalization, and governance erasure over the stateful sinks.

Imported for its registration side effects by ``queries._load_extensions``;
same parity rules as every other registration module (adjacent DuckDB
oracle, identical aliases, exactmath quantization for transcendental or
accumulation-order-sensitive float work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import retrieval
from .operators.text import widen_narrow_input
from .queries import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Widened at the QUERY layer (operators stay shuffle-free): the
    # single-file fixture otherwise runs this module's heavy per-row
    # regexp/parse work on one task (r5 parallelism-audit discipline);
    # no-op at production scan widths.
    return widen_narrow_input(load_table(spark, sf_dir, "documents"))


BB_BUCKETS = 4096
UB_BUCKETS = 1024


@register(
    "doc_bigram_logprob_hashed",
    f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts)),
                   i -> struct_pack(b := ts[i] || chr(31) || ts[i + 1],
                                    t := ts[i]))) AS u
    FROM toks
),
o2 AS (
    SELECT id,
           CAST('0x' || substr(md5(u.b), 1, 8) AS BIGINT) % {BB_BUCKETS} AS bb,
           CAST('0x' || substr(md5(u.t), 1, 8) AS BIGINT) % {UB_BUCKETS} AS ub
    FROM occ
),
bbm AS (
    SELECT bb, CAST(ROUND(ln(COUNT(*)) * 1000000000) AS BIGINT) AS lnb_nano
    FROM o2 GROUP BY bb
),
ubm AS (
    SELECT ub, CAST(ROUND(ln(COUNT(*)) * 1000000000) AS BIGINT) AS lnu_nano
    FROM o2 GROUP BY ub
)
SELECT id AS doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(lnb_nano - lnu_nano) AS BIGINT) / COUNT(*) / 1e9
           AS mean_logprob
FROM o2 JOIN bbm USING (bb) JOIN ubm USING (ub)
GROUP BY id
""",
    doc="Mean bigram log-probability per doc under a HASHED bucket model "
    f"P(t2|t1) ~ cnt_bb[h(t1,t2) % {BB_BUCKETS}] / cnt_ub[h(t1) % "
    f"{UB_BUCKETS}] — the bounded-model twin of doc_bigram_logprob: the "
    "exact model's stat table grows with vocabulary squared (3.6x at 10x "
    "rows), this one is O(1)-sized and broadcastable at any corpus scale "
    "(DSIR-style feature hashing). Per-bucket nano-grid ln, exact BIGINT "
    "per-doc sums.",
)
def q_doc_bigram_logprob_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.hashed_bigram_logprob_scores(
        _docs(spark, sf_dir),
        n_bigram_buckets=BB_BUCKETS,
        n_unigram_buckets=UB_BUCKETS,
    )


# ---------------------------------------------------------------------------
# Raw-web normalization (html strip, mojibake repair) + composed quality
# ---------------------------------------------------------------------------
#
# The dirty input is synthesized DETERMINISTICALLY from the plain-text
# corpus on BOTH engines (no raw-web crawl in the sandbox); the SQL
# builders below interpolate the very same literal constants the Spark
# noise/clean operators use (operators/text.py), so the two sides cannot
# drift. RE2 (DuckDB) and java.util.regex agree on every construct used:
# inline (?is), non-greedy .*?, \b, character classes, \s.

from .operators import text as _text


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _replace_chain_sql(expr: str, table) -> str:
    for a, b in table:
        expr = f"replace({expr}, {_sq(a)}, {_sq(b)})"
    return expr


def _html_dirty_sql() -> str:
    return (
        f"{_sq(_text.HTML_PAGE_TITLE_PREFIX)} || CAST(doc_id AS VARCHAR)"
        f" || {_sq(_text.HTML_PAGE_HEAD_REST)}"
        " || CASE WHEN doc_id % 3 = 0 THEN replace(text, ' ', '</p><p>')"
        " ELSE text END"
        f" || {_sq(_text.HTML_PAGE_SUFFIX)}"
    )


def _html_clean_sql(expr: str) -> str:
    expr = (
        f"regexp_replace({expr},"
        " '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g')"
    )
    expr = (
        f"regexp_replace({expr},"
        " '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g')"
    )
    expr = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    expr = f"regexp_replace({expr}, '<[^>]+>', ' ', 'g')"
    expr = _replace_chain_sql(expr, _text.HTML_ENTITIES)
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


def _moji_dirty_sql() -> str:
    return (
        f"CASE WHEN doc_id % 2 = 0 THEN {_sq(_text.MOJI_PREFIX_EVEN)}"
        f" ELSE {_sq(_text.MOJI_PREFIX_ODD)} END"
        f" || text || {_sq(_text.MOJI_SUFFIX)}"
    )


def _moji_clean_sql(expr: str) -> str:
    expr = _replace_chain_sql(expr, _text.MOJIBAKE_REPAIRS)
    expr = _replace_chain_sql(expr, _text.PUNCT_FOLDS)
    expr = (
        f"regexp_replace({expr},"
        " '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')"
    )
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


@register(
    "doc_html_to_text",
    f"""
WITH dirty AS (
    SELECT doc_id, {_html_dirty_sql()} AS html FROM documents
)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS n_chars_html,
       CAST(length({_html_clean_sql('html')}) AS BIGINT) AS n_chars_clean,
       {_html_clean_sql('html')} AS text_clean
FROM dirty
""",
    doc="HTML/markup strip + entity decode over deterministically "
    "synthesized dirty pages (script/style/comment blocks dropped whole, "
    "tags to spaces, named+numeric entities decoded with &amp; last so "
    "double-escapes yield literals, whitespace collapsed). Pure "
    "regexp_replace/replace chain — per-row projection, no shuffle, "
    "whole-stage codegen; the raw-web step that runs BEFORE every "
    "quality gate.",
)
def q_doc_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dirty = d.select(
        "doc_id", _text.html_noise("text", "doc_id").alias("html")
    )
    return dirty.select(
        "doc_id",
        F.length("html").cast("long").alias("n_chars_html"),
        F.length(_text.html_to_text("html")).cast("long").alias(
            "n_chars_clean"
        ),
        _text.html_to_text("html").alias("text_clean"),
    )


@register(
    "doc_unicode_normalize",
    f"""
WITH dirty AS (
    SELECT doc_id, {_moji_dirty_sql()} AS raw FROM documents
)
SELECT doc_id,
       CAST(length(raw) AS BIGINT) AS n_chars_raw,
       CAST(length({_moji_clean_sql('raw')}) AS BIGINT) AS n_chars_clean,
       {_moji_clean_sql('raw')} AS text_clean
FROM dirty
""",
    doc="Encoding-damage repair over deterministically synthesized "
    "mojibake (cp1252-decoded UTF-8 undone longest-sequence-first, "
    "curly quotes/dashes/NBSP folded to ASCII, control chars stripped, "
    "whitespace collapsed) — the ftfy/NFC stand-in as a pure "
    "replace/regexp chain with the repair table as the swappable part.",
)
def q_doc_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dirty = d.select(
        "doc_id", _text.mojibake_noise("text", "doc_id").alias("raw")
    )
    return dirty.select(
        "doc_id",
        F.length("raw").cast("long").alias("n_chars_raw"),
        F.length(_text.unicode_repair("raw")).cast("long").alias(
            "n_chars_clean"
        ),
        _text.unicode_repair("raw").alias("text_clean"),
    )


def _quality_after_strip_oracle() -> str:
    from .queries_llm import QUALITY_SQL

    return f"""
WITH dirty AS (
    SELECT doc_id, {_html_dirty_sql()} AS html FROM documents
),
cleaned AS (
    SELECT doc_id, {_html_clean_sql('html')} AS text FROM dirty
)
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       {QUALITY_SQL} AS quality_score
FROM cleaned
"""


@register(
    "doc_quality_after_html_strip",
    _quality_after_strip_oracle(),
    doc="The existing composite quality gate RE-RUN COMPOSED on top of "
    "the html_to_text normalizer (strip first, then score) — the order "
    "a raw-web pipeline actually executes: Gopher/C4-style flags assume "
    "plain text, so markup strip must precede them. Same thresholds as "
    "doc_quality_score (shared QUALITY_SQL constant).",
)
def q_doc_quality_after_html_strip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    cleaned = d.select(
        "doc_id",
        _text.html_to_text(_text.html_noise("text", "doc_id")).alias("text"),
    )
    return _text.quality_score(cleaned)


# ---------------------------------------------------------------------------
# Governance: right-to-erasure propagated into the stateful index sink
# ---------------------------------------------------------------------------

ERASE_MOD = 50


@register(
    "postings_erasure_index",
    f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {ERASE_MOD} <> 0
),
toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM docs2),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
post AS (
    SELECT token, id, COUNT(*) AS tf,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM o2 GROUP BY 1, 2
),
st AS (
    SELECT token, COUNT(*) AS df_docs, CAST(SUM(tf) AS BIGINT) AS cf
    FROM post GROUP BY 1
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs2)
SELECT post.token, post.id AS doc_id, tf, first_pos, last_pos, df_docs, cf,
       CAST(ROUND(ln((n_docs + 1.0) / (df_docs + 1.0)) * 1000000000) AS BIGINT)
           / 1e9 AS idf
FROM post JOIN st ON post.token = st.token, n
""",
    doc="Right-to-erasure PROPAGATED INTO THE POSTINGS SINK: ingest the "
    "corpus as two compacted partials plus one uncompacted one, erase "
    f"doc_id % {ERASE_MOD} == 0 via compaction.postings_erase_ids "
    "(physically rewrites every retained snapshot AND partial — time "
    "travel cannot resurrect erased docs), then serve the index from "
    "the sink. Oracle = the one-shot batch index over the surviving "
    "documents; read-time df/cf/idf derive from the folded postings, so "
    "the statistics reflect the erasure with no stored-stat "
    "invalidation.",
)
def q_postings_erasure_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        compact_postings_sink,
        postings_erase_ids,
        read_postings_sink_with_stats,
        write_postings_partial,
    )

    d = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="erasink_")
    try:
        write_postings_partial(d.where(F.col("doc_id") % 3 == 0), path, 0)
        write_postings_partial(d.where(F.col("doc_id") % 3 == 1), path, 1)
        v = compact_postings_sink(spark, path, retain_snapshots=2)
        write_postings_partial(d.where(F.col("doc_id") % 3 == 2), path, v + 1)
        erase = d.where(F.col("doc_id") % ERASE_MOD == 0).select(
            F.col("doc_id").alias("id")
        )
        postings_erase_ids(spark, path, erase)
        # serve through the stored-stats path: erasure must have REBUILT
        # the snapshot's stats/v=N table (ghost df/cf counts would
        # hash-mismatch the surviving-docs oracle)
        return read_postings_sink_with_stats(spark, path).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# Web/URL step-0 operators (operators/web.py) — crawl-side canonicalize,
# URL-level dedup, blocklist, domain profile. URLs synthesized with the
# shared literals in operators/web.py; the SQL below interpolates the SAME
# constants (one constant, two renderings — the airports-fixture rule).
# ---------------------------------------------------------------------------

from .operators import web as _web

_URL_RE = _web.URL_PARTS_RE  # RE2-safe; identical string on both engines


# IDN fixture literals, built with explicit escapes so the NFC/NFD
# distinction cannot be editor-normalized away; interpolated into both
# the synthesis SQL and the host canonicalization below.
_IDN_NFC = "münchen"  # precomposed ü
_IDN_NFD = "münchen"  # u + combining diaeresis
_IDN_ACE = "xn--mnchen-3ya"
_CAFE_NFC = "/café"  # precomposed é
_CAFE_NFD = "/café"  # e + combining acute


def _url_synth_sql() -> str:
    g = _web.URL_GROUP_DIV
    langs = _web.URL_LANGS
    lang_case = "CASE " + " ".join(
        f"WHEN (doc_id // {g}) % {len(langs)} = {i} THEN '{lg}'"
        for i, lg in enumerate(langs)
    ) + " END"
    return f"""
    (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' ELSE 'https' END)
    || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || (CASE WHEN (doc_id // {g}) % 13 = 7 THEN
            (CASE WHEN doc_id % 3 = 0 THEN '{_IDN_ACE.upper()}'
                  WHEN doc_id % 3 = 1 THEN '{_IDN_NFC}'
                  ELSE '{_IDN_NFD}' END)
        ELSE 'Host' || CAST((doc_id // {g}) % 4 AS VARCHAR) END)
    || '.src' || CAST((doc_id // {g}) % 20 AS VARCHAR) || '.com'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/' || ({lang_case}) || '/'
    || (CASE WHEN doc_id % 11 = 0 THEN 'd%6Fc'
             WHEN doc_id % 11 = 1 THEN 'd%6fc' ELSE 'doc' END)
    || (CASE WHEN (doc_id // {g}) % 17 = 5 THEN
            (CASE WHEN doc_id % 2 = 1 THEN '{_CAFE_NFC}'
                  ELSE '{_CAFE_NFD}' END)
        ELSE '' END)
    || '/' || CAST(doc_id // {g} AS VARCHAR)
    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
    || '?'
    || (CASE WHEN doc_id % 2 = 0
        THEN 'page=' || CAST((doc_id // {g}) % 4 AS VARCHAR)
             || '&q=a%2fb&u=%7ea'
             || '&utm_source=feed&id=' || CAST(doc_id // {g} AS VARCHAR)
             || '&fbclid=zz' || CAST(doc_id % 9 AS VARCHAR)
        ELSE 'id=' || CAST(doc_id // {g} AS VARCHAR)
             || '&page=' || CAST((doc_id // {g}) % 4 AS VARCHAR)
             || '&q=a%2Fb&u=~a' END)
    || (CASE WHEN doc_id % 2 = 0 THEN '#sec1' ELSE '' END)
    """


def _sql_pct_norm(expr: str) -> str:
    """DuckDB rendering of web.normalize_pct_escapes — the identical
    split-on-%% / per-segment nibble-arithmetic normalization (decode
    unreserved escapes, uppercase retained hex, keep malformed escapes
    literal). ascii('')=0 / chr / substr / trailing-empty split all
    behave identically on both engines (probed)."""

    def nib(c: str) -> str:
        a = f"ascii(lower({c}))"
        return (
            f"(CASE WHEN {a} BETWEEN 48 AND 57 THEN {a} - 48"
            f" WHEN {a} BETWEEN 97 AND 102 THEN {a} - 87"
            " ELSE -1 END)"
        )

    n1 = nib("substr(seg, 1, 1)")
    n2 = nib("substr(seg, 2, 1)")
    code = f"({n1} * 16 + {n2})"
    valid = f"(length(seg) >= 2 AND {n1} >= 0 AND {n2} >= 0)"
    unres = (
        f"({code} BETWEEN 48 AND 57 OR {code} BETWEEN 65 AND 90"
        f" OR {code} BETWEEN 97 AND 122 OR {code} IN (45, 46, 95, 126))"
    )
    fix = (
        f"CASE WHEN {valid} AND {unres} THEN chr({code}) || substr(seg, 3)"
        f" WHEN {valid} THEN '%' || upper(substr(seg, 1, 2)) || substr(seg, 3)"
        " ELSE '%' || seg END"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — an escape-free string must pass through
    segs = f"string_split({expr}, '%')"
    return (
        f"({segs}[1] || coalesce(array_to_string(list_transform("
        f"list_slice({segs}, 2, len({segs})), seg -> {fix}), ''), ''))"
    )


def _sql_host(u: str = "url") -> str:
    """Case-fold, strip www./scheme-default port, then IDN-fold: ACE
    labels decode to Unicode and the host composes to NFC. The Spark
    side runs a general RFC 3492 punycode fold (operators/idn.py); the
    oracle's decode is corpus-bounded — the synthesis emits exactly one
    ACE literal, so one replace() renders it (general decode parity is
    pinned by the pure-Python property test, tests/test_round9.py).
    NFC itself is DuckDB's built-in nfc_normalize."""
    h = (
        "regexp_replace("
        f"lower(regexp_extract({u}, '{_URL_RE}', 2)), '^www\\.', '')"
    )
    scheme = f"lower(regexp_extract({u}, '{_URL_RE}', 1))"
    folded = (
        f"(CASE WHEN {scheme} = 'https'"
        f" THEN regexp_replace({h}, ':443$', '')"
        f" WHEN {scheme} = 'http'"
        f" THEN regexp_replace({h}, ':80$', '')"
        f" ELSE {h} END)"
    )
    # the corpus-bounded ACE decode is anchored to WHOLE labels
    # ((^|.)literal(.|$)) so a future host carrying a different xn--
    # label, or this literal as a substring of a longer label, diverges
    # LOUDLY from the Spark side's general RFC 3492 decoder instead of
    # silently matching mid-label
    return (
        f"nfc_normalize(regexp_replace({folded},"
        f" '(^|\\.){_IDN_ACE}(\\.|$)', '\\1{_IDN_NFC}\\2'))"
    )


def _sql_path(u: str = "url") -> str:
    # nfc_normalize mirrors the Spark side's composition fold — the
    # NFD-spelled path segment composes to its precomposed twin
    raw = _sql_pct_norm(f"regexp_extract({u}, '{_URL_RE}', 3)")
    p = f"regexp_replace({raw}, '(.)/$', '\\1')"
    return f"nfc_normalize(CASE WHEN {p} = '' THEN '/' ELSE {p} END)"


def _sql_is_tracking(kv: str = "kv") -> str:
    return "(" + " OR ".join(
        f"starts_with({kv}, '{p}')" for p in _web.TRACKING_PREFIXES
    ) + ")"


def _sql_not_tracking(kv: str = "kv") -> str:
    return f" AND NOT {_sql_is_tracking(kv)}"


def _sql_raw_params(u: str = "url") -> str:
    q = f"regexp_replace(regexp_extract({u}, '{_URL_RE}', 4), '^\\?', '')"
    kvs = f"string_split({q}, '&')"
    # params are percent-normalized BEFORE the tracking filter / sort,
    # mirroring web.canonical_query_params
    return (
        f"list_filter(list_transform({kvs},"
        f" s -> {_sql_pct_norm('s')}), kv -> kv <> '')"
    )


def _sql_canon_params(u: str = "url") -> str:
    return (
        f"list_sort(list_filter({_sql_raw_params(u)},"
        f" kv -> kv <> ''{_sql_not_tracking()}))"
    )


def _sql_canon_url(u: str = "url") -> str:
    qs = f"array_to_string({_sql_canon_params(u)}, '&')"
    return (
        f"lower(regexp_extract({u}, '{_URL_RE}', 1)) || '://' || "
        f"{_sql_host(u)} || {_sql_path(u)} || "
        f"(CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END)"
    )


@register(
    "web_url_canonicalize",
    f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url FROM documents
)
SELECT doc_id, url AS url_raw,
       {_sql_canon_url()} AS url_canon,
       {_sql_host()} AS host,
       regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
           AS registered_domain,
       CAST(len(list_filter(string_split({_sql_path()}, '/'), s -> s <> ''))
            AS BIGINT) AS path_depth,
       CAST(len({_sql_canon_params()}) AS BIGINT) AS n_query_params,
       len(list_filter({_sql_raw_params()},
           kv -> {_sql_is_tracking()})) > 0 AS had_tracking
FROM urls
""",
    doc="URL canonicalization + anatomy over deterministically synthesized "
    "crawl URLs: case-fold scheme/host, strip www./default ports, drop "
    "fragments + tracking params (utm_*/fbclid/gclid), order-normalize "
    "the query string. Pure regexp/array projection — zero shuffle, "
    "whole-stage codegen; the step-0 op of a web-scale corpus.",
)
def q_web_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", _web.synth_url().alias("url"))
    return _web.url_features(urls)


@register(
    "web_url_dedup_keepers",
    f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url FROM documents
),
canon AS (SELECT doc_id, {_sql_canon_url()} AS url_canon FROM urls)
SELECT url_canon, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
FROM canon GROUP BY 1
""",
    doc="Exact URL-level dedup: recrawls and parameter-jittered refetches "
    "of one resource collide on the canonical URL; keeper = smallest "
    "doc_id. The exchange is keyed on md5(url_canon) so shuffle rows are "
    "constant-width regardless of URL length; synthesis guarantees group "
    f"size <= {_web.URL_GROUP_DIV} at any scale factor.",
)
def q_web_url_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", _web.synth_url().alias("url"))
    return _web.url_dedup_keepers(urls)


@register(
    "web_domain_blocklist",
    f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url FROM documents
)
SELECT doc_id,
       regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
           AS registered_domain,
       {_sql_path()} AS path,
       CASE WHEN regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
                 IN ({", ".join("'" + d_ + "'" for d_ in _web.BLOCKED_DOMAINS)})
            THEN 'domain'
            WHEN starts_with({_sql_path()}, '{_web.BLOCKED_PATH_PREFIX}')
            THEN 'path'
            ELSE 'allowed' END AS verdict
FROM urls
""",
    doc="Domain/path blocklist verdicts with reason precedence "
    "domain > path > allowed. Expressed as a literal predicate (the "
    "production swap-in is a broadcast anti-join against a blocklist "
    "table keyed on registered_domain — same extraction, one join).",
)
def q_web_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", _web.synth_url().alias("url"))
    return _web.domain_blocklist_verdicts(urls)


@register(
    "web_domain_stats",
    f"""
WITH urls AS (
    SELECT doc_id, text, {_url_synth_sql()} AS url FROM documents
),
per AS (
    SELECT regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
               AS registered_domain,
           {_sql_host()} AS host,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM urls
),
agg AS (
    SELECT registered_domain, COUNT(*) AS n_docs,
           COUNT(DISTINCT host) AS n_hosts,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM per GROUP BY 1
),
tot AS (SELECT SUM(n_docs) AS total_docs FROM agg)
SELECT registered_domain, n_docs, n_hosts, n_tokens,
       CAST(ROUND(n_docs * 1000000.0 / total_docs) AS BIGINT) AS docs_ppm
FROM agg, tot
""",
    doc="Per-registered-domain corpus profile (doc count, distinct hosts, "
    "token total, exact ppm share) — the table a crawl curator reads "
    "before setting per-domain caps. Domain-grain aggregate plus a "
    "broadcast 1-row total; integer ppm for cross-engine hash parity.",
)
def q_web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", "text", _web.synth_url().alias("url"))
    return _web.domain_stats(urls)


# ---------------------------------------------------------------------------
# Typed PII redaction (rewrite half of pii_scan), hourly gap-fill resample,
# ORC format roundtrip.
# ---------------------------------------------------------------------------


def _pii_dirty_sql() -> str:
    return (
        f"{_sq(_text.PII_NOISE_PREFIX)} || CAST(doc_id AS VARCHAR)"
        f" || {_sq(_text.PII_NOISE_MAIL_HOST)}"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        f" || {_sq(_text.PII_NOISE_AT_IP)}"
        " || CAST(doc_id % 256 AS VARCHAR) || '.'"
        " || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'"
        " || CAST((doc_id * 13) % 256 AS VARCHAR) || '. ' || text"
    )


def _pii_redact_oracle() -> str:
    sql = f"WITH s0 AS (SELECT doc_id, {_pii_dirty_sql()} AS t FROM documents)"
    cols = []
    prev = "s0"
    for i, (pat, mask) in enumerate(_text.PII_MASKS, start=1):
        label = "n_" + mask.strip("<>").lower() + "s"
        carry = ", ".join(cols)
        carry = carry + ", " if carry else ""
        sql += (
            f", s{i} AS (SELECT doc_id, {carry}"
            f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS {label},"
            f" regexp_replace(t, '{pat}', '{mask}', 'g') AS t FROM {prev})"
        )
        cols.append(label)
        prev = f"s{i}"
    return sql + (
        f" SELECT doc_id, {', '.join(cols)}, t AS text_redacted FROM {prev}"
    )


@register(
    "doc_pii_redact",
    _pii_redact_oracle(),
    doc="Typed PII redaction REWRITE (the production half of pii_scan's "
    "audit): sequentially mask emails, +N-555 phones, dotted IPs, then "
    "residual digit runs, counting each type on the text as it stands "
    "when that pattern runs — so an email's digits never double-count "
    "as <NUM>. Injection fixture + patterns are shared literals "
    "(operators/text.py PII_*); every pattern is RE2-safe so Java and "
    "RE2 match identically. Pure per-row regexp chain, zero shuffle.",
)
def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    dirty = d.select(
        "doc_id", _text.pii_noise("text", "doc_id").alias("text")
    )
    return _text.pii_redact(dirty)


GAP_USER_MOD = 19


@register(
    "events_gap_fill_hourly",
    f"""
WITH ev AS (
    SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id,
           CAST(ROUND(value * 1000000) AS BIGINT) AS vmic
    FROM events WHERE user_id % {GAP_USER_MOD} = 0
),
ranked AS (
    SELECT user_id, hr, vmic,
           ROW_NUMBER() OVER (PARTITION BY user_id, hr
                              ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id, hr) AS cnt
    FROM ev
),
hourly AS (
    SELECT user_id, hr, CAST(cnt AS BIGINT) AS n_events, vmic AS last_vmic
    FROM ranked WHERE rn = 1
),
bounds AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM ev GROUP BY 1),
grid AS (
    SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
    FROM bounds
),
j AS (
    SELECT g.user_id, g.hr, h.n_events, h.last_vmic
    FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
),
f AS (
    SELECT *, COUNT(last_vmic) OVER (PARTITION BY user_id ORDER BY hr) AS grp
    FROM j
)
SELECT user_id, hr AS hour_ts,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       MAX(last_vmic) OVER (PARTITION BY user_id, grp) AS level_micro,
       n_events IS NULL AS is_gap
FROM f
""",
    doc="Time-series resample + forward fill: per-user hourly grid from "
    "first to last observation (sequence/explode — the grid is generated "
    "distributed, never collected), left-joined to the per-hour last "
    "event level (max_by over (ts, event_id) — deterministic tiebreak), "
    "then gap hours carry the last known level via the engine-neutral "
    "'running count of non-nulls defines the fill group' trick (no "
    "IGNORE NULLS dependence, identical semantics on both engines). "
    "Level carried as exact micro-units BIGINT. One shuffle keyed by "
    "user; per-user state bounded by the observation span, so the plan "
    "is skew-safe at any user count.",
)
def q_events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .catalog import load_table as _lt

    ev = widen_narrow_input(
        _lt(spark, sf_dir, "events").where(
            F.col("user_id") % GAP_USER_MOD == 0
        )
    )
    base = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    hourly = base.groupBy("user_id", "hr").agg(
        F.count("*").alias("n_events"),
        F.max_by("vmic", F.struct("ts", "event_id")).alias("last_vmic"),
    )
    bounds = base.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    j = grid.join(hourly, ["user_id", "hr"], "left")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f2 = j.withColumn("grp", F.count("last_vmic").over(w_run))
    w_grp = Window.partitionBy("user_id", "grp")
    return f2.select(
        "user_id",
        F.col("hr").alias("hour_ts"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.max("last_vmic").over(w_grp).alias("level_micro"),
        F.col("n_events").isNull().alias("is_gap"),
    )


@register(
    "orc_roundtrip_stats",
    """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
    doc="ORC source/sink roundtrip: project events to stable types, "
    "write spark.write.orc, read back with spark.read.orc, aggregate "
    "from the ORC scan. Oracle is the same aggregate over the original "
    "parquet — hash-equality proves the ORC writer/reader preserved "
    "every row and type bit-for-bit. Columnar-format breadth next to "
    "parquet/json/xml/csv/jdbc; vectorized ORC reader, predicate "
    "pushdown semantics identical to the parquet path.",
)
def q_orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .catalog import load_table as _lt

    ev = widen_narrow_input(
        _lt(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    path = tempfile.mkdtemp(prefix="orcrt_")
    try:
        ev.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("cents"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# Epoch oversampling materializer + CSV permissive-parse audit
# ---------------------------------------------------------------------------

EPOCH_TEMP = 0.7  # same temperature as source_temperature_mix
EPOCH_BUDGET_MULT = 2  # budget = 2x corpus size → epochs ≈ 2, reshaped by T


@register(
    "corpus_epoch_oversample",
    f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS n FROM counts),
shares AS (
    SELECT source, n_docs,
           CAST(ROUND(pow(CAST(n_docs AS DOUBLE) / n, 1.0 / {EPOCH_TEMP})
                      * 1000000000) AS BIGINT) AS share_nano
    FROM counts CROSS JOIN tot
),
norm AS (SELECT SUM(share_nano) AS z, SUM(n_docs) AS n FROM shares),
targets AS (
    SELECT source, n_docs,
           CAST(ROUND({EPOCH_BUDGET_MULT} * n * CAST(share_nano AS DOUBLE) / z)
                AS BIGINT) AS sample_target
    FROM shares CROSS JOIN norm
),
ranked AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
    FROM documents
),
copies AS (
    SELECT r.doc_id, r.source,
           t.sample_target // t.n_docs
           + CASE WHEN r.rn <= t.sample_target % t.n_docs THEN 1 ELSE 0 END
               AS n_copies
    FROM ranked r JOIN targets t ON r.source = t.source
)
SELECT doc_id, source,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
FROM copies WHERE n_copies > 0
""",
    doc="Physical epoch-oversampling materializer: turn temperature-mix "
    "sample targets (p_s ~ share^(1/T), budget = "
    f"{EPOCH_BUDGET_MULT}x corpus) into an EXACT per-source row count "
    "via largest-remainder allocation — every doc gets target DIV n "
    "copies, the first target MOD n docs in deterministic md5 order get "
    "one more, so the materialized epoch hits each source target "
    "exactly (no sampling variance, idempotent across reruns). The "
    "explode generates copies distributed (sequence per row, never a "
    "driver loop); shuffle keys are source (rank) then nothing — at "
    "100 TB the only state is the per-source rank window, and the same "
    "allocation runs per-shard by ranking within (source, shard) and "
    "splitting the remainder by shard size.",
)
def q_corpus_epoch_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n",
        F.round(
            F.pow(F.col("n_docs") / F.col("n"), 1.0 / EPOCH_TEMP)
            * 1_000_000_000
        )
        .cast("long")
        .alias("share_nano"),
    )
    norm = shares.agg(F.sum("share_nano").alias("z"), F.max("n").alias("nn"))
    targets = shares.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        F.round(
            F.lit(EPOCH_BUDGET_MULT)
            * F.col("nn")
            * F.col("share_nano")
            / F.col("z")
        )
        .cast("long")
        .alias("sample_target"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select("doc_id", "source").withColumn(
        "rn", F.row_number().over(w)
    )
    copies = ranked.join(targets, "source").select(
        "doc_id",
        "source",
        (
            (F.col("sample_target") / F.col("n_docs")).cast("long")
            + F.when(
                F.col("rn") <= F.col("sample_target") % F.col("n_docs"), 1
            ).otherwise(0)
        ).alias("n_copies"),
    )
    return copies.where(F.col("n_copies") > 0).select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1).cast("long"), "n_copies")).alias(
            "copy_idx"
        ),
    )


# CSV permissive-parse audit: corruption INJECTED deterministically, so
# the oracle can classify rows by the same mod rules the synthesizer
# uses (short row → prefix parsed + corrupt; non-numeric field → null +
# corrupt; extra field → prefix parsed + corrupt; EMPTY field → null,
# NOT corrupt — the exact PERMISSIVE semantics probed and pinned in
# tests/test_round7b.py).
CSV_SHORT_MOD = 13
CSV_BADNUM_MOD = 17
CSV_EXTRA_MOD = 19


@register(
    "csv_permissive_audit",
    f"""
WITH base AS (
    SELECT event_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           CASE
             WHEN event_id % {CSV_SHORT_MOD} = 0 THEN 'short'
             WHEN event_id % {CSV_BADNUM_MOD} = 0 THEN 'badnum'
             WHEN event_id % {CSV_EXTRA_MOD} = 0 THEN 'extra'
             ELSE 'clean' END AS kind
    FROM events
)
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN kind <> 'clean' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corrupt,
       CAST(SUM(CASE WHEN kind IN ('short', 'badnum') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cents_null,
       CAST(SUM(CASE WHEN kind IN ('short', 'badnum') THEN 0 ELSE cents END)
            AS BIGINT) AS sum_cents
FROM base GROUP BY 1
""",
    doc="Malformed-record audit through the real CSV parser: synthesize "
    "one CSV line per event (deterministically corrupted: every "
    f"{CSV_SHORT_MOD}th id loses its trailing field, every "
    f"{CSV_BADNUM_MOD}th gets a non-numeric amount, every "
    f"{CSV_EXTRA_MOD}th an extra column), parse with from_csv in "
    "PERMISSIVE mode + columnNameOfCorruptRecord, and aggregate "
    "good/corrupt/null-field counts per event type FROM THE PARSER "
    "OUTPUT. The oracle classifies by the injection rules — "
    "hash-equality proves the parser's permissive semantics match the "
    "documented contract (short/badnum/extra → corrupt captured, "
    "prefix fields still parsed; sums exclude unparseable amounts). "
    "The quarantine path a 100 TB ingest runs on every raw feed.",
)
def q_csv_permissive_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import load_table as _lt

    ev = widen_narrow_input(
        _lt(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    eid = F.col("event_id")
    line = (
        F.when(
            eid % CSV_SHORT_MOD == 0,
            F.concat_ws(",", eid.cast("string"), "event_type"),
        )
        .when(
            eid % CSV_BADNUM_MOD == 0,
            F.concat_ws(
                ",",
                eid.cast("string"),
                F.col("event_type"),
                F.concat(F.lit("x"), F.col("cents").cast("string")),
            ),
        )
        .when(
            eid % CSV_EXTRA_MOD == 0,
            F.concat_ws(
                ",",
                eid.cast("string"),
                F.col("event_type"),
                F.col("cents").cast("string"),
                F.lit("9"),
            ),
        )
        .otherwise(
            F.concat_ws(
                ",", eid.cast("string"), "event_type",
                F.col("cents").cast("string"),
            )
        )
    )
    schema = "event_id bigint, event_type string, cents bigint, _corrupt string"
    parsed = ev.select(line.alias("line")).select(
        F.from_csv(
            "line",
            F.lit(schema),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("p")
    )
    return (
        parsed.select("p.*")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)
            ).alias("n_corrupt"),
            F.sum(F.when(F.col("cents").isNull(), 1).otherwise(0)).alias(
                "n_cents_null"
            ),
            F.sum(F.coalesce("cents", F.lit(0))).alias("sum_cents"),
        )
    )


@register(
    "events_interpolate_hourly",
    f"""
WITH ev AS (
    SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id,
           CAST(ROUND(value * 1000000) AS BIGINT) AS vmic
    FROM events WHERE user_id % {GAP_USER_MOD} = 0
),
ranked AS (
    SELECT user_id, hr, vmic,
           ROW_NUMBER() OVER (PARTITION BY user_id, hr
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
),
hourly AS (
    SELECT user_id, hr, vmic AS last_vmic FROM ranked WHERE rn = 1
),
bounds AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM ev GROUP BY 1),
grid AS (
    SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
    FROM bounds
),
j AS (
    SELECT g.user_id, g.hr, h.last_vmic
    FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
),
f AS (
    SELECT *,
           COUNT(last_vmic) OVER (PARTITION BY user_id ORDER BY hr) AS lg,
           COUNT(last_vmic) OVER (PARTITION BY user_id ORDER BY hr DESC)
               AS rg
    FROM j
),
anch AS (
    SELECT user_id, hr, last_vmic,
           MAX(last_vmic) OVER (PARTITION BY user_id, lg) AS lv,
           MIN(hr) OVER (PARTITION BY user_id, lg) AS lhr,
           MAX(last_vmic) OVER (PARTITION BY user_id, rg) AS rv,
           MAX(hr) OVER (PARTITION BY user_id, rg) AS rhr
    FROM f
)
SELECT user_id, hr AS hour_ts,
       last_vmic IS NULL AS interpolated,
       CASE
         WHEN last_vmic IS NOT NULL THEN last_vmic
         WHEN rv IS NULL THEN lv
         ELSE lv + CAST(ROUND(
              (rv - lv) * ((epoch(hr) - epoch(lhr)) / 3600.0)
              / ((epoch(rhr) - epoch(lhr)) / 3600.0)) AS BIGINT)
       END AS level_micro
FROM anch
""",
    doc="Linear-interpolation resample (the interpolating twin of "
    "events_gap_fill_hourly): gap hours take the value linearly "
    "interpolated between the bracketing observations; trailing gaps "
    "hold the last level (no right anchor). Left/right anchors come "
    "from the same running-non-null-count trick run in BOTH directions "
    "— two window passes over one user-keyed exchange, engine-neutral. "
    "Arithmetic is exact-integer micro-units with one correctly-rounded "
    "double division shared by both engines (identical operand order, "
    "identical IEEE semantics), so parity is bit-stable.",
)
def q_events_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .catalog import load_table as _lt

    ev = widen_narrow_input(
        _lt(spark, sf_dir, "events").where(
            F.col("user_id") % GAP_USER_MOD == 0
        )
    )
    base = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    hourly = base.groupBy("user_id", "hr").agg(
        F.max_by("vmic", F.struct("ts", "event_id")).alias("last_vmic")
    )
    bounds = base.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    j = grid.join(hourly, ["user_id", "hr"], "left")
    asc = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    desc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("hr"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f2 = j.withColumn("lg", F.count("last_vmic").over(asc)).withColumn(
        "rg", F.count("last_vmic").over(desc)
    )
    wl = Window.partitionBy("user_id", "lg")
    wr = Window.partitionBy("user_id", "rg")
    anch = f2.select(
        "user_id",
        "hr",
        "last_vmic",
        F.max("last_vmic").over(wl).alias("lv"),
        F.min("hr").over(wl).alias("lhr"),
        F.max("last_vmic").over(wr).alias("rv"),
        F.max("hr").over(wr).alias("rhr"),
    )
    k = (F.unix_timestamp("hr") - F.unix_timestamp("lhr")) / 3600.0
    span = (F.unix_timestamp("rhr") - F.unix_timestamp("lhr")) / 3600.0
    interp = (
        F.col("lv")
        + F.round((F.col("rv") - F.col("lv")) * k / span).cast("long")
    )
    return anch.select(
        "user_id",
        F.col("hr").alias("hour_ts"),
        F.col("last_vmic").isNull().alias("interpolated"),
        F.when(F.col("last_vmic").isNotNull(), F.col("last_vmic"))
        .when(F.col("rv").isNull(), F.col("lv"))
        .otherwise(interp)
        .alias("level_micro"),
    )


# ---------------------------------------------------------------------------
# Bloom-pre-filtered decontamination: the at-scale gate pattern, with the
# false-positive cost quantified per document.
# ---------------------------------------------------------------------------

# Deliberately sized so the false-positive column is non-trivially
# exercised at the gate's sf0.01 corpus (measured: 9 FPs at 2^15 bits vs
# 0 at 2^18 for ~24k probed grams) — production picks m from the target
# FP budget; the audit columns are how you check the choice.
BLOOM_M_BITS = 1 << 15
BLOOM_N = 8  # same gram width as ngram_overlap_contamination


def _bloom_oracle() -> str:
    from .fixtures import DOCUMENTS_WITH_DUPS_ORACLE_CTE

    n, m, w = BLOOM_N, BLOOM_M_BITS, 32
    gram_list = (
        f"list_distinct(list_transform("
        f"range(len(string_split(text, ' ')) - {n - 1}),"
        f" i -> array_to_string(string_split(text, ' ')[i + 1:i + {n}], ' ')))"
    )
    h1 = "CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)"
    h2 = "CAST('0x' || substr(md5(g), 9, 8) AS BIGINT)"
    return f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE},
tg AS (
    SELECT doc_id AS id, unnest({gram_list}) AS g
    FROM docs_dup
    WHERE doc_id < 1000000 AND len(string_split(text, ' ')) >= {n}
),
bgd AS (
    SELECT DISTINCT unnest({gram_list}) AS g
    FROM docs_dup
    WHERE doc_id >= 1000000 AND len(string_split(text, ' ')) >= {n}
),
bpos AS (
    SELECT DISTINCT p // {w} AS wd, p % {w} AS b
    FROM (SELECT unnest([{h1} % {m}, ({h1} + {h2}) % {m}]) AS p FROM bgd)
),
bloom AS (
    SELECT wd, CAST(bit_or(CAST(1 AS BIGINT) << CAST(b AS INTEGER)) AS BIGINT)
               AS bits
    FROM bpos GROUP BY wd
),
tp AS (
    SELECT id, g, unnest([{h1} % {m}, ({h1} + {h2}) % {m}]) AS p FROM tg
),
tpl AS (SELECT id, g, p // {w} AS wd, p % {w} AS b FROM tp),
per_gram AS (
    SELECT id, g,
           bool_and(COALESCE(
               (bits & (CAST(1 AS BIGINT) << CAST(b AS INTEGER))) <> 0,
               FALSE)) AS bloom_pass
    FROM tpl LEFT JOIN bloom USING (wd)
    GROUP BY id, g
),
flagged AS (
    SELECT id, bloom_pass, e.g IS NOT NULL AS is_exact
    FROM per_gram LEFT JOIN (SELECT g FROM bgd) e USING (g)
)
SELECT id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_hits,
       CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_hits,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_exact THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM flagged GROUP BY id
"""


@register(
    "bloom_contamination_gate",
    _bloom_oracle(),
    doc=f"Bloom-pre-filtered {BLOOM_N}-gram decontamination — the at-scale "
    "form of ngram_overlap_contamination: benchmark grams fold into a "
    f"{BLOOM_M_BITS}-bit filter (k=2 double-hashed md5 positions, 32-bit "
    "words so masks stay positive int64 cross-engine); training grams "
    "probe the broadcast-sized (word, bits) table map-side BEFORE any "
    "equality join. Output quantifies the filter per doc: gram count, "
    "bloom hits, exact hits, and measured false positives — "
    "deterministic (no RNG), so the m/k trade is auditable, and at "
    "100 TB the exact join runs only on the bloom-positive survivor "
    "set.",
)
def q_bloom_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import documents_with_dups
    from .operators import dedup as _dedup

    corpus = widen_narrow_input(documents_with_dups(spark, sf_dir))
    return _dedup.bloom_contamination(
        corpus.where(F.col("doc_id") < 1_000_000),
        corpus.where(F.col("doc_id") >= 1_000_000),
        n=BLOOM_N,
        m_bits=BLOOM_M_BITS,
    )


# ---------------------------------------------------------------------------
# Sequence-pattern matching over sessions (MATCH_RECOGNIZE / CEP stand-in)
# ---------------------------------------------------------------------------

SEQ_GAP_S = 86400  # daily sessions: the fixture averages ~2 events/user/day
SEQ_PATTERN = "v[^p]*c[^p]*p"  # view -> click -> purchase, no purchase between


@register(
    "events_session_patterns",
    f"""
WITH e AS (
    SELECT user_id, ts, event_id, epoch_us(ts) AS us,
           substr(event_type, 1, 1) AS ini
    FROM events
),
f AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > {SEQ_GAP_S * 1_000_000}
                   THEN 1 ELSE 0 END AS ns
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS session_id
    FROM f
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       string_agg(ini, '' ORDER BY us, event_id) AS seq,
       CAST(len(regexp_extract_all(
                string_agg(ini, '' ORDER BY us, event_id),
                '{SEQ_PATTERN}')) AS BIGINT) AS n_conversions
FROM s GROUP BY user_id, session_id
""",
    doc="Sequence-pattern matching over gap-sessionized event streams — "
    "the MATCH_RECOGNIZE/CEP stand-in: each session rendered as an "
    f"initials string (ordered by (ts, event_id) — deterministic under "
    f"timestamp ties), '{SEQ_PATTERN}' conversions counted as "
    "non-overlapping RE2-safe regex matches. The order-sensitive "
    "aggregation carries its sort key inside the collected struct "
    "(array_sort(collect_list(struct))), so the sequence is "
    "partition-layout independent; one user-keyed shuffle shared by "
    "the session windows and the rollup.",
)
def q_events_session_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessions import session_event_sequences

    ev = widen_narrow_input(load_table(spark, sf_dir, "events"))
    return session_event_sequences(
        ev, gap_seconds=SEQ_GAP_S, pattern=SEQ_PATTERN
    )


@register(
    "multimodal_arrow_zero_copy_stats",
    """
WITH p AS (
    SELECT doc_id, encode(text) AS b FROM documents
    WHERE octet_length(encode(text)) > 0
),
g AS (
    SELECT doc_id, hex(b) AS hx, octet_length(b) AS n,
           unnest(range(octet_length(b))) AS k
    FROM p
),
v AS (
    SELECT doc_id, n,
           (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+1 AS INTEGER), 1))
            - 1) * 16
         + (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+2 AS INTEGER), 1))
            - 1) AS byte
    FROM g
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
       CAST(SUM(byte) AS BIGINT) AS byte_sum,
       CAST(SUM(CASE WHEN byte = 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_space
FROM v GROUP BY doc_id, n
""",
    doc="Zero-copy Arrow byte statistics via mapInArrow — the "
    "RecordBatch-level member of the Python-execution matrix: the "
    "batch's payload region is read in place from the Arrow value "
    "buffer (np.frombuffer, no per-row bytes objects) and per-row "
    "sums come from one vectorized np.add.reduceat over the offsets "
    "buffer — Python cost O(batches), not O(rows). The oracle "
    "re-derives every byte positionally from the hex dump, putting "
    "the zero-copy path under the same positional-checksum gate as "
    "the PNG codec.",
)
def q_multimodal_arrow_zero_copy_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import multimodal as _mm

    payloads = widen_narrow_input(
        _mm.with_binary_payload(_docs(spark, sf_dir)).where(
            F.length("payload") > 0
        )
    )
    return _mm.arrow_zero_copy_byte_stats(payloads)
