"""Round-4 query registrations: retrieval scoring (BM25, unigram-LM),
prefix-filtered exact similarity join, directed containment dedup,
weighted PageRank, market-basket lift, Markov transition matrix.

Imported for its registration side effects by ``queries.py``; every
entry keeps the repo's parity rules — adjacent DuckDB oracle, identical
column aliases, deterministic math (exact-int arithmetic up to a single
final float division wherever possible, ln/avg only over doubles both
engines compute identically within the 1e-9 gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import load_table
from .fixtures import DOCUMENTS_WITH_DUPS_ORACLE_CTE, documents_with_dups
from .operators import dedup, graph, retrieval
from .queries import register

BM25_QUERY_TERMS = ["vector", "stream", "window"]


# ------------------------------------------------------------ retrieval ----


@register(
    "bm25_score_docs",
    """
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT id, token, COUNT(*) AS tf FROM occ
    WHERE token IN ('vector', 'stream', 'window')
    GROUP BY id, token
),
dl AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
idf AS (
    SELECT token, ln(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5)) AS idf
    FROM dfreq CROSS JOIN stats
),
per AS (
    SELECT tf.id,
           CAST(ROUND(idf.idf * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             * 1000000000) AS BIGINT) AS w_nano
    FROM tf JOIN idf USING (token) JOIN dl ON tf.id = dl.id CROSS JOIN stats
)
SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
       CAST(SUM(w_nano) AS BIGINT) / 1e9 AS bm25
FROM per GROUP BY id
""",
    doc="Okapi BM25 relevance score per document for a fixed query-term "
    "set, computed as join+agg over term statistics (no index service, "
    "no UDF); the idf table is query-term-sized (bounded by the query, "
    "not the vocabulary), which is what makes its broadcast legitimate. "
    "Weights quantized to the 1e-9 exactmath grid before the BIGINT sum.",
)
def q_bm25_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.bm25_scores(
        load_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS
    )


@register(
    "doc_unigram_logprob",
    """
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
model AS (SELECT token, COUNT(*) AS cnt FROM occ GROUP BY token),
total AS (SELECT SUM(cnt) AS total FROM model),
lp AS (SELECT token,
              CAST(ROUND(ln(cnt / total) * 1000000000) AS BIGINT) AS lp_nano
       FROM model CROSS JOIN total)
SELECT id AS doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(lp_nano) AS BIGINT) / COUNT(*) / 1e9 AS mean_logprob
FROM occ JOIN lp USING (token) GROUP BY id
""",
    doc="Mean unigram log-probability per document under the corpus-MLE "
    "unigram model — the KenLM-lite fluency/outlier quality proxy "
    "(CCNet-style plumbing); model build + scoring are one shuffle each.",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.unigram_logprob_scores(load_table(spark, sf_dir, "documents"))


# --------------------------------------------- prefix-filter / containment ----


def _hashed_docs_dup_ctes() -> str:
    """docs_dup → per-doc hashed 3-gram shingle sets, the same int64
    construction ``_minhash_ctes`` uses (one md5 per word, Horner
    polynomial per shingle) — shared by the prefix-join oracle."""
    p, bb = dedup.MINHASH_P, dedup.SHINGLE_B
    return f"""{DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {p}) AS wh
    FROM docs_dup
    WHERE len(string_split(text, ' ')) >= 3
),
hashed AS (
    SELECT id, list_distinct(list_transform(
        range(len(wh) - 2),
        i -> (((wh[i + 1] * {bb} + wh[i + 2]) % {p}) * {bb} + wh[i + 3]) % {p})) AS xs
    FROM wordhashed
)"""


@register(
    "jaccard_prefix_pairs",
    f"""
WITH {_hashed_docs_dup_ctes()},
toks AS (SELECT id, unnest(xs) AS token FROM hashed),
sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
inter AS (
    SELECT l.id AS id_a, r.id AS id_b, COUNT(*) AS n_common
    FROM toks l JOIN toks r ON l.token = r.token AND l.id < r.id
    GROUP BY l.id, r.id
)
SELECT i.id_a, i.id_b,
       i.n_common / (sa.sz + sb.sz - i.n_common) AS jacc
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE i.n_common / (sa.sz + sb.sz - i.n_common) >= 0.5
""",
    doc="Exact shingle-set Jaccard pairs via PREFIX FILTERING (AllPairs/"
    "PPJoin): only each doc's globally-rarest tokens enter the inverted "
    "index, no blocking column needed; the filter is lossless, so the "
    "oracle is the plain exact all-pairs form.",
)
def q_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_prefix_pairs(
        documents_with_dups(spark, sf_dir), threshold=0.5
    )


@register(
    "ngram_containment_pairs",
    f"""
WITH {DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT source AS blk, doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                    % {dedup.MINHASH_P}) AS wh
    FROM docs_dup
),
toks AS (
    SELECT blk, id,
           unnest(list_distinct(list_transform(
               range(len(wh) - 2),
               i -> (((wh[i + 1] * {dedup.SHINGLE_B} + wh[i + 2])
                      % {dedup.MINHASH_P}) * {dedup.SHINGLE_B} + wh[i + 3])
                    % {dedup.MINHASH_P}))) AS token
    FROM wordhashed
),
sizes AS (SELECT blk, id, COUNT(*) AS sz FROM toks GROUP BY blk, id),
inter AS (
    SELECT l.blk AS blk, l.id AS id_a, r.id AS id_b, COUNT(*) AS n_common
    FROM toks l JOIN toks r
      ON l.blk = r.blk AND l.token = r.token AND l.id < r.id
    GROUP BY l.blk, l.id, r.id
),
pair_sides AS (
    SELECT i.id_a, i.id_b, i.n_common,
           sa.sz AS sz_a, sb.sz AS sz_b
    FROM inter i
    JOIN sizes sa ON i.blk = sa.blk AND i.id_a = sa.id
    JOIN sizes sb ON i.blk = sb.blk AND i.id_b = sb.id
)
SELECT id_a AS id_sub, id_b AS id_super, n_common / sz_a AS containment
FROM pair_sides WHERE n_common / sz_a >= 0.8
UNION ALL
SELECT id_b AS id_sub, id_a AS id_super, n_common / sz_b AS containment
FROM pair_sides WHERE n_common / sz_b >= 0.8
""",
    doc="Directed shingle-set containment pairs |sub∩super|/|sub| >= 0.8 "
    "— the asymmetric near-dup relation (short doc quoted inside a long "
    "one) Jaccard misses; one intersection per unordered pair, both "
    "directions are projections.",
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_containment_pairs(
        documents_with_dups(spark, sf_dir), threshold=0.8
    )


# ------------------------------------------------------------- pagerank ----


def _pagerank_oracle(iters: int = 3, d: float = 0.85) -> str:
    """CTE chain replaying graph.pagerank round-for-round."""
    head = """
WITH trans_raw AS (
    SELECT event_type AS src,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
),
edges AS (
    SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
    FROM trans_raw WHERE dst IS NOT NULL GROUP BY src, dst
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outw AS (SELECT src AS node, SUM(w) AS out_w FROM edges GROUP BY src),
trans AS (
    SELECT e.src, e.dst, e.w / o.out_w AS p
    FROM edges e JOIN outw o ON e.src = o.node
),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    # Parity rule mirrored from graph.pagerank: the two order-dependent
    # float SUMs per round are accumulated as BIGINT on a RELATIVE grid
    # (scale = 1e9 * N, each term rounded first); every other operation
    # is a fixed-association scalar expression — bitwise equal across
    # engines. The scale is the same IEEE double product on both sides.
    sc = "(1000000000.0 * (SELECT n FROM nn))"
    rounds = []
    for i in range(iters):
        rounds.append(f"""
d{i} AS (
    SELECT COALESCE(CAST(SUM(CAST(ROUND(rank * {sc}) AS BIGINT)) AS BIGINT),
                    0) AS dang_q
    FROM r{i} WHERE node NOT IN (SELECT node FROM outw)
),
i{i} AS (
    SELECT t.dst AS node,
           CAST(SUM(CAST(ROUND(r.rank * t.p * {sc}) AS BIGINT)) AS BIGINT)
               AS inc_q
    FROM trans t JOIN r{i} r ON t.src = r.node GROUP BY t.dst
),
r{i + 1} AS (
    SELECT n.node,
           (1 - {d}) / (SELECT n FROM nn)
           + {d} * (COALESCE(i.inc_q, 0) / {sc}
                    + (SELECT dang_q FROM d{i}) / {sc}
                      / (SELECT n FROM nn)) AS rank
    FROM nodes n LEFT JOIN i{i} i ON n.node = i.node
)""")
    return head + "," + ",".join(rounds) + f"\nSELECT node, rank FROM r{iters}"


@register(
    "event_type_pagerank",
    _pagerank_oracle(3, 0.85),
    doc="Weighted PageRank (3 fixed power iterations, d=0.85, dangling "
    "mass redistributed) over the event-type transition graph built from "
    "per-user consecutive events; each round is one join+agg shuffle and "
    "the rank vector stays distributed — the oracle replays the exact "
    "iteration CTE-for-CTE.",
)
def q_event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )
    return graph.pagerank(edges, iters=3, damping=0.85)


# ------------------------------------------------------- market basket ----


@register(
    "parts_basket_lift",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS co_cnt
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
),
pc AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY l_partkey),
no AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li)
SELECT part_a, part_b, co_cnt,
       co_cnt * n_orders / (ca.cnt * cb.cnt) AS lift
FROM pairs
JOIN pc ca ON part_a = ca.l_partkey
JOIN pc cb ON part_b = cb.l_partkey
CROSS JOIN no
WHERE co_cnt >= 2
""",
    doc="Market-basket part-pair association: co-occurrence counts and "
    "lift over orders. Per-order pair expansion is quadratic only in "
    "order line count (bounded ~7 in TPC-H); one shuffle on orderkey, "
    "exact-int arithmetic up to the single lift division.",
)
def q_parts_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("co_cnt"))
        .where(F.col("co_cnt") >= 2)
    )
    pc = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    no = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    ca, cb = pc.alias("ca"), pc.alias("cb")
    return (
        pairs.join(F.broadcast(ca), F.col("part_a") == F.col("ca.l_partkey"))
        .join(F.broadcast(cb), F.col("part_b") == F.col("cb.l_partkey"))
        .crossJoin(F.broadcast(no))
        .select(
            "part_a",
            "part_b",
            "co_cnt",
            (
                F.col("co_cnt") * F.col("n_orders")
                / (F.col("ca.cnt") * F.col("cb.cnt"))
            ).alias("lift"),
        )
    )


# -------------------------------------------------- markov transitions ----


@register(
    "events_markov_transitions",
    """
WITH t AS (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
    FROM events
),
c AS (
    SELECT from_type, to_type, COUNT(*) AS n_trans
    FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_trans,
       n_trans / SUM(n_trans) OVER (PARTITION BY from_type) AS prob
FROM c
""",
    doc="First-order Markov transition matrix of per-user event-type "
    "sequences: counts + row-normalized probabilities; one window pass "
    "+ one (from,to) aggregate, output is event-type² sized.",
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    wn = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n_trans",
        (F.col("n_trans") / F.sum("n_trans").over(wn)).alias("prob"),
    )


# ---------------------------------------------------- weighted sampling ----


@register(
    "doc_weighted_sample",
    """
WITH keyed AS (
    SELECT doc_id, n_chars,
           ROUND(ln((CAST('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)),
                          1, 13)
                AS BIGINT) + 1) / 4503599627370497) / n_chars
                 * 1000000000) / 1e9 AS samp_key
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, samp_key
FROM keyed ORDER BY samp_key DESC, doc_id LIMIT 200
""",
    doc="Deterministic weighted sampling without replacement "
    "(Efraimidis-Spirakis A-ES): key = ln(u)/w with u a md5-derived "
    "uniform, take the top-k keys — weight-proportional inclusion with "
    "NO random state, reproducible across engines and retries; top-k "
    "plans as TakeOrderedAndProject, never a global sort.",
)
def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    # 13 md5 hex chars = 52 bits: exact in a double, u in (0, 1)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1
    ) / F.lit(float(2**52 + 1))
    # Parity rule (exactmath): ln() can differ cross-engine in the last
    # ulp, and the key both ORDERS the top-k cut and appears in the
    # output — quantize it to a 1e-9 grid so selection boundary and
    # emitted cells are engine-exact (ties broken by doc_id).
    keyed = d.select(
        "doc_id",
        "n_chars",
        (
            F.round(F.log(u) / F.col("n_chars") * 1_000_000_000) / F.lit(1e9)
        ).alias("samp_key"),
    )
    return keyed.orderBy(F.col("samp_key").desc(), "doc_id").limit(200)


# ------------------------------------------------- quality percentiles ----


@register(
    "doc_quality_percentile_by_lang",
    """
WITH feat AS (
    SELECT doc_id, lang,
           len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' ')) AS uniq_ratio
    FROM documents
)
SELECT doc_id, lang, uniq_ratio,
       PERCENT_RANK() OVER (PARTITION BY lang ORDER BY uniq_ratio, doc_id) AS pr,
       NTILE(10) OVER (PARTITION BY lang ORDER BY uniq_ratio, doc_id) AS decile
FROM feat
""",
    doc="Per-language quality percentile and decile of lexical "
    "diversity — the rank-normalization step a curation pipeline uses "
    "to apply one quality bar across languages with different score "
    "distributions; doc_id tie-break makes ranks a pure function of "
    "the data.",
)
def q_doc_quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import token_count, unique_token_count

    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        "lang",
        (unique_token_count("text") / token_count("text")).alias("uniq_ratio"),
    )
    w = Window.partitionBy("lang").orderBy("uniq_ratio", "doc_id")
    return feat.select(
        "doc_id",
        "lang",
        "uniq_ratio",
        F.percent_rank().over(w).alias("pr"),
        F.ntile(10).over(w).alias("decile"),
    )


# -------------------------------------------------------- novelty score ----


@register(
    "doc_novelty_score",
    f"""
WITH wordhashed AS (
    SELECT doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                    % {dedup.MINHASH_P}) AS wh
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3
),
hashed AS (
    SELECT id, list_distinct(list_transform(
        range(len(wh) - 2),
        i -> (((wh[i + 1] * {dedup.SHINGLE_B} + wh[i + 2])
               % {dedup.MINHASH_P}) * {dedup.SHINGLE_B} + wh[i + 3])
             % {dedup.MINHASH_P})) AS xs
    FROM wordhashed
),
toks AS (SELECT id, unnest(xs) AS token FROM hashed),
dfreq AS (SELECT token, COUNT(*) AS dfreq FROM toks GROUP BY token)
SELECT t.id AS doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN d.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       SUM(CASE WHEN d.dfreq = 1 THEN 1 ELSE 0 END) / COUNT(*) AS novelty
FROM toks t JOIN dfreq d ON t.token = d.token
GROUP BY t.id
""",
    doc="Shingle novelty per document: share of its 3-gram shingles that "
    "appear NOWHERE else in the corpus (global df = 1) — high novelty "
    "marks unique content worth keeping, low novelty marks boilerplate; "
    "one explode shuffle + a vocabulary-keyed join, same cost shape as "
    "the dedup inverted index it can share.",
)
def q_doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import widen_narrow_input

    d = widen_narrow_input(load_table(spark, sf_dir, "documents"))
    base = d.select(
        F.col("doc_id").alias("id"),
        dedup.hashed_shingles("text", 3).alias("xs"),
    ).where(F.size("xs") > 0)
    toks = base.select("id", F.explode("xs").alias("token"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("dfreq"))
    return (
        toks.join(dfreq, "token")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("dfreq") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
            (
                F.sum(F.when(F.col("dfreq") == 1, 1).otherwise(0))
                / F.count("*")
            ).alias("novelty"),
        )
    )


# ------------------------------------------------- feature correlation ----

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    means = ", ".join(f"AVG({c}) AS m_{c}" for c in _CORR_COLS)
    sums = []
    for i, a in enumerate(_CORR_COLS):
        sums.append(f"SUM(({a} - m.m_{a}) * ({a} - m.m_{a})) AS ss_{a}")
        for b2 in _CORR_COLS[i + 1:]:
            sums.append(f"SUM(({a} - m.m_{a}) * ({b2} - m.m_{b2})) AS sp_{a}_{b2}")
    pairs = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b2}' AS col_b, "
        f"sp_{a}_{b2} / NULLIF(sqrt(ss_{a} * ss_{b2}), 0) AS corr FROM cov"
        for i, a in enumerate(_CORR_COLS)
        for b2 in _CORR_COLS[i + 1:]
    )
    return f"""
WITH m AS (SELECT {means} FROM lineitem),
cov AS (SELECT {', '.join(sums)} FROM lineitem CROSS JOIN m)
{pairs}
"""


@register(
    "lineitem_feature_corr",
    _corr_oracle(),
    doc="Pairwise Pearson correlation matrix over lineitem numeric "
    "features, two-pass centered form (mean pass + centered-product "
    "pass) — avoids the catastrophic cancellation of the single-pass "
    "n*Sxy - Sx*Sy identity, so both engines agree to float precision; "
    "all 10 centered sums come out of ONE aggregate over the fact scan.",
)
def q_lineitem_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        *[F.col(c).cast("double").alias(c) for c in _CORR_COLS]
    )
    means = li.agg(
        *[F.avg(c).alias(f"m_{c}") for c in _CORR_COLS]
    )
    aggs = []
    for i, a in enumerate(_CORR_COLS):
        aggs.append(
            F.sum((F.col(a) - F.col(f"m_{a}")) * (F.col(a) - F.col(f"m_{a}"))).alias(
                f"ss_{a}"
            )
        )
        for b2 in _CORR_COLS[i + 1:]:
            aggs.append(
                F.sum(
                    (F.col(a) - F.col(f"m_{a}")) * (F.col(b2) - F.col(f"m_{b2}"))
                ).alias(f"sp_{a}_{b2}")
            )
    cov = li.crossJoin(F.broadcast(means)).agg(*aggs)
    # long-form (col_a, col_b, corr) from the single cov row: a union of
    # 6 one-row projections over the same (reused) aggregate subtree
    from functools import reduce

    parts = [
        cov.select(
            F.lit(a).alias("col_a"),
            F.lit(b2).alias("col_b"),
            # zero-variance column → NULL (not a DIVIDE_BY_ZERO under
            # ANSI mode, not an engine-dependent inf/NaN)
            F.try_divide(
                F.col(f"sp_{a}_{b2}"),
                F.nullif(
                    F.sqrt(F.col(f"ss_{a}") * F.col(f"ss_{b2}")), F.lit(0.0)
                ),
            ).alias("corr"),
        )
        for i, a in enumerate(_CORR_COLS)
        for b2 in _CORR_COLS[i + 1:]
    ]
    return reduce(lambda x, y: x.unionByName(y), parts)


# ---------------------------------------------------- seasonal decompose ----


@register(
    "events_seasonal_decompose",
    """
WITH daily AS (
    -- CAST: DuckDB's date_trunc('day') yields DATE while Spark's yields
    -- a timestamp; the explicit TIMESTAMP makes raw cells AND the
    -- pandas-canonicalized (datetime64) forms agree on both engines
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
)
SELECT day, n_events,
       AVG(n_events) OVER (
           ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
       n_events - AVG(n_events) OVER (
           ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS residual
FROM daily
""",
    doc="Classical decomposition of the daily event count: 7-day centered "
    "moving-average trend + residual. The windowed pass runs over the "
    "DAY-grain aggregate (365 rows/year however big the fact table), so "
    "the single-partition ordered window is a non-issue at any scale — "
    "the heavy lifting is the day groupBy, which shuffles once.",
)
def q_events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # date_trunc, NOT cast-to-date: a DATE column surfaces as python date
    # objects under toPandas while DuckDB dates land as datetime64 — the
    # driver's dtype-sensitive hash sees different cells even though the
    # days are equal. Truncated timestamps materialize as datetime64[us]
    # on both engines.
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").alias("n_events")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    return daily.select(
        "day",
        "n_events",
        F.avg("n_events").over(w).alias("trend"),
        (F.col("n_events") - F.avg("n_events").over(w)).alias("residual"),
    )


# ------------------------------------------------------------ CDC merge ----


@register(
    "orders_cdc_merge",
    """
WITH base AS (
    SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS seq FROM orders
),
upd AS (
    SELECT DISTINCT o.o_orderkey, 'R' AS o_orderstatus, 'U' AS op, 1 AS seq
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_returnflag = 'R'
),
del AS (
    SELECT o_orderkey, o_orderstatus, 'D' AS op, 2 AS seq
    FROM orders WHERE o_orderkey % 1000 = 0
),
merged AS (
    SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
),
latest AS (
    SELECT * FROM merged
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) = 1
)
SELECT o_orderkey, o_orderstatus FROM latest WHERE op != 'D'
""",
    doc="Lakehouse MERGE / CDC apply (operators/compaction.py:"
    "apply_changes): a deterministic changelog — upserts for orders with "
    "returned lineitems (seq 1), tombstones for every 1000th order "
    "(seq 2) — folds into the orders snapshot through one key-"
    "partitioned window; latest version wins, deletes drop the key. The "
    "batch form of Delta/Iceberg MERGE INTO: one shuffle, no global "
    "sort, any number of change batches unioned in.",
)
def q_orders_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.compaction import apply_changes

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem")
    upd = (
        o.join(
            li.where(F.col("l_returnflag") == "R").select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            F.lit("U").alias("op"),
            F.lit(1).alias("seq"),
        )
    )
    dels = o.where(F.col("o_orderkey") % 1000 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    changes = upd.unionByName(dels)
    return apply_changes(o, changes, ["o_orderkey"], "seq")


# ------------------------------------------------------ full outer join ----


@register(
    "customer_yearly_rev_full_outer",
    """
WITH r95 AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS rev_1995
    FROM orders WHERE YEAR(o_orderdate) = 1995 GROUP BY o_custkey
),
r96 AS (
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS rev_1996
    FROM orders WHERE YEAR(o_orderdate) = 1996 GROUP BY o_custkey
)
SELECT COALESCE(a.o_custkey, b.o_custkey) AS c_custkey,
       a.rev_1995, b.rev_1996,
       CASE WHEN a.o_custkey IS NULL THEN 'new_1996'
            WHEN b.o_custkey IS NULL THEN 'churned_1995'
            ELSE 'both' END AS status
FROM r95 a FULL OUTER JOIN r96 b ON a.o_custkey = b.o_custkey
""",
    doc="Customer-level year-over-year revenue with a FULL OUTER join of "
    "the two yearly aggregates — churn/new/retained classification in "
    "one pass; exact-cents money so AQE re-partitioning cannot change "
    "values. Full outer cannot broadcast, so both sides shuffle once on "
    "the key — which the prior groupBys already partitioned by, so the "
    "join reuses their exchange.",
)
def q_customer_yearly_rev_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.exactmath import sum_money

    o = load_table(spark, sf_dir, "orders")

    def year_rev(y: int, alias: str) -> DataFrame:
        return (
            o.where(F.year("o_orderdate") == y)
            .groupBy("o_custkey")
            .agg(sum_money("o_totalprice").alias(alias))
        )

    a = year_rev(1995, "rev_1995").alias("a")
    b = year_rev(1996, "rev_1996").alias("b")
    return a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer").select(
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("c_custkey"),
        "rev_1995",
        "rev_1996",
        F.when(F.col("a.o_custkey").isNull(), F.lit("new_1996"))
        .when(F.col("b.o_custkey").isNull(), F.lit("churned_1995"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


# ------------------------------------------------------- proximity join ----


@register(
    "airports_proximity_pairs",
    """
WITH airports_msgs AS (
    SELECT CAST(c_custkey // 10 AS VARCHAR) AS id,
           CASE WHEN c_custkey % 13 = 0 THEN ''
                WHEN c_custkey % 29 = 0 THEN 'not-a-number'
                ELSE CAST(c_acctbal / 100 AS VARCHAR) END AS lat,
           CASE WHEN c_custkey % 17 = 0 THEN NULL
                ELSE CAST(c_acctbal / 50 AS VARCHAR) END AS lon
    FROM customer
),
clean AS (
    SELECT id,
           TRY_CAST(NULLIF(lat, '') AS DOUBLE) AS x,
           TRY_CAST(NULLIF(lon, '') AS DOUBLE) AS y
    FROM airports_msgs
),
pts AS (
    SELECT id, x, y FROM clean
    WHERE x IS NOT NULL AND y IS NOT NULL
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY x, y) = 1
)
SELECT a.id AS id_a, b.id AS id_b,
       sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
FROM pts a JOIN pts b ON a.id < b.id
WHERE sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 5.0
""",
    doc="Spatial proximity self-join over the deduplicated cleaned "
    "airports (operators/joins.py:grid_proximity_join): all pairs within "
    "planar distance 5.0 via lossless 3x3 grid-cell blocking — candidate "
    "volume tracks local density, never n²; the oracle is the exact "
    "all-pairs form the blocking provably equals.",
)
def q_airports_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import airports_messages
    from .operators.airports import clean_coords, parse_json_messages
    from .operators.joins import grid_proximity_join

    from .operators.text import widen_narrow_input

    clean = clean_coords(
        parse_json_messages(widen_narrow_input(airports_messages(spark, sf_dir)))
    )
    w = Window.partitionBy("id").orderBy("latitude", "longitude")
    pts = (
        clean.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("id", F.col("latitude").alias("x"), F.col("longitude").alias("y"))
    )
    return grid_proximity_join(pts, radius=5.0)


# ------------------------------------------- exact substring-span dedup ----

EXSUB_K = 8


def _exsub_poly_sql(k: int) -> str:
    """DuckDB replay of ``dedup._poly_combine`` over wh[pos+1 .. pos+k]
    (1-based list indexing, mod P between Horner steps)."""
    expr = "wh[pos + 1]"
    for j in range(1, k):
        expr = f"(({expr}) * {dedup.SHINGLE_B} + wh[pos + {j + 1}]) % {dedup.MINHASH_P}"
    return expr


def _exsub_span_ctes() -> str:
    """Duplicated k-gram positions -> gaps-and-islands merged spans, the
    exact relational replay of ``dedup.exact_substr_spans`` (positional
    Horner k-gram hashes over per-token md5 hashes, global HAVING
    count>1, running-max interval merge)."""
    k, p = EXSUB_K, dedup.MINHASH_P
    return f"""{DOCUMENTS_WITH_DUPS_ORACLE_CTE},
wordhashed AS (
    SELECT doc_id AS id,
           list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {p}) AS wh
    FROM docs_dup
    WHERE len(string_split(text, ' ')) >= {k}
),
grams AS (
    SELECT id, pos, {_exsub_poly_sql(k)} AS gh
    FROM (SELECT id, wh, unnest(range(len(wh) - {k} + 1)) AS pos FROM wordhashed)
),
dupg AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) > 1),
dpos AS (SELECT g.id, g.pos FROM grams g JOIN dupg USING (gh)),
marked AS (
    SELECT id, pos,
           CASE WHEN pos > COALESCE(MAX(pos + {k - 1}) OVER (
                    PARTITION BY id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                THEN 1 ELSE 0 END AS brk
    FROM dpos
),
isl AS (
    SELECT id, pos, SUM(brk) OVER (
        PARTITION BY id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM marked
),
spans AS (
    SELECT id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {k - 1} AS BIGINT) AS span_end
    FROM isl GROUP BY id, island
)"""


@register(
    "doc_exact_substr_spans",
    f"""WITH {_exsub_span_ctes()}
SELECT id AS doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens
FROM spans""",
    doc="ExactSubstr duplicated-span detection (Lee et al. 2022) in "
    "relational form (operators/dedup.py:exact_substr_spans): maximal "
    "token ranges whose every 8-token window recurs elsewhere in the "
    "corpus — positional Horner k-gram hashes, corpus-wide HAVING "
    "count>1, running-max gaps-and-islands merge. One explode, one "
    "hash-keyed aggregate, one id-keyed window; no suffix array.",
)
def q_doc_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import widen_narrow_input

    return dedup.exact_substr_spans(
        widen_narrow_input(documents_with_dups(spark, sf_dir)), k=EXSUB_K
    )


@register(
    "corpus_exact_substr_rewrite",
    f"""WITH {_exsub_span_ctes()},
covered AS (
    SELECT id, unnest(range(span_start, span_end + 1)) AS pos FROM spans
),
toks AS (
    SELECT id, pos, ts[pos + 1] AS tok
    FROM (SELECT id, ts, unnest(range(len(ts))) AS pos
          FROM (SELECT doc_id AS id, string_split(text, ' ') AS ts FROM docs_dup))
)
SELECT t.id AS doc_id,
       COALESCE(string_agg(t.tok, ' ' ORDER BY t.pos)
                    FILTER (WHERE c.pos IS NULL), '') AS clean_text,
       CAST(COUNT(*) FILTER (WHERE c.pos IS NULL) AS BIGINT) AS n_kept,
       CAST(COUNT(c.pos) AS BIGINT) AS n_removed
FROM toks t LEFT JOIN covered c ON t.id = c.id AND t.pos = c.pos
GROUP BY t.id""",
    doc="ExactSubstr rewrite (operators/dedup.py:exact_substr_rewrite): "
    "drop every token inside a duplicated span (all-copies removal; "
    "keep-first at segment granularity is segment_dedup_rewrite) and "
    "reassemble survivors in position order. Covered positions come "
    "from exploding span ranges, so the kept/removed split is an "
    "equality join on (id, pos) — never a range join.",
)
def q_corpus_exact_substr_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import widen_narrow_input

    return dedup.exact_substr_rewrite(
        widen_narrow_input(documents_with_dups(spark, sf_dir)), k=EXSUB_K
    )


# ------------------------------------------------- edit-distance join ----

from .operators import strings as _strings


@register(
    "customer_name_edit_pairs",
    """
WITH names AS (SELECT c_custkey AS id, c_name AS name FROM customer)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.id < b.id
WHERE levenshtein(a.name, b.name) <= 1""",
    doc="Edit-distance similarity self-join (ed <= 1) over customer "
    "names via PassJoin pigeonhole segment blocking "
    "(operators/strings.py:edit_distance_pairs): candidates from an "
    "equality join on (length, segment, piece) keys — never a cross "
    "join — then an exact levenshtein verify. The oracle IS the "
    "all-pairs definition, so the driver gate doubles as the "
    "losslessness check at sf0.01.",
)
def q_customer_name_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return _strings.edit_distance_pairs(
        c, d=1, str_col="name", id_col="id", compute_splits="auto"
    )


# ------------------------------------------------------ triangle counting ----


@register(
    "parts_triangle_counts",
    """
WITH pairs AS (
    SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                    GREATEST(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
    SELECT e1.u AS x, e1.v AS y, e2.v AS z
    FROM pairs e1
    JOIN pairs e2 ON e1.u = e2.u AND e1.v < e2.v
    JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
),
nodes AS (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT node AS part_id, COUNT(*) AS n_triangles
FROM nodes GROUP BY node
""",
    doc="Per-part triangle participation in the co-purchase graph (parts "
    "sharing an order = edge) via degree-ordered orientation "
    "(operators/graph.py:triangle_counts): each triangle is enumerated "
    "once at its minimum-(degree, id) corner, and hub out-degrees are "
    "O(sqrt(E)) under the orientation, so the wedge join is bounded by "
    "E^1.5 regardless of degree skew. The oracle counts the same "
    "triangles by plain u<v<z enumeration — orientation-independence of "
    "the count is exactly what the hash gate certifies.",
)
def q_parts_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: canonical pair derivation (one keyed aggregation, no
    # self-join); triangle_counts' normalization dedups to the same
    # edge set — see queries_round8._copurchase_edge_pairs_canonical
    from .queries_round8 import (
        _copurchase_degree_bound,
        _copurchase_edge_pairs_canonical,
    )

    edges = _copurchase_edge_pairs_canonical(spark, sf_dir)
    return graph.triangle_counts(
        edges, max_degree_bound=_copurchase_degree_bound(spark, sf_dir)
    ).withColumnRenamed("node", "part_id")


@register(
    "doc_length_bucket_batches",
    """
WITH d AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('lbb:' || CAST(doc_id AS VARCHAR)) AS hk
    FROM documents WHERE len(string_split(text, ' ')) > 0
),
b AS (
    SELECT doc_id, n_tokens, hk,
           n_tokens // 64 AS bucket,
           substr(hk, 1, 1) AS shard
    FROM d
),
r AS (
    SELECT bucket, shard, n_tokens,
           (ROW_NUMBER() OVER (
               PARTITION BY bucket, shard ORDER BY hk, doc_id) - 1) // 32
               AS batch_idx
    FROM b
)
SELECT bucket, shard, CAST(batch_idx AS BIGINT) AS batch_idx,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_tokens) AS BIGINT) AS batch_max_tokens,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS pad_waste
FROM r GROUP BY bucket, shard, batch_idx
""",
    doc="Length-bucketed dynamic batching for padded inference "
    "(operators/text.py:length_bucket_batches): docs of similar token "
    "length grouped into fixed-size batches so padding waste stays "
    "small. Shards FIRST (md5 prefix), then windows only within "
    "(bucket, shard) — every window partition is a bounded slice of one "
    "length bucket however large the corpus, and waste stays near-"
    "optimal because lengths within a bucket differ by < bucket_width "
    "regardless of shard. Exact-integer waste accounting.",
)
def q_doc_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.length_bucket_batches(
        load_table(spark, sf_dir, "documents"), bucket_width=64, batch_size=32
    )


# the one shared rendering of quality_score_col — see queries_llm.py
from .queries_llm import QUALITY_SQL as _QUALITY_SQL


@register(
    "corpus_curriculum_order",
    f"""
WITH d AS (
    SELECT doc_id, source, {_QUALITY_SQL} AS quality FROM documents
),
s AS (
    SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS src_idx
    FROM (SELECT DISTINCT source FROM documents)
),
n AS (SELECT COUNT(*) AS n_src FROM s),
r AS (
    SELECT doc_id, source, quality,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id) AS BIGINT)
               AS round
    FROM d
)
SELECT r.doc_id, r.source, r.quality, r.round,
       CAST((r.round - 1) * (SELECT n_src FROM n) + s.src_idx AS BIGINT)
           AS global_pos
FROM r JOIN s USING (source)
""",
    doc="Curriculum ordering with source interleaving "
    "(operators/text.py:curriculum_interleave): rank best-first WITHIN "
    "each source, then round-robin the sources — training consumes a "
    "stable source mix at every quality tier instead of exhausting the "
    "best source first. Global position is the closed form "
    "(round-1)*n_sources + source_index: no global sort, the only "
    "corpus-wide shuffle is the per-source ranking window (decomposable "
    "over quality buckets at extreme scale, SCALE_NOTES §12), and the "
    "source dimension is a bounded broadcast join.",
)
def q_corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.curriculum_interleave(load_table(spark, sf_dir, "documents"))


KCORE_K = 60
KCORE_ITERS = 30


@register(
    "parts_kcore",
    f"""
WITH RECURSIVE pairs AS (
    SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                    GREATEST(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
peel(iter, u, v) AS (
    SELECT 0, u, v FROM pairs
    UNION
    SELECT p.iter + 1, p.u, p.v
    FROM peel p
    JOIN (SELECT iter, node FROM (
            SELECT iter, u AS node FROM peel
            UNION ALL SELECT iter, v AS node FROM peel)
          GROUP BY iter, node HAVING COUNT(*) >= {KCORE_K}) s
      ON s.iter = p.iter AND s.node = p.u
    JOIN (SELECT iter, node FROM (
            SELECT iter, u AS node FROM peel
            UNION ALL SELECT iter, v AS node FROM peel)
          GROUP BY iter, node HAVING COUNT(*) >= {KCORE_K}) d
      ON d.iter = p.iter AND d.node = p.v
    WHERE p.iter < {KCORE_ITERS}
),
core AS (SELECT u, v FROM peel WHERE iter = {KCORE_ITERS})
SELECT node AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM core UNION ALL SELECT v AS node FROM core)
GROUP BY node
""",
    doc=f"{KCORE_K}-core of the co-purchase graph "
    "(operators/graph.py:kcore): iteratively peel every part whose "
    "surviving co-purchase degree is below k until fixpoint — coreness, "
    "not raw degree, isolates the genuinely dense region (a hub whose "
    "neighbors are all leaves peels away with them). Each Spark round is "
    "one degree aggregation + two anti-joins, lineage-truncated; the "
    "oracle replays the same simultaneous-peel rounds as a recursive CTE "
    "whose per-iteration working table is re-joined against its own "
    "degree counts. Survivors carry their within-core degree.",
)
def q_parts_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: canonical pair derivation (one keyed aggregation, no
    # self-join); kcore dedups to the same edge set — see
    # queries_round8._copurchase_edge_pairs_canonical
    from .queries_round8 import (
        _copurchase_degree_bound,
        _copurchase_edge_pairs_canonical,
    )

    edges = _copurchase_edge_pairs_canonical(spark, sf_dir)
    return graph.kcore(
        edges, k=KCORE_K, max_iter=KCORE_ITERS,
        max_degree_bound=_copurchase_degree_bound(spark, sf_dir),
    ).withColumnRenamed(
        "node", "part_id"
    )


@register(
    "supplier_ship_latency",
    """
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                    CAST(l_shipdate AS DATE)) > 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                    CAST(l_shipdate AS DATE)) > 90
                     THEN 1 ELSE 0 END) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS slow_rate,
       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE))) AS BIGINT) AS sum_delay_days,
       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE))) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT) AS avg_delay_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_suppkey
""",
    doc="Supplier fulfillment scorecard: per supplier, order-to-ship "
    "latency in exact integer days — slow-shipment count and rate "
    "(> 90 days), total and mean delay. Day deltas sum as BIGINT and "
    "the two ratios are single divisions of exact int64s, so the "
    "doubles are engine-identical. One fact-fact equi-join on the order "
    "key (both sides shuffle once) then a map-side-combined supplier "
    "aggregation.",
)
def q_supplier_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long")
    slow = (delay > 90).cast("long")
    return j.groupBy("l_suppkey").agg(
        F.count("*").alias("n_lineitems"),
        F.sum(slow).alias("n_slow"),
        (F.sum(slow) / F.count("*")).alias("slow_rate"),
        F.sum(delay).alias("sum_delay_days"),
        (F.sum(delay) / F.count("*")).alias("avg_delay_days"),
    )


@register(
    "customer_rfm_segments",
    """
WITH cust AS (
    SELECT o_custkey,
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS rec_days,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
    FROM orders GROUP BY o_custkey
),
th AS (
    SELECT quantile_cont(rec_days, 0.25) AS r25,
           quantile_cont(rec_days, 0.50) AS r50,
           quantile_cont(rec_days, 0.75) AS r75,
           quantile_cont(freq, 0.25) AS f25,
           quantile_cont(freq, 0.50) AS f50,
           quantile_cont(freq, 0.75) AS f75,
           quantile_cont(monetary_cents, 0.25) AS m25,
           quantile_cont(monetary_cents, 0.50) AS m50,
           quantile_cont(monetary_cents, 0.75) AS m75
    FROM cust
)
SELECT o_custkey AS custkey,
       CAST(1 + (rec_days > r25)::INT + (rec_days > r50)::INT
              + (rec_days > r75)::INT AS BIGINT) AS r_quartile,
       CAST(1 + (freq > f25)::INT + (freq > f50)::INT
              + (freq > f75)::INT AS BIGINT) AS f_quartile,
       CAST(1 + (monetary_cents > m25)::INT + (monetary_cents > m50)::INT
              + (monetary_cents > m75)::INT AS BIGINT) AS m_quartile
FROM cust CROSS JOIN th
""",
    doc="RFM customer segmentation: per customer, quartile of last-order "
    "recency, order frequency, and exact-cents monetary total. The "
    "scale-honest formulation: quartile BOUNDARIES come from one 9-value "
    "exact-percentile aggregate (Spark percentile == DuckDB "
    "quantile_cont, bit-identical linear interpolation — the "
    "order_price_percentiles parity) broadcast as a 1-row scalar, and "
    "each customer buckets via three threshold comparisons — no global "
    "NTILE sort over the customer table, which is what the textbook "
    "window formulation would cost at 100 TB.",
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("rec_days"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    th = cust.agg(
        *[
            F.expr(f"percentile({c}, array(0.25, 0.50, 0.75))")[i].alias(n)
            for c, pfx in (
                ("rec_days", "r"),
                ("freq", "f"),
                ("monetary_cents", "m"),
            )
            for i, n in enumerate((f"{pfx}25", f"{pfx}50", f"{pfx}75"))
        ]
    )

    def quart(c, pfx):
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{pfx}25")).cast("int")
            + (F.col(c) > F.col(f"{pfx}50")).cast("int")
            + (F.col(c) > F.col(f"{pfx}75")).cast("int")
        ).cast("long")

    return cust.crossJoin(F.broadcast(th)).select(
        F.col("o_custkey").alias("custkey"),
        quart("rec_days", "r").alias("r_quartile"),
        quart("freq", "f").alias("f_quartile"),
        quart("monetary_cents", "m").alias("m_quartile"),
    )


@register(
    "events_xml_roundtrip_kpi",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events GROUP BY event_type
""",
    doc="Native XML parse parity (Spark 4 folds spark-xml into core: "
    "to_xml/from_xml/schema_of_xml): each event serializes to an XML "
    "record and is re-parsed against a declared schema — the XML "
    "analogue of the reference's from_json typed parse (P7) and the "
    "permissive JSON roundtrip. The KPI over re-parsed rows equals the "
    "direct aggregate, which the oracle asserts: doubles survive the "
    "string roundtrip because Java's shortest-repr formatting parses "
    "back to the identical double. All JVM expression work, narrow "
    "until the final aggregate.",
)
def q_events_xml_roundtrip_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    xml = ev.select(
        F.to_xml(F.struct("user_id", "event_type", "value")).alias("x")
    )
    parsed = xml.select(
        F.from_xml(
            "x", "user_id bigint, event_type string, value double"
        ).alias("s")
    ).select("s.user_id", "s.event_type", "s.value")
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
            "sum_value"
        ),
    )


KTRUSS_K = 3
KTRUSS_ITERS = 6


@register(
    "parts_ktruss_affinity",
    f"""
WITH RECURSIVE op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
ed AS (
    SELECT u, v FROM (
        SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v,
               COUNT(*) AS c
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ) WHERE c >= 2
),
peel(iter, u, v) AS (
    SELECT 0, u, v FROM ed
    UNION
    SELECT * FROM (
        WITH tri AS (
            SELECT e1.iter, e1.u AS x, e1.v AS y, e2.v AS z
            FROM peel e1
            JOIN peel e2 ON e2.iter = e1.iter AND e2.u = e1.u AND e1.v < e2.v
            JOIN peel e3 ON e3.iter = e1.iter AND e3.u = e1.v AND e3.v = e2.v
        ),
        te AS (
            SELECT iter, x AS u, y AS v FROM tri
            UNION ALL SELECT iter, x, z FROM tri
            UNION ALL SELECT iter, y, z FROM tri
        ),
        sup AS (SELECT iter, u, v, COUNT(*) AS s FROM te GROUP BY iter, u, v)
        SELECT p.iter + 1, p.u, p.v
        FROM peel p
        LEFT JOIN sup ON sup.iter = p.iter AND sup.u = p.u AND sup.v = p.v
        WHERE p.iter < {KTRUSS_ITERS} AND COALESCE(sup.s, 0) >= {KTRUSS_K - 2}
    )
),
core AS (SELECT u, v FROM peel WHERE iter = {KTRUSS_ITERS}),
tri2 AS (
    SELECT e1.u AS x, e1.v AS y, e2.v AS z
    FROM core e1
    JOIN core e2 ON e2.u = e1.u AND e1.v < e2.v
    JOIN core e3 ON e3.u = e1.v AND e3.v = e2.v
),
te2 AS (
    SELECT x AS u, y AS v FROM tri2
    UNION ALL SELECT x, z FROM tri2
    UNION ALL SELECT y, z FROM tri2
),
sup2 AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS s FROM te2 GROUP BY u, v)
SELECT c.u AS part_u, c.v AS part_v,
       CAST(COALESCE(sup2.s, 0) AS BIGINT) AS support
FROM core c LEFT JOIN sup2 ON sup2.u = c.u AND sup2.v = c.v
""",
    doc=f"{KTRUSS_K}-truss of the robust co-purchase affinity graph "
    "(parts co-ordered in >= 2 distinct orders; operators/graph.py:"
    "ktruss): iteratively peel every edge supported by fewer than k-2 "
    "triangles among the survivors. Truss-ness is the EDGE-level "
    "cohesion test k-core can't give — a hub survives a core through "
    "degree alone, an edge only survives the truss if its endpoints "
    "share mutual neighbors. Per Spark round: canonical-corner triangle "
    "enumeration, 3-edge explode, per-edge count, one anti-join; the "
    "oracle replays the same simultaneous rounds as a recursive CTE "
    "with nested triangle/support CTEs over the working table.",
)
def q_parts_ktruss_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("src", "dst")
    )
    return (
        graph.ktruss(edges, k=KTRUSS_K, max_iter=KTRUSS_ITERS)
        .withColumnRenamed("u", "part_u")
        .withColumnRenamed("v", "part_v")
    )


# ------------------------------------------ packing / decontamination ----

from .operators import text as _text

PACK_SEQ_LEN = 512
CONTAM_N = 8


@register(
    "corpus_pack_sequences",
    f"""
WITH d AS (
    SELECT doc_id AS id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('pack:' || CAST(doc_id AS VARCHAR)) AS hk
    FROM documents
    WHERE len(string_split(text, ' ')) > 0
),
o AS (
    SELECT id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY hk, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
    FROM d
),
s AS (
    SELECT id, n_tokens, off,
           unnest(range(off // {PACK_SEQ_LEN},
                        (off + n_tokens - 1) // {PACK_SEQ_LEN} + 1)) AS bin
    FROM o
)
SELECT id, CAST(bin AS BIGINT) AS bin,
       CAST(GREATEST(0, bin * {PACK_SEQ_LEN} - off) AS BIGINT) AS start_in_doc,
       CAST(GREATEST(0, off - bin * {PACK_SEQ_LEN}) AS BIGINT) AS start_in_bin,
       CAST(LEAST(n_tokens, (bin + 1) * {PACK_SEQ_LEN} - off)
            - GREATEST(0, bin * {PACK_SEQ_LEN} - off) AS BIGINT) AS n_tok
FROM s
""",
    doc="Concat-and-chunk sequence packing to fixed "
    f"{PACK_SEQ_LEN}-token training rows "
    "(operators/text.py:pack_training_sequences): documents laid "
    "end-to-end in deterministic salted-hash order and cut at bin "
    "boundaries, docs splitting across bins GPT-style — unlike "
    "doc_packing_bins, which assigns whole docs greedily within each "
    "source. The oracle is the literal single-window prefix sum; the "
    "Spark plan decomposes it over 4096 order-aligned hash buckets "
    "(bucket = integer prefix of the sort key) so no window ever sees "
    "more than ~1/4096 of the corpus and the only global structure is "
    "a broadcast of the cumulative bucket totals.",
)
def q_corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.pack_training_sequences(
        load_table(spark, sf_dir, "documents"), seq_len=PACK_SEQ_LEN
    )


@register(
    "ngram_overlap_contamination",
    f"""
WITH {{dups}},
tg AS (
    SELECT doc_id AS id, unnest(list_distinct(list_transform(
        range(len(string_split(text, ' ')) - {CONTAM_N - 1}),
        i -> array_to_string(string_split(text, ' ')[i + 1:i + {CONTAM_N}], ' ')))) AS g
    FROM docs_dup
    WHERE doc_id < 1000000 AND len(string_split(text, ' ')) >= {CONTAM_N}
),
bg AS (
    SELECT doc_id AS bid, unnest(list_distinct(list_transform(
        range(len(string_split(text, ' ')) - {CONTAM_N - 1}),
        i -> array_to_string(string_split(text, ' ')[i + 1:i + {CONTAM_N}], ' ')))) AS g
    FROM docs_dup
    WHERE doc_id >= 1000000 AND len(string_split(text, ' ')) >= {CONTAM_N}
)
SELECT id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hit_ngrams,
       CAST(COUNT(DISTINCT bid) AS BIGINT) AS n_bench_docs
FROM tg JOIN bg USING (g)
GROUP BY id
""".format(dups=DOCUMENTS_WITH_DUPS_ORACLE_CTE),
    doc=f"Exact {CONTAM_N}-gram overlap decontamination — the canonical "
    "GPT-3-appendix-C collision test, complementing "
    "train_eval_contamination's rare-winnow-fingerprint variant: every "
    "training doc sharing ANY verbatim n-gram with the benchmark side "
    "(the planted-dup corpus split at id 1M) is reported with its hit "
    "breadth (operators/dedup.py:ngram_contamination). Both sides shrink "
    "to distinct (id, md5(gram)) rows before the single digest-keyed "
    "equality shuffle; no broadcast is forced, so AQE picks one exactly "
    "when the benchmark side is small enough.",
)
def q_ngram_overlap_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import widen_narrow_input

    corpus = widen_narrow_input(documents_with_dups(spark, sf_dir))
    return dedup.ngram_contamination(
        corpus.where(F.col("doc_id") < 1_000_000),
        corpus.where(F.col("doc_id") >= 1_000_000),
        n=CONTAM_N,
    )


DRIFT_TOP_V = 256
DRIFT_SCALE = 10**12


@register(
    "source_token_drift",
    f"""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
corpus AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS g FROM tok GROUP BY token),
topv AS (SELECT token, g FROM corpus ORDER BY g DESC, token ASC LIMIT {DRIFT_TOP_V}),
gt AS (SELECT CAST(SUM(g) AS BIGINT) AS big_g FROM topv),
sc AS (
    SELECT source, tok.token, g, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok JOIN topv ON tok.token = topv.token
    GROUP BY source, tok.token, g
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source),
terms AS (
    SELECT sc.source,
           CAST(ROUND(ABS(CAST(c AS DOUBLE) / n - CAST(g AS DOUBLE) / big_g)
                      * {DRIFT_SCALE}) AS BIGINT) AS term,
           CAST(ROUND((CAST(g AS DOUBLE) / big_g) * {DRIFT_SCALE}) AS BIGINT) AS qterm
    FROM sc JOIN ns ON sc.source = ns.source CROSS JOIN gt
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_present,
       (SUM(term) + ({DRIFT_SCALE} - SUM(qterm))) / {float(2 * DRIFT_SCALE)} AS tv_drift
FROM terms GROUP BY source
""",
    doc="Per-source corpus drift: total-variation distance between each "
    "source's unigram distribution and the corpus distribution, both "
    "renormalized over the corpus top-256 tokens "
    "(operators/text.py:token_drift_by_source) — the mixture-monitoring "
    "statistic that catches a source whose content shifted. Per-term "
    "|p - q| doubles are quantized to an integer 1e-12 grid and summed "
    "as BIGINT (the exactmath discipline: double sums are accumulation-"
    "order-dependent, integer sums are not), so Spark and the oracle "
    "agree bit-for-bit. Top-V is TakeOrdered, never a global sort; the "
    "only corpus-sized exchange is the (source, token) count shuffle.",
)
def q_source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.token_drift_by_source(
        load_table(spark, sf_dir, "documents"),
        top_v=DRIFT_TOP_V,
        scale=DRIFT_SCALE,
    )


# ------------------------------------------------- dedup QA / recall ----


def _lsh_quality_oracle() -> str:
    from .queries_llm import _minhash_ctes

    return f"""
WITH RECURSIVE {_minhash_ctes()},
truth AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM hashed a JOIN hashed b ON a.id < b.id
    WHERE len(list_intersect(a.xs, b.xs))
            / (len(a.xs) + len(b.xs) - len(list_intersect(a.xs, b.xs))) >= 0.7
),
pred AS (SELECT id_a, id_b FROM pairs),
m AS (
    SELECT COALESCE(t.id_a, p.id_a) AS id_a,
           (t.id_a IS NOT NULL) AS is_true, (p.id_a IS NOT NULL) AS is_pred
    FROM truth t FULL OUTER JOIN pred p
      ON t.id_a = p.id_a AND t.id_b = p.id_b
)
SELECT CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN is_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
       CAST(SUM(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       SUM(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END)
         / SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS recall,
       SUM(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END)
         / SUM(CASE WHEN is_pred THEN 1 ELSE 0 END) AS precision
FROM m
"""


@register(
    "minhash_lsh_quality",
    _lsh_quality_oracle(),
    doc="Dedup-QA metric: recall and precision of the MinHash(16)+LSH(4-"
    "band) pipeline against the EXACT Jaccard >= 0.7 truth set over the "
    "same hashed-shingle universe — the quality report a curation run "
    "publishes alongside its dedup stats. The truth side is the "
    "lossless prefix-filter join (no blocking loss, scalable), so the "
    "whole metric runs at corpus scale; precision is 1.0 by "
    "construction (LSH candidates are verified with exact Jaccard "
    "before emission) and the metric PROVES it empirically, while "
    "recall exposes banding misses near the threshold. The oracle "
    "computes truth by brute-force all-pairs.",
)
def q_minhash_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_llm import MINHASH_BANDS, MINHASH_K

    corpus = documents_with_dups(spark, sf_dir)
    truth = dedup.jaccard_prefix_pairs(corpus, threshold=0.7).select("id_a", "id_b")
    pred = dedup.minhash_near_dup_pairs(
        corpus, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.7
    ).select("id_a", "id_b")
    m = truth.withColumn("is_true", F.lit(True)).join(
        pred.withColumn("is_pred", F.lit(True)), ["id_a", "id_b"], "full_outer"
    )
    it = F.coalesce(F.col("is_true"), F.lit(False))
    ip = F.coalesce(F.col("is_pred"), F.lit(False))
    hit = (it & ip).cast("long")
    return m.agg(
        F.sum(it.cast("long")).alias("n_true"),
        F.sum(ip.cast("long")).alias("n_pred"),
        F.sum(hit).alias("n_hit"),
        (F.sum(hit) / F.sum(it.cast("long"))).alias("recall"),
        (F.sum(hit) / F.sum(ip.cast("long"))).alias("precision"),
    )
