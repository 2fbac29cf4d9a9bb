"""Round-8 registrations: the at-scale approximate twin for triangle
counting (DOULION edge sampling).

Imported for its registration side effects by ``queries._load_extensions``;
same parity rules as every other registration module (adjacent DuckDB
oracle, identical aliases, exact integer arithmetic wherever both engines
must hash-agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import graph
from .queries import register

# DOULION sampling constants — interpolated verbatim into the oracle.
TRI_KEEP_NUM = 1
TRI_KEEP_DEN = 2
TRI_SALT = "tri8"


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same co-purchase edge derivation as parts_triangle_counts
    (queries_round4): parts sharing an order form an edge.

    This is the MULTISET form (one row per qualifying lineitem pair,
    duplicates across and within orders preserved) — required by the
    weighted consumer (parts_copurchase_cheapest_3hop prices edges by
    pair-occurrence count). Consumers that only need the edge SET use
    :func:`_copurchase_edge_pairs_canonical` instead (r14)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )


def _copurchase_degree_bound(
    spark: SparkSession, sf_dir: str
) -> int | None:
    """O(metadata) hub certificate for the co-purchase graph consumers
    (graph._full_adjacency's r15 hub guard): a part's degree is
    < |distinct parts|, bounded by the part table's parquet-footer row
    count — no Spark job. None (part table missing or unreadable,
    footers unavailable) makes the operator fall back to its measured
    degree pass."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from .operators.sketches import _stats_row_count

    try:
        part = load_table(spark, sf_dir, "part")
    except (AnalysisException, Py4JJavaError):  # missing / unreadable
        return None
    return _stats_row_count(part)


def _copurchase_edge_pairs_canonical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Canonical (src < dst) co-purchase pairs via ONE keyed aggregation
    instead of the lineitem self-join: per-order sorted DISTINCT part
    sets, exploded to their i < j pairs map-side after the single
    groupBy exchange (guide §2.4 — the self-join's second exchange,
    sort and probe buy nothing the per-order array doesn't give).

    Emits the same edge SET as :func:`_copurchase_edges` with strictly
    fewer duplicate rows (within-order duplicate partkeys collapse in
    the per-order set; cross-order duplicates remain until the
    consumer's distinct), and already-canonical pairs (the sorted array
    makes every i < j pair src < dst, so a consumer's least/greatest
    normalization is a no-op). Every consumer of this function dedups
    to the edge set — triangle family, kcore, BFS — so results are
    bit-identical to the self-join form; the multiplicity-consuming
    weighted entry stays on :func:`_copurchase_edges`. Measured sf0.1:
    derivation+distinct 2.09 s -> 1.43 s."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )


@register(
    "parts_triangle_estimate",
    f"""
WITH pairs AS (
    SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                    GREATEST(a.l_partkey, b.l_partkey) AS v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sampled AS (
    SELECT u, v FROM pairs
    WHERE CAST('0x' || substr(md5(CAST(u AS VARCHAR) || ':'
                || CAST(v AS VARCHAR) || ':{TRI_SALT}'), 1, 8) AS BIGINT)
          % {TRI_KEEP_DEN} < {TRI_KEEP_NUM}
),
tri AS (
    SELECT e1.u AS x, e1.v AS y, e2.v AS z
    FROM sampled e1
    JOIN sampled e2 ON e1.u = e2.u AND e1.v < e2.v
    JOIN sampled e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT (SELECT COUNT(*) FROM sampled) AS n_sampled_edges,
       (SELECT COUNT(*) FROM tri) AS n_sampled_triangles,
       CAST((SELECT COUNT(*) FROM tri) * {TRI_KEEP_DEN ** 3}
            // {TRI_KEEP_NUM ** 3} AS BIGINT) AS est_triangles
""",
    doc="DOULION approximate triangle count over the co-purchase graph "
    f"(operators/graph.py:triangle_count_estimate): every undirected "
    f"edge survives a deterministic salted-md5 coin with p = "
    f"{TRI_KEEP_NUM}/{TRI_KEEP_DEN}, triangles in the sparsified graph "
    "are enumerated exactly (degree-oriented intersection) and scaled "
    "by 1/p**3 — the documented 100 TB path for triangle statistics, "
    "cutting the Theta(E^1.5) intersection work ~2.8x at p=1/2 and "
    "~31x at p=1/10 while staying unbiased. The hash coin makes the "
    "sampled subgraph partition-independent and exactly replayable, "
    "which is what lets the oracle pin the estimate hash-exactly.",
)
def q_parts_triangle_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return graph.triangle_count_estimate(
        _copurchase_edge_pairs_canonical(spark, sf_dir),
        keep_num=TRI_KEEP_NUM,
        keep_den=TRI_KEEP_DEN,
        salt=TRI_SALT,
        max_degree_bound=_copurchase_degree_bound(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Fill-in-middle training-example assembly (operators/text.py:fim_transform)
# --------------------------------------------------------------------------

FIM_NUM = 1
FIM_DEN = 2
FIM_SALT = "fim8:"
FIM_MIN_TOKENS = 4
_FIM_BIG = 2_147_483_647


def _fim_oracle_sql() -> str:
    from .operators import text as _t

    def bucket(salt: str, den) -> str:
        return (
            f"CAST('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)),"
            f" 1, 8) AS BIGINT) % {den}"
        )

    pre, suf, mid = _t.FIM_PRE, _t.FIM_SUF, _t.FIM_MID
    join = "coalesce(array_to_string({}, ' '), '')"
    return f"""
WITH t AS (
    SELECT doc_id, text,
           string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n,
           {bucket(FIM_SALT + 'coin:', FIM_DEN)} AS coin,
           ({bucket(FIM_SALT + 'c1:', _FIM_BIG)})
               % (len(string_split(text, ' ')) + 1) AS c1,
           ({bucket(FIM_SALT + 'c2:', _FIM_BIG)})
               % (len(string_split(text, ' ')) + 1) AS c2
    FROM documents
),
cut AS (
    SELECT doc_id, text, toks, n,
           (coin < {FIM_NUM} AND n >= {FIM_MIN_TOKENS}) AS is_fim,
           LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi
    FROM t
)
SELECT doc_id,
       CASE WHEN is_fim THEN 'fim' ELSE 'ar' END AS mode,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN is_fim THEN CAST(lo AS BIGINT) END AS n_prefix,
       CASE WHEN is_fim THEN CAST(hi - lo AS BIGINT) END AS n_middle,
       CASE WHEN is_fim THEN CAST(n - hi AS BIGINT) END AS n_suffix,
       CASE WHEN is_fim
            THEN '{pre}' || {join.format('list_slice(toks, 1, lo)')}
              || '{suf}' || {join.format('list_slice(toks, hi + 1, n)')}
              || '{mid}' || {join.format('list_slice(toks, lo + 1, hi)')}
            ELSE text END AS text_out
FROM cut
"""


@register(
    "doc_fim_transform",
    _fim_oracle_sql(),
    doc="Fill-in-middle pretraining transform (PSM layout, Bavarian et "
    "al. 2022 / the StarCoder-CodeLlama prep): a salted-md5 coin picks "
    f"{FIM_NUM}/{FIM_DEN} of documents, two hash-uniform token cut "
    "points split each into prefix/middle/suffix, emitted as <PRE> p "
    "<SUF> s <MID> m; the rest pass through autoregressive. All "
    "randomness is hash-of-id — a pure per-row projection, zero "
    "shuffle, byte-identical across runs/engines/partitionings (which "
    "is what the oracle certifies), so a 100 TB prep is restartable "
    "and shard-order-independent.",
)
def q_doc_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _t

    return _t.fim_transform(
        load_table(spark, sf_dir, "documents"),
        fim_num=FIM_NUM,
        fim_den=FIM_DEN,
        salt=FIM_SALT,
        min_tokens=FIM_MIN_TOKENS,
    )


# --------------------------------------------------------------------------
# Per-user value trend (operators/sessions.py:user_value_trend)
# --------------------------------------------------------------------------


@register(
    "events_user_value_trend",
    """
WITH base AS (
    SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS um,
           CAST(ROUND(value * 100) AS BIGINT) AS cy
    FROM events
),
lo AS (SELECT user_id, MIN(um) AS um0 FROM base GROUP BY user_id),
xy AS (
    SELECT b.user_id,
           CAST((b.um - l.um0) // 1000000 AS BIGINT) AS x,
           b.cy AS y
    FROM base b JOIN lo l ON b.user_id = l.user_id
),
s AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(MAX(x) AS BIGINT) AS span_seconds
    FROM xy GROUP BY user_id
),
fit AS (
    SELECT user_id, n, span_seconds,
           CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS num,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
           CAST(n AS DOUBLE) AS nd
    FROM s
)
SELECT user_id, n AS n_events, span_seconds,
       CASE WHEN den > 0
            THEN CAST(ROUND((num / den) * 3600 * 1000000) AS BIGINT) END
           AS slope_ucents_per_hour,
       CASE WHEN den > 0
            THEN CAST(ROUND(((syd - (num / den) * sxd) / nd) * 1000000)
                      AS BIGINT) END
           AS intercept_ucents
FROM fit
""",
    doc="Per-user OLS value trend fitted IN the engine "
    "(operators/sessions.py:user_value_trend): one pass accumulates "
    "exact int64 normal-equation sums per user (x = seconds since the "
    "user's first event — centering keeps every sum inside int64; y = "
    "exact cents), slope/intercept combine them as IEEE doubles in a "
    "fixed expression shape (the z-score exactmath discipline), "
    "micro-unit quantized. Closed form — no iteration, no driver "
    "round-trips; exchanges key on user_id (AQE broadcasts the min-ts "
    "side when it fits, co-partitioned SMJ at scale); the per-entity drift detector at "
    "any key cardinality. Singular fits (n<2 or zero x-variance) emit "
    "NULL, never Inf.",
)
def q_events_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessions import user_value_trend

    return user_value_trend(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Per-language token budgets (operators/text.py:grouped_token_budget_selection)
# --------------------------------------------------------------------------

LANG_BUDGETS = {"en": 5000, "de": 2000, "es": 10000, "fr": 1500}
LB_BUCKETS = 1000


def _lang_budget_case() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in LANG_BUDGETS.items()
    )
    return f"CASE lang {whens} END"


@register(
    "corpus_lang_token_budgets",
    f"""
WITH d AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ({LB_BUCKETS} * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
               // CAST(len(string_split(text, ' ')) AS BIGINT) AS qb
    FROM documents
),
sel AS (
    SELECT doc_id, lang, qb, n_tokens,
           COALESCE(CAST(SUM(n_tokens) OVER (
               PARTITION BY lang
               ORDER BY qb DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS tokens_before
    FROM d
)
SELECT doc_id, lang, qb, n_tokens, tokens_before
FROM sel WHERE tokens_before < {_lang_budget_case()}
""",
    doc="Multilingual mixture assembly: each language fills its OWN "
    "token budget highest-quality-first, independently (languages "
    "without a budget are dropped) — the per-language knob a "
    "pretraining mix actually specifies, so a dominant language cannot "
    "starve the rest. The oracle is the naive spec (one window per "
    "language over quality DESC, id); the engine computes the identical "
    "prefix sum with no global or per-language sort — per-(lang, "
    "bucket) totals, a broadcast cumulative over langs x 1000 rows, "
    "and (lang, bucket)-partitioned windows "
    "(operators/text.py:grouped_token_budget_selection). Hash-equality "
    "proves the two-level decomposition exact.",
)
def q_corpus_lang_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _t

    return _t.grouped_token_budget_selection(
        load_table(spark, sf_dir, "documents"),
        budgets=LANG_BUDGETS,
        quality_buckets=LB_BUCKETS,
    )


# --------------------------------------------------------------------------
# Incremental model fit as a materialized view
# (operators/sessions.py:trend_sums / read_trend_fit)
# --------------------------------------------------------------------------


@register(
    "streaming_trend_fit_mv",
    """
WITH base AS (
    SELECT user_id,
           (CAST(epoch_us(ts) AS BIGINT) - 1704067200000000)
               // 3600000000 AS x,
           CAST(ROUND(value * 100) AS BIGINT) AS y
    FROM events
),
s AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM base GROUP BY user_id
),
fit AS (
    SELECT user_id, n,
           CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
           CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
           CAST(sy AS DOUBLE) AS syd, CAST(n AS DOUBLE) AS nd
    FROM s
)
SELECT user_id, n AS n_events,
       CASE WHEN den > 0
            THEN CAST(ROUND((num / den) * 1000000) AS BIGINT) END
           AS slope_ucents_per_hour,
       CAST(ROUND((syd / nd) * 1000000) AS BIGINT) AS mean_cents_micro
FROM fit
""",
    doc="Model fitting as an incrementally-maintained materialized view: "
    "micro-batches land per-user normal-equation sums (n, Σx, Σy, Σxy, "
    "Σx² — x in whole hours since a FIXED epoch so every component is "
    "additive across batches) under idempotent parts/batch_id=N dirs; "
    "the read side folds partials by summation and fits closed-form OLS "
    "per user. The streamed fit over even event ids plus one late batch "
    "partial of odd ids equals the one-shot fit over all events, which "
    "the oracle asserts — per-batch maintenance is O(users touched), "
    "the raw history is never re-scanned, and the fit is always "
    "serveable mid-stream.",
)
def q_streaming_trend_fit_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import _committed_partitions
    from .operators.sessions import read_trend_fit, write_trend_partial
    from .streaming.windows import apply_runtime_confs, replay_events_stream

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="trendmv_")
    try:
        even = replay_events_stream(spark, sf_dir).where(
            F.col("event_id") % 2 == 0
        )
        ckpt = tempfile.mkdtemp(prefix="trendmv_ckpt_")
        try:
            q = (
                even.writeStream.foreachBatch(
                    lambda b, i: write_trend_partial(b, path, i)
                )
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        odd = load_table(spark, sf_dir, "events").where(
            F.col("event_id") % 2 == 1
        )
        nxt = (
            max(_committed_partitions(spark, f"{path}/parts", "batch_id="))
            + 1
        )
        write_trend_partial(odd, path, nxt)
        return read_trend_fit(spark, path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


# --------------------------------------------------------------------------
# Global token-stream chunk index (operators/text.py:stream_chunk_index)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 256
CHUNK_SALT = "chunk8:"
CHUNK_BUCKETS = 256


@register(
    "corpus_stream_chunk_index",
    f"""
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('{CHUNK_SALT}' || CAST(doc_id AS VARCHAR)) AS hx
    FROM documents
),
b AS (
    SELECT doc_id, n_tokens, hx,
           CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {CHUNK_BUCKETS} AS bkt
    FROM d
),
o AS (
    SELECT doc_id, n_tokens,
           COALESCE(CAST(SUM(n_tokens) OVER (
               ORDER BY bkt, hx, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS global_start
    FROM b
)
SELECT doc_id, n_tokens, global_start,
       global_start // {CHUNK_TOKENS} AS chunk_first,
       (global_start + n_tokens - 1) // {CHUNK_TOKENS} AS chunk_last
FROM o
""",
    doc="GPT-style pretraining layout index: documents in deterministic "
    "salted-hash shuffle order, concatenated, sliced into fixed "
    f"{CHUNK_TOKENS}-token chunks that CROSS document boundaries — "
    "emitted as per-doc placement metadata (global_start, chunk span), "
    "never the materialized token stream. The oracle is the naive spec "
    "(one global window over the shuffle order); the engine computes "
    "the identical prefix sum with NO global sort — hash-bucket totals, "
    "a broadcast cumulative over 256 rows, bucket-partitioned windows "
    "(operators/text.py:stream_chunk_index). The salt doubles as the "
    "epoch knob: a new salt is a new global order with zero data "
    "movement.",
)
def q_corpus_stream_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _t

    return _t.stream_chunk_index(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=CHUNK_TOKENS,
        salt=CHUNK_SALT,
        order_buckets=CHUNK_BUCKETS,
    )


CHUNK_PICK = 7  # deterministic chunk id the serve-path query assembles


@register(
    "corpus_stream_chunk_assemble",
    f"""
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5('{CHUNK_SALT}' || CAST(doc_id AS VARCHAR)) AS hx,
           string_split(text, ' ') AS toks
    FROM documents
),
b AS (
    SELECT *, CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {CHUNK_BUCKETS} AS bkt
    FROM d
),
o AS (
    SELECT doc_id, n_tokens, toks,
           COALESCE(CAST(SUM(n_tokens) OVER (
               ORDER BY bkt, hx, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS global_start
    FROM b
),
span AS (
    SELECT * FROM o
    WHERE global_start // {CHUNK_TOKENS} <= {CHUNK_PICK}
      AND (global_start + n_tokens - 1) // {CHUNK_TOKENS} >= {CHUNK_PICK}
),
tok AS (
    SELECT doc_id, global_start + u.i - 1 AS global_pos, toks[u.i] AS token
    FROM span, UNNEST(range(1, CAST(len(toks) + 1 AS BIGINT))) AS u(i)
)
SELECT global_pos, CAST(global_pos - {CHUNK_PICK * CHUNK_TOKENS} AS BIGINT)
           AS pos_in_chunk,
       doc_id, token
FROM tok
WHERE global_pos >= {CHUNK_PICK * CHUNK_TOKENS}
  AND global_pos < {(CHUNK_PICK + 1) * CHUNK_TOKENS}
""",
    doc="The chunk-index SERVE path: assemble one fixed "
    f"{CHUNK_TOKENS}-token training chunk (id {CHUNK_PICK}) from the "
    "stream layout — the index narrows to the docs whose spans cover "
    "the chunk (2-3 rows), their tokens posexplode with global "
    "positions, and the window slice comes out in order, crossing a "
    "document boundary by construction. What a data loader executes "
    "per chunk; the corpus-wide work is only the index (see "
    "corpus_stream_chunk_index), never the token stream.",
)
def q_corpus_stream_chunk_assemble(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import text as _t

    docs = load_table(spark, sf_dir, "documents")
    idx = _t.stream_chunk_index(
        docs,
        chunk_tokens=CHUNK_TOKENS,
        salt=CHUNK_SALT,
        order_buckets=CHUNK_BUCKETS,
    )
    span = idx.where(
        (F.col("chunk_first") <= CHUNK_PICK)
        & (F.col("chunk_last") >= CHUNK_PICK)
    )
    toks = span.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "global_start",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "token"),
    )
    lo = CHUNK_PICK * CHUNK_TOKENS
    hi = (CHUNK_PICK + 1) * CHUNK_TOKENS
    gp = F.col("global_start") + F.col("i")
    return toks.select(
        gp.alias("global_pos"),
        (gp - lo).cast("long").alias("pos_in_chunk"),
        "doc_id",
        "token",
    ).where((F.col("global_pos") >= lo) & (F.col("global_pos") < hi))


# --------------------------------------------------------------------------
# Leakage-safe split assignment (near-dup clusters share a split)
# --------------------------------------------------------------------------


def _leakage_safe_oracle() -> str:
    from .queries_llm import _minhash_ctes

    rep = "COALESCE(c.cluster, d.doc_id)"
    bucket = (
        "CAST('0x' || substr(md5('split:' || CAST("
        + rep
        + " AS VARCHAR)), 1, 8) AS BIGINT) % 100"
    )
    return f"""
WITH RECURSIVE {_minhash_ctes()},
und AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
walk(node, comp) AS (
    SELECT u, u FROM und
    UNION
    SELECT e.v, w.comp FROM walk w JOIN und e ON w.node = e.u
),
clusters AS (SELECT node, MIN(comp) AS cluster FROM walk GROUP BY node)
SELECT d.doc_id, {rep} AS rep_id,
       CASE WHEN {bucket} < 90 THEN 'train'
            WHEN {bucket} < 95 THEN 'val' ELSE 'test' END AS split
FROM docs_dup d LEFT JOIN clusters c ON d.doc_id = c.node
"""


@register(
    "doc_split_leakage_safe",
    _leakage_safe_oracle(),
    doc="Leakage-safe train/val/test assignment: the split hash is keyed "
    "on each document's near-dup CLUSTER representative (MinHash-LSH "
    "pairs -> connected components -> min-id rep; singletons key on "
    "themselves), so near-duplicates can NEVER straddle the train/eval "
    "boundary — the contamination mode a plain per-doc hash split "
    "(doc_split_assignment) is blind to, and the post-GPT-2 eval-hygiene "
    "lesson every serious corpus applies. Same 90/5/5 buckets and salt "
    "as the per-doc split; same banded-LSH + CC machinery as the dedup "
    "family, so the marginal cost over dedup-you-already-run is one "
    "broadcast join.",
)
def q_doc_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup
    from .operators import text as _t
    from .operators.graph import connected_components
    from .queries_llm import MINHASH_BANDS, MINHASH_K, documents_with_dups

    d = documents_with_dups(spark, sf_dir)
    pairs = dedup.minhash_near_dup_pairs(
        d, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.7
    )
    clusters = connected_components(pairs)
    rep = F.coalesce(F.col("comp"), F.col("doc_id"))
    b = _t.split_bucket(rep)
    return (
        d.join(F.broadcast(clusters), d.doc_id == clusters.node, "left")
        .select(
            "doc_id",
            rep.alias("rep_id"),
            F.when(b < 90, "train")
            .when(b < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


# --------------------------------------------------------------------------
# Zipf exponent of the corpus token distribution, fitted in-engine
# --------------------------------------------------------------------------

ZIPF_MIN_COUNT = 2  # drop hapax tail: its staircase dominates the fit


@register(
    "corpus_zipf_fit",
    f"""
WITH tf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
),
ranked AS (
    SELECT c,
           CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS BIGINT)
               AS rank
    FROM tf WHERE c >= {ZIPF_MIN_COUNT}
),
xy AS (
    SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS xn,
           CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS yn
    FROM ranked
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xn) AS BIGINT) AS sx, CAST(SUM(yn) AS BIGINT) AS sy,
           SUM(CAST(xn AS HUGEINT) * CAST(yn AS HUGEINT)) AS sxy,
           SUM(CAST(xn AS HUGEINT) * CAST(xn AS HUGEINT)) AS sxx
    FROM xy
)
SELECT n AS n_ranks,
       CAST(ROUND(
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * 1000000) AS BIGINT) AS zipf_slope_micro
FROM s
""",
    doc="Zipf's-law exponent of the corpus token distribution, fitted "
    "IN the engine: token frequencies (one corpus pass), vocab-sized "
    "rank window, OLS of ln(freq) on ln(rank) over ranks with count >= "
    f"{ZIPF_MIN_COUNT} (the hapax staircase is excluded). Exactness "
    "discipline: ln() values are quantized to the 1e-6 grid as int64 "
    "BEFORE accumulation (transcendental-ulp parity rule) and the "
    "quadratic sums accumulate as exact decimal/hugeint — every sum is "
    "order-independent; doubles appear only in the final closed-form "
    "division. A healthy natural corpus fits slope ~ -1; "
    "a synthetic or collapsed corpus doesn't — a one-row datacard "
    "check at any scale (the heavy grain is the vocab-sized window, "
    "bounded by Heaps' law).",
)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import zipf_fit

    return zipf_fit(
        load_table(spark, sf_dir, "documents"), min_count=ZIPF_MIN_COUNT
    )


# --------------------------------------------------------------------------
# Content-defined chunking (operators/text.py:cdc_chunks)
# --------------------------------------------------------------------------

CDC_K = 8
CDC_MOD = 64


def _cdc_oracle_sql() -> str:
    from .operators.text import WINNOW_BASE

    poly = " + ".join(
        f"(CASE WHEN u.i + {j} <= len(cs)"
        f" THEN CAST(ascii(cs[u.i + {j}]) AS BIGINT) END)"
        f" * {WINNOW_BASE ** (CDC_K - 1 - j)}"
        for j in range(CDC_K)
    )
    return f"""
WITH base AS (
    SELECT doc_id, string_split(text, '') AS cs FROM documents
),
chars AS (
    SELECT doc_id, u.i AS i, cs[u.i] AS ch,
           {poly} AS h
    FROM base, UNNEST(range(1, CAST(len(cs) + 1 AS BIGINT))) AS u(i)
),
cutf AS (
    SELECT doc_id, i, ch,
           CASE WHEN h IS NOT NULL AND h % {CDC_MOD} = 0 THEN 1 ELSE 0 END
               AS cut
    FROM chars
),
seg AS (
    SELECT doc_id, i, ch,
           COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_idx
    FROM cutf
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(COUNT(*) AS BIGINT) AS n_chars,
       md5(string_agg(ch, '' ORDER BY i)) AS chunk_md5
FROM seg GROUP BY doc_id, chunk_idx
"""


@register(
    "doc_cdc_chunks",
    _cdc_oracle_sql(),
    doc="Content-defined chunking (Rabin/LBFS family): cut after every "
    f"character whose {CDC_K}-gram polynomial hash is 0 mod {CDC_MOD}, "
    f"so chunk boundaries are functions of CONTENT with expected length "
    f"{CDC_MOD} — an insertion shifts every fixed-offset block but only "
    "the 1-2 chunks containing the edit here, which is what makes "
    "chunk-digest dedup resilient to near-identical refetches (the "
    "storage-dedup primitive, corpus-side). Same relational rolling-"
    "hash formulation and int64 polynomial as winnowing; one doc-keyed "
    "shuffle (operators/text.py:cdc_chunks).",
)
def q_doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import cdc_chunks, widen_narrow_input

    return cdc_chunks(
        widen_narrow_input(load_table(spark, sf_dir, "documents")),
        k=CDC_K,
        boundary_mod=CDC_MOD,
    )


# Crawl QA: canonical-URL / content agreement audit
# --------------------------------------------------------------------------


def _url_conflict_oracle() -> str:
    # shares the round-7 URL synthesis/canonicalization renderings, so
    # the two modules can never drift apart
    from .queries_round7 import _sql_canon_url, _url_synth_sql

    return f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url, md5(text) AS fp
    FROM documents
),
canon AS (
    SELECT doc_id, {_sql_canon_url("url")} AS url_canon, fp FROM urls
)
SELECT url_canon,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_contents,
       MIN(doc_id) AS first_doc_id
FROM canon
GROUP BY url_canon
HAVING COUNT(DISTINCT fp) > 1
"""


@register(
    "web_url_content_conflicts",
    _url_conflict_oracle(),
    doc="Crawl-QA audit: canonical URLs whose documents DISAGREE on "
    "content (distinct text fingerprints under one canonical URL) — "
    "soft-404s, A/B-served pages, bot-cloaked content, or a broken "
    "canonicalizer, all of which poison URL-level dedup (the keeper "
    "silently represents content it doesn't have). One exchange keyed "
    "on the canonical URL with map-side distinct-fp collapse; emits "
    "only the conflicted groups. The synthesized corpus guarantees "
    "conflicts: URL groups collapse doc_id/URL_GROUP_DIV consecutive "
    "docs whose texts differ.",
)
def q_web_url_content_conflicts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import web as _web

    d = load_table(spark, sf_dir, "documents")
    canon = d.select(
        "doc_id", _web.synth_url().alias("url"), F.md5("text").alias("fp")
    ).select(
        "doc_id",
        _web.canon_parts("url")["url_canon"].alias("url_canon"),
        "fp",
    )
    return (
        canon.groupBy("url_canon")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_contents"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_contents") > 1)
    )


# --------------------------------------------------------------------------
# Code-switching detector: segment-level language mix per document
# --------------------------------------------------------------------------

CS_SEG_TOKENS = 16


def _codeswitch_oracle() -> str:
    from .operators import text as _t

    score = {
        lang: (
            "len(list_filter(list_distinct(string_split(seg, ' ')),"
            " t -> t IN ({})))".format(
                ",".join(f"'{m}'" for m in markers)
            )
        )
        for lang, markers in sorted(_t.LANG_MARKERS.items())
    }
    case = "CASE " + " ".join(
        f"WHEN {score[lang]} > 0 AND {score[lang]} = g.best THEN '{lang}'"
        for lang in sorted(score)
    ) + " ELSE 'und' END"
    best = ", ".join(score[lang] for lang in sorted(score))
    s = CS_SEG_TOKENS
    return f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE len(string_split(text, ' ')) >= {s}
),
segs AS (
    SELECT doc_id,
           array_to_string(list_slice(toks, i * {s} + 1,
                                      i * {s} + {s}), ' ') AS seg
    FROM base, UNNEST(range(0, CAST(len(toks) // {s} AS BIGINT))) AS u(i)
),
scored AS (
    SELECT doc_id, {case} AS pred
    FROM segs, LATERAL (SELECT greatest({best}) AS best) g
),
per AS (SELECT doc_id, pred, COUNT(*) AS c FROM scored GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_segments,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       CAST(ROUND(MAX(c) * 1000000.0 / SUM(c)) AS BIGINT) AS majority_ppm
FROM per GROUP BY doc_id
"""


@register(
    "doc_codeswitch_segments",
    _codeswitch_oracle(),
    doc="Code-switching detector: language-ID applied per "
    f"{CS_SEG_TOKENS}-token SEGMENT instead of per document, rolled up "
    "to (n_segments, n_langs, majority-language ppm) per doc — a "
    "document-level lang label hides mixed-language documents that "
    "poison monolingual training mixes, and the segment grain is what "
    "CCNet-style pipelines actually filter on. Pure per-row slicing + "
    "the shared marker heuristic (same LANG_MARKERS constants, two "
    "renderings), one doc-keyed two-level aggregate; remainder tokens "
    "below one segment are excluded (the fixture rule the intradoc "
    "segment ops already follow).",
)
def q_doc_codeswitch_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import lang_pred_col, tokens

    s = CS_SEG_TOKENS
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = docs.where(F.size(toks) >= s).select(
        "doc_id", toks.alias("toks")
    )
    segs = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), (F.size("toks") / s).cast("long") - 1
                ),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * s + 1, s), " "
                ),
            )
        ).alias("seg"),
    )
    scored = segs.select("doc_id", lang_pred_col(F.col("seg")).alias("pred"))
    per = scored.groupBy("doc_id", "pred").agg(F.count("*").alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_segments"),
        F.count("*").alias("n_langs"),
        F.round(F.max("c") * 1_000_000.0 / F.sum("c"))
        .cast("long")
        .alias("majority_ppm"),
    )


# --------------------------------------------------------------------------
# Embedding-space class geometry (operators/similarity.py:label_centroid_cosines)
# --------------------------------------------------------------------------


@register(
    "embedding_label_centroid_cosines",
    """
WITH comp AS (
    SELECT label AS lbl, u.i AS dim,
           CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS q
    FROM embeddings,
         UNNEST(range(1, CAST(len(embedding) + 1 AS BIGINT))) AS u(i)
),
sums AS (
    SELECT lbl, dim, CAST(SUM(q) AS BIGINT) AS s
    FROM comp GROUP BY lbl, dim
),
norms AS (
    SELECT lbl, SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS nn
    FROM sums GROUP BY lbl
),
dots AS (
    SELECT a.lbl AS label_a, b.lbl AS label_b,
           SUM(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dot
    FROM sums a JOIN sums b ON a.dim = b.dim AND a.lbl < b.lbl
    GROUP BY a.lbl, b.lbl
)
SELECT d.label_a, d.label_b,
       CASE WHEN na.nn > 0 AND nb.nn > 0 THEN
           CAST(ROUND(CAST(d.dot AS DOUBLE)
                / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE))
                * 1000000000) AS BIGINT) / 1e9
       END AS cos
FROM dots d
JOIN norms na ON d.label_a = na.lbl
JOIN norms nb ON d.label_b = nb.lbl
""",
    doc="Inter-centroid cosine matrix of the labeled embedding space — "
    "which classes are geometrically confusable, the diagnostic behind "
    "mixture design, IVF cell sizing, and hard-negative selection. "
    "Exactness: components quantize to the 1e-6 int64 grid, and since "
    "cos(centroid_a, centroid_b) = cos(sum_a, sum_b) (1/n factors "
    "cancel) every dot/norm accumulates as exact decimal/hugeint over "
    "the dim-aligned join — order-independent; doubles only in the "
    "final cos, nano-quantized. One corpus pass to a labels x dims "
    "table, then label-pair work on that tiny table: the corpus is "
    "never self-joined.",
)
def q_embedding_label_centroid_cosines(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.similarity import label_centroid_cosines

    return label_centroid_cosines(load_table(spark, sf_dir, "embeddings"))
