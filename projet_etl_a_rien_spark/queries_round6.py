"""Round-6 registrations: inverted-index build, PMI collocations, DSIR
importance weighting, BPE tokenizer train/encode, and snapshot diff.

Imported for its registration side effects by ``queries._load_extensions``;
same parity rules as every other registration module (adjacent DuckDB
oracle, identical aliases, exactmath nano-grid quantization for every
transcendental at the vocab/bucket level). Both BPE entries carry full
DuckDB oracles: the encode half as a frozen-merge-table replace chain
(r7), and the LEARN half as a bounded unrolled iteration — num_merges
is a fixed constant, so the sequential argmax/rewrite loop unrolls to
one MATERIALIZED CTE block per merge (r7); both are additionally
pinned by property tests against a pure-Python reference
(tests/test_round6.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import bpe, retrieval, selection
from .queries import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "doc_inverted_index",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
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
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT post.token, post.id AS doc_id, tf, first_pos, last_pos, df_docs, cf,
       CAST(ROUND(ln((n_docs + 1.0) / (df_docs + 1.0)) * 1000000000) AS BIGINT)
           / 1e9 AS idf
FROM post JOIN st ON post.token = st.token, n
""",
    doc="Positional inverted-index postings (token, doc, tf, first/last "
    "pos, df, cf, smoothed idf) — the materialized search-index build; "
    "(token, id)-keyed shuffle so stopword postings spread, vocab-level "
    "nano-grid idf.",
)
def q_doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.inverted_index(_docs(spark, sf_dir))


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


@register(
    "doc_pmi_collocations",
    f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
bi AS (
    SELECT unnest(list_transform(range(1, len(ts)),
                                 i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS u
    FROM toks WHERE len(ts) >= 2
),
bm AS (
    SELECT u.a AS t1, u.b AS t2, COUNT(*) AS c_xy
    FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
uni AS (SELECT unnest(ts) AS token FROM toks),
um AS (SELECT token, COUNT(*) AS c_t FROM uni GROUP BY 1),
tot AS (
    SELECT CAST(SUM(len(ts)) AS BIGINT) AS n_uni,
           CAST(SUM(greatest(len(ts) - 1, 0)) AS BIGINT) AS n_bi
    FROM toks
),
scored AS (
    SELECT t1, t2, c_xy,
           CAST(ROUND(ln((CAST(c_xy AS DOUBLE) / n_bi) /
                         ((CAST(x.c_t AS DOUBLE) / n_uni)
                          * (CAST(y.c_t AS DOUBLE) / n_uni)))
                      * 1000000000) AS BIGINT) AS pmi_nano
    FROM bm JOIN um x ON bm.t1 = x.token JOIN um y ON bm.t2 = y.token, tot
)
SELECT t1, t2, c_xy, pmi_nano / 1e9 AS pmi
FROM scored
ORDER BY pmi_nano DESC, t1, t2
LIMIT {PMI_TOP_K}
""",
    doc="Top-20 adjacent-pair collocations by PMI (Church & Hanks), "
    "min pair count 5 against the hapax artifact; vocab-level nano-grid "
    "ln, TakeOrderedAndProject top-k (heap + driver merge of k rows, no "
    "global sort), deterministic (pmi, t1, t2) tie-break.",
)
def q_doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.pmi_collocations(
        _docs(spark, sf_dir), min_count=PMI_MIN_COUNT, top_k=PMI_TOP_K
    )


DSIR_BUCKETS = 256
DSIR_TARGET_SOURCE = "src0"


@register(
    "dsir_importance_weights",
    f"""
WITH tok AS (
    SELECT doc_id AS id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
occ AS (
    SELECT id, is_target,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {DSIR_BUCKETS} AS b
    FROM tok
),
hist AS (
    SELECT b, COUNT(*) AS cnt_raw,
           CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_tgt
    FROM occ GROUP BY b
),
tot AS (
    SELECT CAST(SUM(cnt_raw) AS BIGINT) AS tot_raw,
           CAST(SUM(cnt_tgt) AS BIGINT) AS tot_tgt
    FROM hist
),
llr AS (
    SELECT b,
           CAST(ROUND((ln((cnt_tgt + 1.0) / (tot_tgt + {DSIR_BUCKETS}.0))
                       - ln((cnt_raw + 1.0) / (tot_raw + {DSIR_BUCKETS}.0)))
                      * 1000000000) AS BIGINT) AS llr_nano
    FROM hist, tot
),
pdb AS (SELECT id, b, COUNT(*) AS n_b FROM occ GROUP BY 1, 2)
SELECT id AS doc_id, CAST(SUM(n_b) AS BIGINT) AS n_tokens,
       CAST(SUM(n_b * llr_nano) AS BIGINT) / 1e9 AS logweight
FROM pdb JOIN llr USING (b)
GROUP BY id
""",
    doc="DSIR importance log-weights (Xie et al. 2023): per-doc "
    "sum of hashed-unigram log-likelihood ratios target-vs-raw, "
    "add-one smoothing over 256 md5 buckets; the LLR table is O(1)-"
    "sized and broadcast, the histogram and per-doc fold are the two "
    "corpus-scale shuffles.",
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return selection.dsir_logweights(
        _docs(spark, sf_dir),
        F.col("source") == DSIR_TARGET_SOURCE,
        n_buckets=DSIR_BUCKETS,
    )


def _bpe_learn_oracle(num_merges: int = 10, min_count: int = 2) -> str:
    """DuckDB oracle for BPE merge LEARNING — the loop is iterative, but
    ``num_merges`` is a fixed constant, so it unrolls: one CTE block per
    merge (pair counts from the current symbol strings → 1-row argmax
    with the (count desc, l, r) tie-break → anchored boundary-replace
    rewrite, the same ⊔l⊔⊔r⊔ → ⊔lr⊔ trick the encode oracle uses).

    Early stop (max pair count < ``min_count``) is reproduced by a
    PER-ITERATION gate, which equals the global stop by monotonicity:
    a below-threshold argmax leaves the table unchanged, so every later
    iteration re-finds the same below-threshold pair and emits nothing.

    ``MATERIALIZED`` on each per-iteration CTE is essential: the rewrite
    references the previous state twice (FROM + the top-pair join), so
    default CTE inlining would expand the chain exponentially
    (2^num_merges scans of the corpus)."""
    S = "chr(30)"

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    ctes = [
        "occ AS (SELECT unnest(string_split(text, ' ')) AS word"
        " FROM documents)",
        "occ2 AS (SELECT word FROM occ WHERE word <> '')",
        "wc AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM occ2"
        " GROUP BY word)",
        f"r0 AS MATERIALIZED (SELECT cnt, regexp_replace(word, '(.)',"
        f" {S} || '\\1' || {S}, 'g') || {S} || {q(bpe.END)} || {S} AS rep"
        " FROM wc)",
    ]
    outs = []
    prev = "r0"
    for i in range(1, num_merges + 1):
        ctes.append(
            f"p{i} AS (SELECT u.l AS l, u.r AS r, CAST(SUM(cnt) AS BIGINT)"
            f" AS n FROM (SELECT cnt, unnest(list_transform(range(1,"
            f" len(ss)), j -> struct_pack(l := ss[j], r := ss[j + 1]))) AS u"
            f" FROM (SELECT cnt, string_split(trim(rep, {S}), {S} || {S})"
            f" AS ss FROM {prev}) WHERE len(ss) >= 2) GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{i} AS MATERIALIZED (SELECT l, r, n FROM p{i}"
            " ORDER BY n DESC, l ASC, r ASC LIMIT 1)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT cnt, CASE WHEN t.n >= {min_count}"
            f" THEN replace(rep, {S} || t.l || {S} || {S} || t.r || {S},"
            f" {S} || t.l || t.r || {S}) ELSE rep END AS rep"
            f" FROM {prev}, t{i} t)"
        )
        prev = f"r{i}"
        outs.append(
            f'SELECT CAST({i} AS INTEGER) AS rank, l AS "left",'
            f' r AS "right", n AS pair_count FROM t{i}'
            f" WHERE n >= {min_count}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


@register(
    "bpe_learn_merges",
    _bpe_learn_oracle(num_merges=10, min_count=2),
    doc="Word-level BPE merge learning (Sennrich 2016): 10 merges over "
    "the corpus word-count table; per-iteration JVM pair-count groupBy + "
    "1-row argmax + greedy F.aggregate rewrite with localCheckpoint "
    "lineage truncation. Deterministic (count desc, pair asc) tie-break. "
    "The oracle unrolls the bounded loop into one MATERIALIZED CTE block "
    "per merge (argmax + anchored boundary-replace), with the early-stop "
    "gate reproduced per iteration — so even the registry's iterative "
    "entry is hash-exact against DuckDB; the pure-Python property test "
    "(tests/test_round6.py) remains as an independent third opinion.",
)
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe.bpe_merge_table(spark, _docs(spark, sf_dir), num_merges=10)


def _bpe_encode_oracle(merges: list[tuple[int, str, str, int]]) -> str:
    """DuckDB oracle for frozen-merge-table BPE encoding.

    The greedy left-to-right non-overlapping merge over a symbol array
    is EXACTLY one anchored string ``replace`` per merge when each
    symbol is flanked by a separator on BOTH sides (double separator
    between symbols): pattern ``⊔l⊔⊔r⊔`` → ``⊔lr⊔``. The flanks pin
    matches to symbol boundaries; consuming both symbols' flanks makes
    matches non-overlapping exactly like the fold ("aaa" under (a,a) →
    ["aa","a"], "aaaa" → ["aa","aa"] — both verified in tests). The
    separator is chr(30); valid because the corpus alphabet is
    [a-y ] (no control chars) — an ORACLE assumption only, the Spark
    side folds over arrays and needs no separator.
    """

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    S = "chr(30)"
    ctes = [
        "occ AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS word"
        " FROM documents)",
        "occ2 AS (SELECT id, word FROM occ WHERE word <> '')",
        "w AS (SELECT DISTINCT word FROM occ2)",
        f"r0 AS (SELECT word, regexp_replace(word, '(.)', {S} || '\\1' || {S},"
        f" 'g') || {S} || {q(bpe.END)} || {S} AS rep FROM w)",
    ]
    prev = "r0"
    for i, (_rank, left, right, _n) in enumerate(merges, start=1):
        pat = f"{S} || {q(left)} || {S} || {S} || {q(right)} || {S}"
        rep = f"{S} || {q(left + right)} || {S}"
        ctes.append(
            f"r{i} AS (SELECT word, replace(rep, {pat}, {rep}) AS rep"
            f" FROM {prev})"
        )
        prev = f"r{i}"
    ctes.append(
        f"lens AS (SELECT word, CAST(len(string_split(rep, {S} || {S}))"
        f" AS BIGINT) AS n_sym FROM {prev})"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT id AS doc_id, COUNT(*) AS n_words,\n"
        "       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,\n"
        "       CAST(SUM(n_sym) AS BIGINT) / COUNT(*) AS bpe_per_word\n"
        "FROM occ2 JOIN lens USING (word)\n"
        "GROUP BY id"
    )


@register(
    "corpus_bpe_encode_stats",
    _bpe_encode_oracle(bpe.FIXED_MERGES),
    doc="Tokenizer-application half of the BPE loop: per-doc word/BPE-"
    "token counts under the FROZEN 10-merge table (bpe.FIXED_MERGES — "
    "learned once, shipped, applied everywhere: the production "
    "deployment shape). Rank-ordered greedy merge passes over the "
    "distinct-word table, vocab-sized throughout; freezing the table "
    "makes encoding non-iterative, so this entry carries a full "
    "hash-exact DuckDB oracle (anchored replace-chain rewrite).",
)
def q_corpus_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe.apply_bpe_merges(_docs(spark, sf_dir), bpe.FIXED_MERGES)


@register(
    "orders_snapshot_diff",
    """
WITH o AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
neww AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM o WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
    FROM o WHERE o_orderkey % 11 = 0
),
d AS (
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_custkey
                ELSE o.o_custkey END AS o_custkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
                ELSE o.o_orderstatus END AS o_orderstatus,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
                ELSE o.o_totalprice END AS o_totalprice,
           CASE WHEN n.o_orderkey IS NOT NULL THEN 'U' ELSE 'D' END AS op,
           (n.o_orderkey IS NOT NULL AND o.o_orderkey IS NOT NULL
            AND n.o_custkey IS NOT DISTINCT FROM o.o_custkey
            AND n.o_orderstatus IS NOT DISTINCT FROM o.o_orderstatus
            AND n.o_totalprice IS NOT DISTINCT FROM o.o_totalprice)
               AS unchanged
    FROM o FULL OUTER JOIN neww n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, op
FROM d WHERE NOT unchanged
""",
    doc="Snapshot diff (table-format incremental read): full-outer join "
    "two keyed versions into a minimal CDC changelog — U carries new "
    "values (insert==upsert), D marks vanished keys, unchanged keys "
    "emit nothing; null-safe per-column compare. Inverse of "
    "apply_changes (roundtrip property-pinned). One co-partitioned "
    "shuffle. Fixture: deletes keys %7, bumps price on %5, inserts "
    "offset copies of %11.",
)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.compaction import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    new = (
        o.where(k % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 5 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.where(k % 11 == 0).select(
                (k + 10_000_000).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    return snapshot_diff(o, new, ["o_orderkey"])


@register(
    "streaming_inverted_index_ingest",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
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
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT post.token, post.id AS doc_id, tf, first_pos, last_pos, df_docs, cf,
       CAST(ROUND(ln((n_docs + 1.0) / (df_docs + 1.0)) * 1000000000) AS BIGINT)
           / 1e9 AS idf
FROM post JOIN st ON post.token = st.token, n
""",
    doc="Incremental inverted-index maintenance, sink-is-the-state: a "
    "streaming pass over even doc_ids lands postings partials "
    "(idempotent parts/batch_id=N), compaction folds them by plain "
    "union (postings of distinct docs are disjoint rows), then a batch "
    "partial for odd docs lands ABOVE the fold watermark; the folded "
    "sink + read-time df/cf/idf stats equal the one-shot batch index, "
    "which the oracle asserts. The sink stores what is incremental and "
    "recomputes what any batch would invalidate (corpus-global stats).",
)
def q_streaming_inverted_index_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        _snapshot_version,
        read_postings_sink_with_stats,
        write_postings_partial,
    )
    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_incremental_postings_sink,
    )

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="invsink_")
    try:
        even = docs_stream(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
        run_incremental_postings_sink(even, path)
        odd = _docs(spark, sf_dir).where(F.col("doc_id") % 2 == 1)
        write_postings_partial(
            odd, path, batch_id=_snapshot_version(spark, path) + 1
        )
        # serve through the stored-stats path: snapshot stats written at
        # compaction + additive merge with the odd-docs partial landed
        # above the fold watermark (the oracle pins it equal to the
        # one-shot batch index, so the merge itself is hash-checked)
        return read_postings_sink_with_stats(spark, path).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


SEG_TOKENS_R6 = 10


@register(
    "doc_intradoc_dedup_rewrite",
    f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= {SEG_TOKENS_R6}
),
segs AS (
    SELECT doc_id, i AS pos,
           array_to_string(list_slice(toks, i * {SEG_TOKENS_R6} + 1,
                                      i * {SEG_TOKENS_R6} + {SEG_TOKENS_R6}), ' ') AS seg
    FROM base, UNNEST(range(0, CAST(len(toks) // {SEG_TOKENS_R6} AS BIGINT))) AS u(i)
),
ranked AS (
    SELECT doc_id, pos, seg,
           ROW_NUMBER() OVER (PARTITION BY doc_id, md5(seg)
                              ORDER BY doc_id, pos) AS rn
    FROM segs
)
SELECT doc_id,
       COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '')
           AS clean_text,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
FROM ranked
GROUP BY doc_id
""",
    doc="WITHIN-document segment dedup rewrite (Gopher's in-doc "
    "repetition removal as a transform): keep each 10-token segment's "
    "first occurrence inside its own doc, leave cross-doc duplication "
    "to the corpus-level pass. Doc-local window — the shuffle key "
    "includes the doc id, so segment skew is bounded by one document "
    "and the reassembly reuses the same key.",
)
def q_doc_intradoc_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import text as _text

    return _text.segment_dedup_rewrite(
        _docs(spark, sf_dir), seg_tokens=SEG_TOKENS_R6, within_doc=True
    )


@register(
    "streaming_dsir_gate",
    f"""
WITH tok AS (
    SELECT doc_id AS id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
occ AS (
    SELECT id, is_target,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {DSIR_BUCKETS} AS b
    FROM tok
),
hist AS (
    SELECT b, COUNT(*) AS cnt_raw,
           CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_tgt
    FROM occ GROUP BY b
),
tot AS (
    SELECT CAST(SUM(cnt_raw) AS BIGINT) AS tot_raw,
           CAST(SUM(cnt_tgt) AS BIGINT) AS tot_tgt
    FROM hist
),
llr AS (
    SELECT b,
           CAST(ROUND((ln((cnt_tgt + 1.0) / (tot_tgt + {DSIR_BUCKETS}.0))
                       - ln((cnt_raw + 1.0) / (tot_raw + {DSIR_BUCKETS}.0)))
                      * 1000000000) AS BIGINT) AS llr_nano
    FROM hist, tot
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(llr_nano) AS BIGINT) AS lw_nano
    FROM occ JOIN llr USING (b)
    GROUP BY id
),
thr AS (
    SELECT CAST(SUM(lw_nano) AS BIGINT) AS total_nano,
           COUNT(*) AS n_docs FROM scored
)
SELECT doc_id, n_tokens, lw_nano / 1e9 AS logweight
FROM scored, thr
WHERE lw_nano * n_docs >= total_nano
""",
    doc="DSIR as an INGEST gate: the LLR model is fitted on the batch "
    "corpus (frozen), a document stream is scored by stream-static "
    "broadcast join + one stateful per-doc aggregation (per-occurrence "
    "llr sum is integer-identical to the batch per-bucket fold), and "
    "docs at or above the corpus-mean log-weight pass — the comparison "
    "runs in integer nano space (lw·n >= Σlw, no division) so the "
    "threshold is exact on both engines. The deployment shape DSIR is "
    "built for: fit once, gate the firehose.",
)
def q_streaming_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_bounded,
    )

    apply_runtime_confs(spark)
    llr = selection.dsir_llr_table(
        _docs(spark, sf_dir),
        F.col("source") == DSIR_TARGET_SOURCE,
        n_buckets=DSIR_BUCKETS,
    ).localCheckpoint(eager=True)  # freeze the model before the stream runs
    doc_stream = docs_stream(spark, sf_dir)
    scored = selection.dsir_score_stream(
        doc_stream, llr, n_buckets=DSIR_BUCKETS
    )
    # lw_nano is carried through the sink as the exact BIGINT nano sum
    # (never reconstructed from the double — that loses bits past ~2^52)
    batch = run_bounded(scored, mode="complete")
    thr = batch.agg(
        F.sum("lw_nano").alias("total_nano"), F.count("*").alias("n_docs")
    )
    return (
        batch.crossJoin(F.broadcast(thr))
        .where(F.col("lw_nano") * F.col("n_docs") >= F.col("total_nano"))
        .select("doc_id", "n_tokens", "logweight")
    )


PHRASE = ["table", "hash"]


@register(
    "docs_phrase_search",
    f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
p0 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[0]}'),
p1 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[1]}')
SELECT p0.id AS doc_id, COUNT(*) AS n_matches,
       CAST(MIN(p0.pos) AS BIGINT) AS first_pos
FROM p0 JOIN p1 ON p0.id = p1.id AND p1.pos = p0.pos + 1
GROUP BY p0.id
""",
    doc="Exact phrase query ('table hash') — the workload a POSITIONAL "
    "index exists for: posexplode pruned to the phrase's tokens, then "
    "(id, pos+offset) equi-joins; candidate volume is bounded by the "
    "rarer token's posting list, no document substring scan.",
)
def q_docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.phrase_search(_docs(spark, sf_dir), PHRASE)


@register(
    "docs_conjunctive_bm25_topk",
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
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(w_nano) AS BIGINT) AS bm25_nano
    FROM per GROUP BY id
    HAVING COUNT(*) = 3
)
SELECT doc_id, n_terms_matched, bm25_nano / 1e9 AS bm25
FROM scored
ORDER BY bm25_nano DESC, doc_id
LIMIT 10
""",
    doc="Conjunctive (AND) BM25 top-10: docs containing ALL of "
    "(vector, stream, window) ranked by BM25 — selection is a HAVING "
    "over the matched-term count the scorer already computes (no extra "
    "corpus pass); TakeOrderedAndProject top-k, (score, doc_id) "
    "tie-break on the nano grid.",
)
def q_docs_conjunctive_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_round4 import BM25_QUERY_TERMS

    return retrieval.conjunctive_bm25_topk(
        _docs(spark, sf_dir), BM25_QUERY_TERMS, k=10
    )


@register(
    "docs_bm25_hard_negatives",
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
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(w_nano) AS BIGINT) AS bm25_nano
    FROM per GROUP BY id
    HAVING COUNT(*) < 3
)
SELECT doc_id, n_terms_matched, bm25_nano / 1e9 AS bm25
FROM scored
ORDER BY bm25_nano DESC, doc_id
LIMIT 10
""",
    doc="BM25 hard-negative mining for contrastive retrieval training: "
    "the top-scoring docs that match SOME but not ALL query terms — "
    "lexically close, semantically incomplete, exactly the negatives "
    "a dual-encoder needs. Same scorer pass as the conjunctive search "
    "with the HAVING inverted; TakeOrderedAndProject top-k.",
)
def q_docs_bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_round4 import BM25_QUERY_TERMS

    scored = retrieval.bm25_scores(_docs(spark, sf_dir), BM25_QUERY_TERMS)
    return (
        scored.where(F.col("n_terms_matched") < len(BM25_QUERY_TERMS))
        .withColumn("bm25_nano", F.round(F.col("bm25") * 1e9).cast("long"))
        .orderBy(F.desc("bm25_nano"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", "n_terms_matched", "bm25")
    )


DSIR_BUDGET = 15_000
DSIR_QB = 1000


@register(
    "dsir_token_budget_selection",
    f"""
WITH tok AS (
    SELECT doc_id AS id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
occ AS (
    SELECT id, is_target,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {DSIR_BUCKETS} AS b
    FROM tok
),
hist AS (
    SELECT b, COUNT(*) AS cnt_raw,
           CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_tgt
    FROM occ GROUP BY b
),
tot AS (
    SELECT CAST(SUM(cnt_raw) AS BIGINT) AS tot_raw,
           CAST(SUM(cnt_tgt) AS BIGINT) AS tot_tgt
    FROM hist
),
llr AS (
    SELECT b,
           CAST(ROUND((ln((cnt_tgt + 1.0) / (tot_tgt + {DSIR_BUCKETS}.0))
                       - ln((cnt_raw + 1.0) / (tot_raw + {DSIR_BUCKETS}.0)))
                      * 1000000000) AS BIGINT) AS llr_nano
    FROM hist, tot
),
pdb AS (SELECT id, b, COUNT(*) AS n_b FROM occ GROUP BY 1, 2),
scored AS (
    SELECT id AS doc_id, CAST(SUM(n_b) AS BIGINT) AS n_tokens,
           CAST(SUM(n_b * llr_nano) AS BIGINT) AS lw_nano
    FROM pdb JOIN llr USING (b)
    GROUP BY id
),
sel AS (
    SELECT doc_id, n_tokens, lw_nano,
           CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY lw_nano DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
    FROM scored
)
SELECT doc_id, n_tokens, lw_nano / 1e9 AS logweight, tokens_before
FROM sel WHERE tokens_before < {DSIR_BUDGET}
""",
    doc="DSIR-ranked greedy selection under a {:,}-token budget: most "
    "target-like docs first until the budget is spent. Spec is a "
    "cumulative prefix over (logweight desc, id) — executed WITHOUT a "
    "global sort via monotone affine nano-weight buckets (integer div; "
    "bucket-cum broadcast + bucket-partitioned window), the same "
    "decomposition as corpus_token_budget_selection.".format(DSIR_BUDGET),
)
def q_dsir_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return selection.dsir_token_budget_selection(
        _docs(spark, sf_dir),
        F.col("source") == DSIR_TARGET_SOURCE,
        budget=DSIR_BUDGET,
        n_buckets=DSIR_BUCKETS,
        quality_buckets=DSIR_QB,
    )


K_ANON = 5


@register(
    "customers_k_anonymity",
    f"""
WITH qi AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
    FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, group_size,
       group_size < {K_ANON} AS at_risk
FROM qi
""",
    doc="k-anonymity audit over the (nation, market-segment) quasi-"
    "identifier: group sizes with a re-identification risk flag for "
    "groups under k=5 — the governance check a training-data release "
    "runs next to right-to-erasure. One groupBy on the QI columns; at "
    "100 TB the QI-combination table is dimension-sized.",
)
def q_customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    qi = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
    )
    return qi.select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        (F.col("group_size") < K_ANON).alias("at_risk"),
    )


@register(
    "streaming_index_phrase_search",
    f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
p0 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[0]}'),
p1 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[1]}')
SELECT p0.id AS doc_id, COUNT(*) AS n_matches,
       CAST(MIN(p0.pos) AS BIGINT) AS first_pos
FROM p0 JOIN p1 ON p0.id = p1.id AND p1.pos = p0.pos + 1
GROUP BY p0.id
""",
    doc="The full index loop, end to end: documents STREAM into the "
    "incremental postings sink (micro-batch partials + snapshot "
    "compaction), then the phrase query runs FROM the folded index's "
    "position lists — never touching document text. Result equals the "
    "direct corpus phrase scan, which the oracle asserts.",
)
def q_streaming_index_phrase_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_incremental_postings_sink,
    )

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="invq_")
    try:
        doc_stream = docs_stream(spark, sf_dir)
        folded = run_incremental_postings_sink(doc_stream, path)
        return retrieval.phrase_search_postings(
            folded, PHRASE
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_index_bm25_topk",
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
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(w_nano) AS BIGINT) AS bm25_nano
    FROM per GROUP BY id
)
SELECT doc_id, n_terms_matched, bm25_nano / 1e9 AS bm25
FROM scored
ORDER BY bm25_nano DESC, doc_id
LIMIT 10
""",
    doc="Ranking off the streamed index: documents stream into the "
    "incremental postings sink, and BM25 top-10 is computed FROM the "
    "folded index (tf from matching postings, doc length as the "
    "per-doc tf sum, df/constants from the same table — no text "
    "access). Equals the direct text scorer, which the oracle asserts; "
    "index maintenance therefore gives incrementally-correct ranking.",
)
def q_streaming_index_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .queries_round4 import BM25_QUERY_TERMS
    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_incremental_postings_sink,
    )

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="invbm_")
    try:
        from .operators.compaction import bm25_from_sink

        doc_stream = docs_stream(spark, sf_dir)
        run_incremental_postings_sink(doc_stream, path)
        # serve THROUGH the materialized sink tables: tf from a
        # token-pushdown postings scan, dl/avgdl/n_docs from the
        # compaction-time dlen table — no corpus-scale pass per query
        scored = bm25_from_sink(spark, path, BM25_QUERY_TERMS)
        return (
            scored.withColumn(
                "bm25_nano", F.round(F.col("bm25") * 1e9).cast("long")
            )
            .orderBy(F.desc("bm25_nano"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", "n_terms_matched", "bm25")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _dft_oracle_sql() -> str:
    """DuckDB oracle sharing the SAME Python-computed twiddle literals
    as the Spark plan (operators/wav.py:_dft_twiddles) — neither engine
    evaluates cos/sin, so parity is exact integer arithmetic."""
    from .operators.wav import DFT_N, _dft_twiddles

    c, s = _dft_twiddles()
    samp_cols = ",\n           ".join(
        "CASE WHEN CAST('0x' || substr(hx, {o1}, 2) AS BIGINT)"
        " + 256 * CAST('0x' || substr(hx, {o2}, 2) AS BIGINT) >= 32768"
        " THEN CAST('0x' || substr(hx, {o1}, 2) AS BIGINT)"
        " + 256 * CAST('0x' || substr(hx, {o2}, 2) AS BIGINT) - 65536"
        " ELSE CAST('0x' || substr(hx, {o1}, 2) AS BIGINT)"
        " + 256 * CAST('0x' || substr(hx, {o2}, 2) AS BIGINT) END AS v{j}".format(
            o1=4 * j + 1, o2=4 * j + 3, j=j
        )
        for j in range(DFT_N)
    )
    pow_cols = []
    for k in range(DFT_N // 2 + 1):
        re = " + ".join(f"v{j} * ({c[j][k]})" for j in range(DFT_N))
        im = " + ".join(f"v{j} * ({s[j][k]})" for j in range(DFT_N))
        pow_cols.append(f"(({re}) * ({re}) + ({im}) * ({im})) AS p{k}")
    ac = [f"p{k}" for k in range(1, DFT_N // 2 + 1)]
    arms = " ".join(
        f"WHEN greatest({', '.join(ac)}) = p{k} THEN {k}"
        for k in range(1, DFT_N // 2 + 1)
    )
    return f"""
WITH raw AS (
    SELECT doc_id, hex(encode(text)) AS hx FROM documents
    WHERE octet_length(encode(text)) >= {2 * DFT_N}
),
samp AS (
    SELECT doc_id,
           {samp_cols}
    FROM raw
),
pw AS (
    SELECT doc_id, {", ".join(pow_cols)} FROM samp
)
SELECT doc_id, p0 AS dc_power,
       CASE {arms} END AS dominant_bin,
       greatest({", ".join(ac)}) AS dominant_power,
       {" + ".join(ac)} AS total_ac_power
FROM pw
"""


from .operators.wav import DFT_N as _DFT_N  # noqa: E402


@register(
    "audio_spectral_features",
    _dft_oracle_sql(),
    doc="Exact-integer DFT power spectrum over each payload's first "
    f"{_DFT_N} int16-LE samples: quantized twiddle tables (round(cos"
    "*1000)) are Python-computed literals shared by BOTH engines — no "
    "transcendental ever runs, every product/sum is exact int64. "
    "Reports DC power, dominant AC bin (tie → smaller bin), its power, "
    "and total AC power. One narrow projection, no shuffle, no Python.",
)
def q_audio_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal
    from .operators.text import widen_narrow_input
    from .operators.wav import spectral_features

    return spectral_features(
        multimodal.with_binary_payload(
            widen_narrow_input(_docs(spark, sf_dir), "doc_id")
        )
    )


@register(
    "corpus_shard_manifest",
    """
WITH h AS (
    SELECT doc_id, text,
           md5(CAST(doc_id AS VARCHAR) || 'r5shuffle') AS hx
    FROM documents
),
assigned AS (
    SELECT CAST(CAST('0x' || substr(hx, 1, 8) AS BIGINT) % 16 AS INTEGER)
               AS shard,
           doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_h
    FROM h
)
SELECT shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       bit_xor(content_h) AS content_checksum,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM assigned
GROUP BY shard
""",
    doc="Training-shard integrity manifest (the reproducibility artifact "
    "next to corpus_shuffle_shards): per shard, doc/token counts, an "
    "ORDER-INDEPENDENT content checksum (bit_xor of 60-bit md5-prefix "
    "ints — commutative and associative with NO overflow at any corpus "
    "size, so any task layout yields the same value), and the id "
    "range. Two training runs read identical data iff manifests match.",
)
def q_corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_round5 import SHUFFLE_SALT, SHUFFLE_SHARDS

    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SALT)))
    shard = (
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % SHUFFLE_SHARDS
    ).cast("int")
    content_h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast(
        "bigint"
    )
    from .operators.text import token_count

    return (
        _docs(spark, sf_dir)
        .select(
            shard.alias("shard"),
            "doc_id",
            token_count("text").alias("n_tokens"),
            content_h.alias("content_h"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.bit_xor("content_h").alias("content_checksum"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "events_next_event_dataset",
    """
WITH o AS (
    SELECT user_id, event_id, event_type, ts,
           LAG(event_type, 2) OVER w AS f1,
           LAG(event_type, 1) OVER w AS f2,
           event_type AS f3,
           LEAD(event_type, 1) OVER w AS label
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, f1, f2, f3, label
FROM o
WHERE f1 IS NOT NULL AND label IS NOT NULL
""",
    doc="Sequence-model dataset builder: per user-ordered event stream, "
    "emit (3-event context window, next-event label) training examples "
    "— the supervised-dataset construction step between raw logs and a "
    "next-action model. One keyed window (user partition, (ts, id) "
    "order — deterministic under timestamp ties), boundary rows "
    "without full context or label are dropped, never padded with "
    "leakage-prone fillers.",
)
def q_events_next_event_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.lag("event_type", 2).over(w).alias("f1"),
        F.lag("event_type", 1).over(w).alias("f2"),
        F.col("event_type").alias("f3"),
        F.lead("event_type", 1).over(w).alias("label"),
    )
    return o.where(F.col("f1").isNotNull() & F.col("label").isNotNull())


def _image_dct_oracle_sql() -> str:
    """Oracle for image_dct_features: pixel bytes re-derived from the
    pre-encode payload hex dump (red channel of the 8-wide RGB layout,
    zero-padded), DCT via a VALUES join on the SAME quantized cosine
    literals as operators/png.py:dct_twiddles — 128 table rows instead
    of 4096 inlined terms."""
    from .operators.png import DCT_N, dct_twiddles

    c = dct_twiddles()
    vals = ", ".join(
        f"({x}, {u}, {c[x][u]})" for x in range(DCT_N) for u in range(DCT_N)
    )
    return f"""
WITH tw(i, k, val) AS (VALUES {vals}),
p AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      FROM documents),
cell AS (
    SELECT doc_id, hx, n,
           unnest(range(0, {DCT_N * DCT_N})) AS ci
    FROM p
),
pix AS (
    SELECT doc_id,
           ci % {DCT_N} AS x, ci // {DCT_N} AS y,
           CASE WHEN (ci // {DCT_N}) * 24 + (ci % {DCT_N}) * 3 < n THEN
               (strpos('0123456789ABCDEF',
                       substr(hx, CAST(2*((ci // {DCT_N})*24 + (ci % {DCT_N})*3)+1 AS INTEGER), 1)) - 1) * 16
             + (strpos('0123456789ABCDEF',
                       substr(hx, CAST(2*((ci // {DCT_N})*24 + (ci % {DCT_N})*3)+2 AS INTEGER), 1)) - 1)
           ELSE 0 END AS pv
    FROM cell
),
coef AS (
    SELECT pix.doc_id, cu.k AS u, cv.k AS v,
           CAST(SUM(pv * cu.val * cv.val) AS BIGINT) AS f
    FROM pix JOIN tw cu ON cu.i = pix.x JOIN tw cv ON cv.i = pix.y
    GROUP BY 1, 2, 3
),
agg AS (
    SELECT doc_id,
           MAX(CASE WHEN u = 0 AND v = 0 THEN f END) AS f_dc,
           MAX(CASE WHEN NOT (u = 0 AND v = 0) THEN abs(f) END) AS dom_abs,
           CAST(SUM(CASE WHEN NOT (u = 0 AND v = 0) THEN abs(f) ELSE 0 END)
                AS BIGINT) AS total_abs_ac
    FROM coef GROUP BY doc_id
),
dom AS (
    SELECT c.doc_id, MIN(c.u * {DCT_N} + c.v) AS dom_uv
    FROM coef c JOIN agg a ON c.doc_id = a.doc_id
    WHERE NOT (c.u = 0 AND c.v = 0) AND abs(c.f) = a.dom_abs
    GROUP BY c.doc_id
)
SELECT a.doc_id, f_dc,
       CAST(dom_uv // {DCT_N} AS BIGINT) AS dom_u,
       CAST(dom_uv % {DCT_N} AS BIGINT) AS dom_v,
       dom_abs, total_abs_ac
FROM agg a JOIN dom d ON a.doc_id = d.doc_id
"""


@register(
    "image_dct_features",
    _image_dct_oracle_sql(),
    doc="Image feature extraction through the REAL PNG codec: payloads "
    "become 8-wide RGB PNGs (zero-padded to >= 8 rows, per-doc scanline "
    "filter), the registered decoder reconstructs pixels, and an exact-"
    "integer 2D DCT-II (quantized cosine literals shared with the "
    "oracle, same design as the audio DFT) summarizes the red-channel "
    "8x8 block: DC term, dominant AC coefficient (u, v, |F|; tie -> "
    "smallest (u, v)), total AC energy. The oracle recomputes from the "
    "pre-encode byte layout — a wrong decode, flipped axis, or kernel "
    "slip breaks it. Arrow-batched mapInPandas; per-row CPU work, no "
    "shuffle.",
)
def q_image_dct_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .operators.text import widen_narrow_input
    from .operators import multimodal
    from .operators.png import (
        DCT_N,
        dct2d_block,
        png_decode,
        png_encode,
    )

    width, stride = DCT_N, DCT_N * 3
    payloads = widen_narrow_input(
        multimodal.with_binary_payload(_docs(spark, sf_dir))
    )

    def dct_features(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                h = max(-(-n // stride), DCT_N)
                pix = bytes(payload) + bytes(h * stride - n)
                png = png_encode(width, h, pix, 2, int(doc_id) % 5)
                _, _, _, decoded = png_decode(png)
                block = [
                    [decoded[y * stride + x * 3] for y in range(DCT_N)]
                    for x in range(DCT_N)
                ]
                f = dct2d_block(block)
                ac = [
                    (abs(f[u][v]), u, v)
                    for u in range(DCT_N)
                    for v in range(DCT_N)
                    if not (u == 0 and v == 0)
                ]
                dom_abs = max(a for a, _, _ in ac)
                dom_u, dom_v = min(
                    (u, v) for a, u, v in ac if a == dom_abs
                )
                rows.append(
                    (
                        doc_id,
                        f[0][0],
                        dom_u,
                        dom_v,
                        dom_abs,
                        sum(a for a, _, _ in ac),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "f_dc", "dom_u", "dom_v", "dom_abs",
                    "total_abs_ac",
                ],
            )

    return payloads.select("doc_id", "payload").mapInPandas(
        dct_features,
        schema="doc_id bigint, f_dc bigint, dom_u bigint, dom_v bigint,"
        " dom_abs bigint, total_abs_ac bigint",
    )


@register(
    "streaming_pyds_jsonl_sink",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
    doc="STREAMING half of the write-side Python DataSource "
    "(DataSourceStreamWriter): the events stream writes through the "
    "jsonl_manifest sink — per-task uuid part files, per-BATCH atomic "
    "manifest commit keyed by batch id (replays rewrite their own "
    "manifest, torn batches invisible) — then the committed manifests "
    "are read back and re-aggregated; integer-exact equality with the "
    "batch aggregate proves exactly-once delivery through the custom "
    "streaming writer. Completes the Python DataSource API matrix: "
    "batch/stream x read/write.",
)
def q_streaming_pyds_jsonl_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources import pyds_sink
    from .streaming.windows import apply_runtime_confs, events_stream

    apply_runtime_confs(spark)
    pyds_sink.register(spark)
    root = tempfile.mkdtemp(prefix="jsonlstream_")
    path = f"{root}/sink"
    ckpt = f"{root}/ckpt"
    try:
        # repartition inside the stream: the one-file source otherwise
        # feeds the Python sink a single write task per batch — widening
        # here exercises parallel part-file commits under one manifest
        ev = events_stream(spark, sf_dir).select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).repartition(8, "event_id")
        q = (
            ev.writeStream.format("jsonl_manifest")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = pyds_sink.read_jsonl_sink(
            spark, path, "event_id bigint, event_type string, cents bigint"
        )
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


MATRYOSHKA_DIMS = [8, 16, 32]


def _matryoshka_oracle_sql() -> str:
    cos_full = (
        "list_dot_product(b.vec, q.qvec) / (sqrt(list_dot_product(b.vec, "
        "b.vec)) * sqrt(list_dot_product(q.qvec, q.qvec)))"
    )
    parts = []
    for d in MATRYOSHKA_DIMS:
        cos_p = (
            f"list_dot_product(b.pv, q.pq) / (sqrt(list_dot_product(b.pv, "
            f"b.pv)) * sqrt(list_dot_product(q.pq, q.pq)))"
        )
        parts.append(f"""
SELECT {d} AS prefix_dim, COUNT(*) AS n_hits, COUNT(*) / 10.0 AS recall_at_10
FROM (
    SELECT b.vec_id
    FROM (SELECT vec_id, list_slice(CAST(embedding AS DOUBLE[]), 1, {d}) AS pv
          FROM embeddings WHERE vec_id != 7) b,
         (SELECT list_slice(CAST(embedding AS DOUBLE[]), 1, {d}) AS pq
          FROM embeddings WHERE vec_id = 7) q
    ORDER BY {cos_p} DESC, b.vec_id LIMIT 10
) approx
JOIN (
    SELECT b.vec_id
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
          FROM embeddings WHERE vec_id != 7) b,
         (SELECT CAST(embedding AS DOUBLE[]) AS qvec
          FROM embeddings WHERE vec_id = 7) q
    ORDER BY {cos_full} DESC, b.vec_id LIMIT 10
) exact ON approx.vec_id = exact.vec_id""")
    return "\nUNION ALL\n".join(parts)


@register(
    "embedding_matryoshka_recall",
    _matryoshka_oracle_sql(),
    doc="Matryoshka truncation eval (Kusupati et al. 2022): recall@10 "
    "of PREFIX-dimension cosine search (8/16/32 of 64 dims) against the "
    "full-dimension exact top-10 for the same query — the measurement "
    "that licenses serving truncated embeddings (memory/latency vs "
    "recall trade). Each prefix run is a sliced-array scan + "
    "TakeOrderedAndProject; the overlap join is k-row-sized.",
)
def q_embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity

    from .operators.text import widen_narrow_input

    emb = widen_narrow_input(load_table(spark, sf_dir, "embeddings"), "vec_id")
    exact = similarity.cosine_topk(emb, query_id=7, k=10).select("vec_id")
    out = None
    for d in MATRYOSHKA_DIMS:
        sliced = emb.select(
            "vec_id", F.slice(F.col("embedding"), 1, d).alias("embedding")
        )
        approx = similarity.cosine_topk(sliced, query_id=7, k=10).select(
            "vec_id"
        )
        r = approx.join(exact, "vec_id").agg(
            F.lit(d).alias("prefix_dim"),
            F.count("*").alias("n_hits"),
            (F.count("*") / 10.0).alias("recall_at_10"),
        )
        out = r if out is None else out.unionByName(r)
    return out


@register(
    "orders_open_backlog_daily",
    """
WITH closes AS (
    SELECT l_orderkey AS o_orderkey, MAX(l_shipdate) AS close_date
    FROM lineitem GROUP BY 1
),
opened AS (
    SELECT o_orderdate AS day, COUNT(*) AS n_opened FROM orders GROUP BY 1
),
closed AS (
    SELECT close_date AS day, COUNT(*) AS n_closed
    FROM orders JOIN closes USING (o_orderkey)
    GROUP BY 1
),
deltas AS (
    SELECT COALESCE(o.day, c.day) AS day,
           COALESCE(n_opened, 0) AS n_opened,
           COALESCE(n_closed, 0) AS n_closed
    FROM opened o FULL OUTER JOIN closed c ON o.day = c.day
)
SELECT day, CAST(n_opened AS BIGINT) AS n_opened,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(SUM(n_opened - n_closed) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS backlog
FROM deltas
""",
    doc="Open-order backlog by day — sweep-line interval counting: "
    "+1 at order placement, -1 at the order's LAST line-item ship date, "
    "cumulative sum over the day axis. The corpus-scale work is two "
    "keyed aggregations (per-order close date, per-day deltas); the "
    "unpartitioned cumulative window then runs over the DAY-grain "
    "table, which is calendar-sized (~2.5k rows), not corpus-sized — "
    "the decomposition that makes running totals safe at 100 TB. "
    "Orders with no line items never close and stay in the backlog.",
)
def q_orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("close_date")
    )
    opened = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").alias("n_opened")
    )
    closed = (
        orders.join(closes, "o_orderkey")
        .groupBy(F.col("close_date").alias("day"))
        .agg(F.count("*").alias("n_closed"))
    )
    deltas = (
        opened.join(closed, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).alias("backlog"),
    )


PARETO_QB = 1000


@register(
    "customer_revenue_pareto",
    f"""
WITH rev AS (
    SELECT o_custkey AS c, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
           AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT c, cents,
           ROW_NUMBER() OVER (ORDER BY cents DESC, c) AS rnk,
           COUNT(*) OVER () AS n
    FROM rev
),
dec AS (
    SELECT CAST((rnk - 1) * 10 // n AS BIGINT) AS decile, cents FROM ranked
),
agg AS (
    SELECT decile, COUNT(*) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM dec GROUP BY decile
)
SELECT decile, n_customers, cents,
       CAST(SUM(cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents
FROM agg
""",
    doc="Pareto revenue concentration by EXACT global revenue rank — "
    "computed without a global sort: the spec rank (cents desc, id) "
    "decomposes over monotone affine cent buckets exactly like the "
    "budget selectors (bucket count-prefix broadcast + within-bucket "
    "row_number), deciles then aggregate to ten rows and the cumulative "
    "runs on that ten-row table. The 'top decile owns X% of revenue' "
    "curve, exact to the cent.",
)
def q_customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.text import widen_narrow_input

    rev = (
        widen_narrow_input(load_table(spark, sf_dir, "orders"), "o_custkey")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    rng = rev.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count("*").alias("n"),
    )
    d = rev.crossJoin(F.broadcast(rng)).select(
        "c",
        "cents",
        "n",
        F.expr(f"((cents - lo) * {PARETO_QB}) div (hi - lo + 1)").alias("qb"),
    )
    per_bucket = d.groupBy("qb").agg(F.count("*").alias("bn"))
    wb = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_bucket.select(
        "qb", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("before")
    )
    wd = Window.partitionBy("qb").orderBy(F.desc("cents"), F.asc("c"))
    ranked = d.join(F.broadcast(cum), "qb").select(
        "cents",
        "n",
        (F.col("before") + F.row_number().over(wd)).alias("rnk"),
    )
    agg = (
        ranked.select(
            F.expr("CAST((rnk - 1) * 10 div n AS BIGINT)").alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_customers"), F.sum("cents").alias("cents"))
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return agg.select(
        "decile",
        "n_customers",
        "cents",
        F.sum("cents").over(wc).alias("cum_cents"),
    )


@register(
    "mv_snapshot_changelog",
    """
WITH v0 AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_id % 2 = 0
    GROUP BY event_type
),
v1 AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type
)
SELECT COALESCE(n1.event_type, n0.event_type) AS event_type,
       CASE WHEN n1.event_type IS NOT NULL THEN n1.n ELSE n0.n END AS n,
       CASE WHEN n1.event_type IS NOT NULL THEN n1.cents ELSE n0.cents END
           AS cents,
       CASE WHEN n1.event_type IS NOT NULL THEN 'U' ELSE 'D' END AS op
FROM v0 n0 FULL OUTER JOIN v1 n1 ON n0.event_type = n1.event_type
WHERE NOT (n0.event_type IS NOT NULL AND n1.event_type IS NOT NULL
           AND n0.n IS NOT DISTINCT FROM n1.n
           AND n0.cents IS NOT DISTINCT FROM n1.cents)
""",
    doc="Table-format INCREMENTAL READ composed from two r6 features: "
    "an aggregate-MV sink is built across a snapshot boundary with "
    "retain_snapshots=2, the two retained versions are read back via "
    "as-of time travel, and snapshot_diff turns them into the minimal "
    "U/D changelog between versions — the changes-between-versions "
    "feed (Delta CDF / Iceberg incremental scan shape) derived purely "
    "from retained snapshots, no change tracking at write time.",
)
def q_mv_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        compact_agg_sink,
        read_agg_sink,
        snapshot_diff,
        write_agg_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="mvdiff_")
    try:
        write_agg_partial(ev.where(F.col("event_id") % 2 == 0), path, 0)
        v0 = compact_agg_sink(spark, path, retain_snapshots=2)
        write_agg_partial(ev.where(F.col("event_id") % 2 == 1), path, v0 + 1)
        v1 = compact_agg_sink(spark, path, retain_snapshots=2)
        old = read_agg_sink(spark, path, as_of=v0).localCheckpoint(eager=True)
        new = read_agg_sink(spark, path, as_of=v1).localCheckpoint(eager=True)
        return snapshot_diff(old, new, ["event_type"]).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "events_dow_hour_heatmap",
    """
WITH g AS (
    SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g)
SELECT CAST(dow AS BIGINT) AS dow, hr,
       CAST(n_events AS BIGINT) AS n_events, cents,
       CAST(ROUND(n_events * 1000000.0 / total) AS BIGINT) AS share_ppm
FROM g, tot
""",
    doc="Weekly activity heatmap: day-of-week x hour event counts, "
    "exact-cents value, and share of total in integer parts-per-"
    "million (one rounding per cell — no float sums). Spark's "
    "1-Sunday dayofweek is shifted to DuckDB's 0-Sunday convention; "
    "one grouped pass plus a 1-row total broadcast onto a 168-row "
    "grid.",
)
def q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    tot = g.agg(F.sum("n_events").alias("total"))
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hr",
        "n_events",
        "cents",
        F.round(F.col("n_events") * 1_000_000.0 / F.col("total"))
        .cast("long")
        .alias("share_ppm"),
    )
