"""Round-5 registrations: LM scoring, vocab coverage, mixing and
training-order operators for the LLM-data-pipeline surface.

Imported for its registration side effects by ``queries._load_extensions``;
same parity rules as every other registration module (adjacent DuckDB
oracle, identical aliases, exactmath quantization for transcendental or
accumulation-order-sensitive float work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import retrieval, text
from .queries import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "doc_bigram_logprob",
    """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    WHERE len(string_split(text, ' ')) >= 2
),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts)),
                                 i -> ts[i] || chr(31) || ts[i + 1])) AS bigram
    FROM toks
),
uni AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
um AS (SELECT token, COUNT(*) AS cnt_u FROM uni GROUP BY token),
bm AS (SELECT bigram, COUNT(*) AS cnt_b FROM occ GROUP BY bigram),
lp AS (
    SELECT bigram,
           CAST(ROUND(ln(CAST(cnt_b AS DOUBLE) / cnt_u) * 1000000000) AS BIGINT)
               AS lp_nano
    FROM bm JOIN um ON split_part(bm.bigram, chr(31), 1) = um.token
)
SELECT id AS doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(lp_nano) AS BIGINT) / COUNT(*) / 1e9 AS mean_logprob
FROM occ JOIN lp USING (bigram)
GROUP BY id
""",
    doc="Mean bigram log-probability per doc under the corpus-MLE bigram "
    "model P(t2|t1)=cnt(t1 t2)/cnt(t1) — order-sensitive fluency score "
    "(unigram's blind spot); vocab-level nano-grid ln, exact-int sums.",
)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retrieval.bigram_logprob_scores(_docs(spark, sf_dir))


VOCAB_SIZE = 60


@register(
    "corpus_vocab_oov",
    f"""
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
    SELECT token FROM occ GROUP BY token
    ORDER BY COUNT(*) DESC, token LIMIT {VOCAB_SIZE}
)
SELECT id AS doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
       CAST(SUM(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           / COUNT(*) AS oov_rate
FROM occ LEFT JOIN vocab ON occ.token = vocab.token
GROUP BY id
""",
    doc="Per-doc OOV rate against the corpus's top-N token vocabulary "
    "(count-desc, token-asc tiebreak at the cutoff): tokenizer-coverage "
    "health check; top-k vocab via TakeOrderedAndProject, parameter-"
    "bounded broadcast join, single int/int division.",
)
def q_corpus_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocab_oov_rates(_docs(spark, sf_dir), vocab_size=VOCAB_SIZE)


MIX_TEMPERATURE = 0.7
MIX_BUDGET = 100_000


@register(
    "source_temperature_mix",
    f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS n FROM counts),
shares AS (
    SELECT source, n_docs,
           CAST(ROUND(pow(CAST(n_docs AS DOUBLE) / n, 1.0 / {MIX_TEMPERATURE})
                      * 1000000000) AS BIGINT) AS share_nano
    FROM counts CROSS JOIN tot
),
norm AS (SELECT SUM(share_nano) AS z FROM shares)
SELECT source, n_docs,
       CAST(share_nano AS DOUBLE) / z AS mix_weight,
       CAST(ROUND({MIX_BUDGET} * CAST(share_nano AS DOUBLE) / z) AS BIGINT)
           AS sample_target,
       CAST(ROUND({MIX_BUDGET} * CAST(share_nano AS DOUBLE) / z) AS BIGINT)
           / CAST(n_docs AS DOUBLE) AS epochs
FROM shares CROSS JOIN norm
""",
    doc="Temperature-scaled source mixing (p_s ~ (n_s/N)^(1/T), T=0.7): "
    "the standard up-weighting of small sources for LLM training mixes; "
    "pow() quantized to the nano grid per source, then exact-int "
    "normalization — deterministic cross-engine. epochs > 1 flags "
    "sources the budget would oversample.",
)
def q_source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _docs(spark, sf_dir).groupBy("source").agg(
        F.count("*").alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").alias("n"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(
            F.pow(F.col("n_docs") / F.col("n"), 1.0 / MIX_TEMPERATURE)
            * 1_000_000_000
        )
        .cast("long")
        .alias("share_nano"),
    )
    norm = shares.agg(F.sum("share_nano").alias("z"))
    target = F.round(F.lit(MIX_BUDGET) * F.col("share_nano") / F.col("z")).cast(
        "long"
    )
    return shares.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        (F.col("share_nano") / F.col("z")).alias("mix_weight"),
        target.alias("sample_target"),
        (target / F.col("n_docs")).alias("epochs"),
    )


SHUFFLE_SHARDS = 16
SHUFFLE_SALT = "r5shuffle"


@register(
    "corpus_shuffle_shards",
    f"""
WITH h AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || '{SHUFFLE_SALT}') AS hx
    FROM documents
)
SELECT doc_id,
       CAST(CAST('0x' || substr(hx, 1, 8) AS BIGINT) % {SHUFFLE_SHARDS}
            AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY CAST('0x' || substr(hx, 1, 8) AS BIGINT)
                        % {SHUFFLE_SHARDS}
           ORDER BY hx, doc_id) AS BIGINT) AS pos
FROM h
""",
    doc="Deterministic training-order shuffle: salted-md5 shard "
    "assignment + within-shard hash order — reproducible global shuffle "
    "without a global sort (the window partitions by shard); the "
    "epoch-reshuffle is a salt change, not a data move.",
)
def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    hx = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SALT)))
    d = _docs(spark, sf_dir).select("doc_id", hx.alias("hx"))
    shard = (
        F.conv(F.substring("hx", 1, 8), 16, 10).cast("long")
        % SHUFFLE_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        d.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@register(
    "streaming_jdbc_totals_sink",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
FROM events GROUP BY event_type
""",
    doc="The reference's production sink shape end-to-end with REAL "
    "bytes: streaming complete-mode totals -> foreachBatch JDBC "
    "full-replace (ref spark_airports_final.py:75-86) into embedded "
    "Derby, read back through a JDBC scan; idempotent because overwrite "
    "replaces the whole table per batch. Oracle = the batch aggregate.",
)
def q_streaming_jdbc_totals_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources.jdbc import jdbc_source
    from .streaming.windows import replay_events_stream, run_foreach_batch_jdbc

    # per-run db dir: concurrent sessions must not share a Derby database
    tmp = tempfile.mkdtemp(prefix="derbystream_")
    spark._jvm.System.setProperty("derby.stream.error.file", f"{tmp}/derby.log")
    url = f"jdbc:derby:{tmp}/db;create=true"
    try:
        agg = (
            replay_events_stream(spark, sf_dir)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
                ).alias("sum_value"),
            )
        )
        run_foreach_batch_jdbc(agg, url, "totals", driver=DERBY_DRIVER)
        return jdbc_source(
            spark, url, "totals", user="app", password="app", driver=DERBY_DRIVER
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_jdbc_cdc_merge",
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
    doc="Exactly-once streaming CDC into a RELATIONAL table "
    "(streaming/windows.py:run_cdc_merge_jdbc): the orders changelog "
    "replayed one change-file per micro-batch, each batch landed in a "
    "Derby staging table and folded by one driver-side MERGE INTO with "
    "the latest-by-(seq,op) newer-wins condition — tombstones retained, "
    "replay-idempotent, order-independent, so the table equals the "
    "one-shot batch MERGE and the oracle is the batch query's SQL.",
)
def q_streaming_jdbc_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from .streaming.windows import run_cdc_merge_jdbc

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem")
    upd = o.join(
        li.where(F.col("l_returnflag") == "R").select("l_orderkey"),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_semi",
    ).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    dels = o.where(F.col("o_orderkey") % 1000 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("D").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    root = tempfile.mkdtemp(prefix="cdcjdbc_")
    src = os.path.join(root, "changes")
    spark._jvm.System.setProperty("derby.stream.error.file", f"{root}/derby.log")
    url = f"jdbc:derby:{root}/db;create=true"
    try:
        # one file per change batch -> one micro-batch each (seq order
        # not required: the merge condition is order-independent)
        upd.coalesce(1).write.mode("append").parquet(src)
        dels.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string, op string, seq long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run_cdc_merge_jdbc(
            stream,
            o,
            url,
            "orders_tbl",
            key_col="o_orderkey",
            column_types="o_orderstatus VARCHAR(8), op VARCHAR(1)",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "multimodal_wav_roundtrip",
    # Real audio decode under the oracle gate (the audio twin of
    # multimodal_png_roundtrip): payload bytes -> int16 PCM -> WAV
    # container -> registered "audio" decoder -> exact-integer signal
    # stats the oracle recomputes straight from the pre-encode bytes
    # (little-endian int16 pairs): a wrong sample value breaks sum_sq,
    # a sample-order or byte-order slip breaks zero_crossings.
    """
WITH p AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) >= 2),
i AS (SELECT doc_id, hx, unnest(range(0, n // 2)) AS si FROM p),
b AS (SELECT doc_id, si,
        (strpos('0123456789ABCDEF', substr(hx, CAST(4*si+1 AS INTEGER), 1)) - 1) * 16
      + (strpos('0123456789ABCDEF', substr(hx, CAST(4*si+2 AS INTEGER), 1)) - 1) AS b0,
        (strpos('0123456789ABCDEF', substr(hx, CAST(4*si+3 AS INTEGER), 1)) - 1) * 16
      + (strpos('0123456789ABCDEF', substr(hx, CAST(4*si+4 AS INTEGER), 1)) - 1) AS b1
      FROM i),
s AS (SELECT doc_id, si,
        CASE WHEN b0 + 256*b1 >= 32768 THEN b0 + 256*b1 - 65536
             ELSE b0 + 256*b1 END AS v
      FROM b),
w AS (SELECT doc_id, v,
        LAG(v) OVER (PARTITION BY doc_id ORDER BY si) AS prev
      FROM s)
SELECT doc_id,
       1 AS n_channels,
       8000 AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
       CAST(SUM(CASE WHEN prev IS NOT NULL
                      AND ((prev >= 0) != (v >= 0)) THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings
FROM w
GROUP BY doc_id
""",
    doc="REAL audio decode under the oracle gate: payloads as int16 PCM "
    "wrapped in WAV containers (stdlib wave codec, operators/wav.py) "
    "decoded through the registered-decoder multimodal path; container "
    "metadata + exact-int energy and zero-crossing stats verified "
    "against the raw little-endian bytes.",
)
def q_multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .operators import multimodal
    from .operators.wav import register_builtin_wav_codec, wav_encode

    from .operators.text import widen_narrow_input

    register_builtin_wav_codec()
    payloads = widen_narrow_input(
        multimodal.with_binary_payload(_docs(spark, sf_dir)).where(
            F.length("payload") >= 2
        )
    )

    def to_wav(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                pcm = bytes(payload)
                pcm = pcm[: len(pcm) - (len(pcm) % 2)]
                rows.append((doc_id, wav_encode(pcm, sample_rate=8000)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    wavs = payloads.mapInPandas(to_wav, schema="doc_id bigint, payload binary")
    return multimodal.decode_payloads(
        wavs,
        "audio",
        "doc_id bigint, n_channels int, sample_rate int, n_samples bigint, "
        "sum_sq bigint, zero_crossings bigint",
    )


@register(
    "mv_time_travel_read",
    """
WITH ev AS (SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_id % 2 = 0 GROUP BY event_type),
fl AS (SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM events GROUP BY event_type)
SELECT 'v0' AS version, * FROM ev
UNION ALL
SELECT 'v1' AS version, * FROM fl
""",
    doc="Snapshot time travel on the incremental-MV sink "
    "(operators/compaction.py): compact with retain_snapshots=2, then "
    "read_agg_sink(as_of=v0) reconstructs the MV as of the first "
    "snapshot while the current read sees the second fold — the "
    "retention/vacuum trade every table format exposes, verified "
    "against per-version batch aggregates.",
)
def q_mv_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        compact_agg_sink,
        read_agg_sink,
        write_agg_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="mvtt_")
    try:
        write_agg_partial(ev.where(F.col("event_id") % 2 == 0), path, 0)
        v0 = compact_agg_sink(spark, path, retain_snapshots=2)
        write_agg_partial(ev.where(F.col("event_id") % 2 == 1), path, v0 + 1)
        compact_agg_sink(spark, path, retain_snapshots=2)
        old = read_agg_sink(spark, path, as_of=v0).select(
            F.lit("v0").alias("version"), "event_type", "n", "cents"
        )
        cur = read_agg_sink(spark, path).select(
            F.lit("v1").alias("version"), "event_type", "n", "cents"
        )
        return old.unionByName(cur).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "parquet_schema_evolution_read",
    """
WITH m AS (
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
    FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_orderstatus) AS BIGINT) AS n_with_status,
       CAST(SUM(cents) AS BIGINT) / 100.0 AS total_price
FROM m
""",
    doc="Schema evolution on the lake path: two parquet batches written "
    "with DIFFERENT schemas (the second adds a column), read back as one "
    "table via mergeSchema — missing columns null-fill, present ones "
    "keep their values; the aggregate proves no row or value was "
    "dropped or misaligned. The add-a-column migration every long-lived "
    "100 TB table goes through.",
)
def q_parquet_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="schevo_")
    try:
        o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("append").parquet(root)
        o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.mode("append").parquet(root)
        merged = spark.read.option("mergeSchema", "true").parquet(root)
        from .functions.exactmath import sum_money

        return (
            merged.agg(
                F.count("*").alias("n_rows"),
                F.count("o_orderstatus").alias("n_with_status"),
                sum_money("o_totalprice").alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "corpus_right_to_erasure",
    """
WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 100 = 0),
docs AS (SELECT doc_id FROM documents),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
stats AS (
    SELECT 'documents' AS artifact,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(CASE WHEN doc_id % 100 = 0 THEN 1 END) AS BIGINT) AS n_purged
    FROM docs
    UNION ALL
    SELECT 'fingerprints',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN doc_id % 100 = 0 THEN 1 END) AS BIGINT)
    FROM fps
    UNION ALL
    SELECT 'tokens',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(CASE WHEN doc_id % 100 = 0 THEN 1 END) AS BIGINT)
    FROM toks
)
SELECT artifact, n_before, n_purged, n_before - n_purged AS n_after
FROM stats
""",
    doc="Right-to-erasure cascade accounting: a delete-list anti-joins "
    "every derived artifact (doc store, fingerprint index, token "
    "index) and the report reconciles before/purged/after per artifact "
    "— the deletion-propagation audit a GDPR/CCPA-compliant corpus "
    "pipeline runs after each purge. Pure key-partitioned anti-joins; "
    "the delete-list broadcast is bounded by the request volume, not "
    "the corpus.",
)
def q_corpus_right_to_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import tokens as _toks

    d = _docs(spark, sf_dir)
    deletes = d.where(F.col("doc_id") % 100 == 0).select("doc_id")
    artifacts = {
        "documents": d.select("doc_id"),
        "fingerprints": d.select("doc_id", F.md5("text").alias("fp")),
        "tokens": d.select("doc_id", F.explode(_toks("text")).alias("tok")),
    }
    out = None
    for name, art in artifacts.items():
        purged = art.join(F.broadcast(deletes), "doc_id", "left_semi")
        kept = art.join(F.broadcast(deletes), "doc_id", "left_anti")
        row = (
            art.agg(F.count("*").alias("n_before"))
            .crossJoin(purged.agg(F.count("*").alias("n_purged")))
            .crossJoin(kept.agg(F.count("*").alias("n_after")))
            .select(F.lit(name).alias("artifact"), "n_before", "n_purged", "n_after")
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "corpus_datacard",
    """
WITH fp AS (
    SELECT doc_id, lang, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(text) AS fp
    FROM documents
),
dups AS (
    SELECT fp, COUNT(*) AS copies FROM fp GROUP BY fp
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mean_tokens,
       CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
FROM fp JOIN dups USING (fp)
GROUP BY lang, source
""",
    doc="Datasheet-style corpus card: per (lang, source) slice — doc and "
    "token volume, mean length, and exact-duplicate incidence (md5 "
    "fingerprint membership in a >1-copy group). The one-page summary a "
    "training-data release ships; two shuffles (fingerprint count + "
    "slice aggregate), integer-exact except one final division.",
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import token_count

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source",
        token_count("text").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    dups = d.groupBy("fp").agg(F.count("*").alias("copies"))
    return (
        d.join(dups, "fp")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.sum("n_tokens") / F.count("*")).alias("mean_tokens"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
        )
    )


@register(
    "streaming_dynamic_session_windows",
    """
WITH g AS (
    SELECT user_id, ts,
           CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
                ELSE INTERVAL 20 MINUTE END AS gap
    FROM events
),
marked AS (
    SELECT user_id, ts, ts + gap AS e,
           MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_end
    FROM g
),
numbered AS (
    SELECT user_id, ts, e,
           SUM(CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(e) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, sid
""",
    doc="DYNAMIC-gap session windows (Spark session_window with a gap "
    "COLUMN): purchases keep a session alive 60 min, everything else "
    "20 — the per-event-type timeout real engagement analytics uses. "
    "Oracle is the gaps-and-islands formulation generalized to a "
    "running max of per-event window ends (merge iff the next event "
    "starts before the furthest end seen). Equal-ts events always "
    "merge (gap > 0), so tie order cannot flip a split.",
)
def q_streaming_dynamic_session_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming.windows import replay_events_stream, run_bounded

    ev = replay_events_stream(spark, sf_dir)
    # session_window's dynamic gap must be CalendarIntervalType —
    # an INTERVAL literal under ANSI is DayTimeIntervalType and is
    # rejected, so build the gap with make_interval()
    gap = F.expr(
        "CASE WHEN event_type = 'purchase' "
        "THEN make_interval(0, 0, 0, 0, 0, 60, 0) "
        "ELSE make_interval(0, 0, 0, 0, 0, 20, 0) END"
    )
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_bounded(agg)


@register(
    "pyds_jsonl_sink_roundtrip",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
    doc="Write-side Python DataSource (Spark 4 API, sources/pyds_sink.py): "
    "events written through the custom jsonl_manifest sink — per-task "
    "uuid part files, driver-side atomic manifest commit, torn files "
    "invisible — then read back via the manifest and re-aggregated; "
    "integer-exact roundtrip proves no row or value loss through the "
    "engine-native custom writer.",
)
def q_pyds_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources import pyds_sink

    pyds_sink.register(spark)
    root = tempfile.mkdtemp(prefix="jsonlsink_")
    path = f"{root}/sink"
    try:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        ev.write.format("jsonl_manifest").option("path", path).mode(
            "append"
        ).save()
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


@register(
    "doc_char_entropy",
    """
WITH ch AS (
    SELECT doc_id, length(text) AS n,
           unnest(string_split(text, '')) AS c
    FROM documents WHERE length(text) > 0
),
cnt AS (
    SELECT doc_id, n, c, COUNT(*) AS k FROM ch GROUP BY doc_id, n, c
),
terms AS (
    SELECT doc_id, n,
           CAST(ROUND(-(CAST(k AS DOUBLE) / n) * ln(CAST(k AS DOUBLE) / n)
                      * 1000000000) AS BIGINT) AS t_nano
    FROM cnt
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(SUM(t_nano) AS BIGINT) / 1e9 AS char_entropy
FROM terms
GROUP BY doc_id
""",
    doc="Per-document Shannon character entropy (nats): the "
    "information-density quality signal — near-zero entropy flags "
    "repeated-character junk, unusually high flags binary/encoded "
    "blobs; per-(doc, char) -p*ln(p) terms quantized to the nano grid "
    "and summed as BIGINT (the exactmath ln parity rule). One explode "
    "+ two keyed aggregates; alphabet-bounded state per doc.",
)
def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    ch = d.select(
        "doc_id",
        F.length("text").alias("n"),
        F.explode(F.split(F.col("text"), "")).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "n", "c").agg(F.count("*").alias("k"))
    terms = cnt.select(
        "doc_id",
        "n",
        F.round(
            -(F.col("k") / F.col("n"))
            * F.log(F.col("k") / F.col("n"))
            * 1_000_000_000
        )
        .cast("long")
        .alias("t_nano"),
    )
    return terms.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
        (F.sum("t_nano") / F.lit(1e9)).alias("char_entropy"),
    )


EMB_CONTAM_THRESHOLD = 0.35


@register(
    "embedding_cross_set_contamination",
    f"""
WITH b AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
t AS (SELECT * FROM b WHERE vec_id % 10 != 0),
e AS (SELECT * FROM b WHERE vec_id % 10 = 0),
sims AS (
    SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
           ROUND(list_dot_product(t.vec, e.vec)
                 / (sqrt(list_dot_product(t.vec, t.vec))
                    * sqrt(list_dot_product(e.vec, e.vec))), 6) AS cos_sim
    FROM t JOIN e ON t.label = e.label
),
hits AS (SELECT * FROM sims WHERE cos_sim >= {EMB_CONTAM_THRESHOLD}),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id
                                 ORDER BY cos_sim DESC, eval_id) AS rn
    FROM hits
)
SELECT train_id,
       MAX(CASE WHEN rn = 1 THEN eval_id END) AS nearest_eval_id,
       MAX(cos_sim) AS max_sim,
       CAST(COUNT(*) AS BIGINT) AS n_eval_hits
FROM ranked
GROUP BY train_id
""",
    doc="Embedding-space benchmark decontamination (semantic complement "
    "of the exact n-gram gate): every 10th vector plays the eval set; "
    "train vectors within cosine {th} of ANY eval vector are flagged "
    "with the nearest eval id, max similarity, and hit count. Blocked "
    "cross-set join (never |train|x|eval|), compute-splits salted for "
    "the few-blocks regime.".format(th=EMB_CONTAM_THRESHOLD),
)
def q_embedding_cross_set_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cross_set_contamination(
        emb.where(F.col("vec_id") % 10 != 0),
        emb.where(F.col("vec_id") % 10 == 0),
        threshold=EMB_CONTAM_THRESHOLD,
        compute_splits="auto",
    )


RESIZE_W, RESIZE_H = 8, 4


@register(
    "multimodal_png_resize_stats",
    # REAL resample under the oracle gate: the resized image's pixel
    # (x, y, c) equals source pixel (x*W//w2, y*H//h2, c) by
    # nearest-neighbor definition, and the source grid is the zero-padded
    # payload — so the oracle re-derives every sampled byte's flat index
    # (row*96 + col*3 + c) straight from the hex dump. Wrong kernel
    # arithmetic, a flipped axis, or an off-by-one in the resampler
    # breaks the positional checksum.
    f"""
WITH p AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
dims AS (SELECT doc_id, hx, n, CAST(ceil(n / 96.0) AS BIGINT) AS h FROM p),
grid AS (
    SELECT doc_id, hx, n, h,
           unnest(range(0, {RESIZE_H * RESIZE_W * 3})) AS i
    FROM dims
),
src AS (
    SELECT doc_id, hx, n,
           ((i // (3 * {RESIZE_W})) * h // {RESIZE_H}) * 96
         + (((i // 3) % {RESIZE_W}) * 32 // {RESIZE_W}) * 3
         + i % 3 AS k,
           i
    FROM grid
),
v AS (
    SELECT doc_id, i,
           CASE WHEN k < n THEN
               (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+1 AS INTEGER), 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(hx, CAST(2*k+2 AS INTEGER), 1)) - 1)
           ELSE 0 END AS byte
    FROM src
)
SELECT doc_id,
       {RESIZE_W} AS width,
       {RESIZE_H} AS height,
       CAST(SUM(byte) AS BIGINT) AS pix_sum,
       CAST(SUM((i + 1) * byte) AS BIGINT) AS pix_wsum
FROM v
GROUP BY doc_id
""",
    doc="REAL image resize under the oracle gate: payload-built PNGs "
    "pushed through resize_images (decode -> nearest-neighbor -> "
    "re-encode, pure-stdlib codec) then decoded again; the oracle "
    "re-derives every sampled pixel's flat source index from the raw "
    "bytes, so kernel arithmetic, axis order, and padding are all "
    "pinned positionally.",
)
def q_multimodal_png_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .operators import multimodal
    from .operators.png import png_decode, png_encode, register_builtin_png_codecs

    from .operators.text import widen_narrow_input

    register_builtin_png_codecs()
    width, stride = 32, 96
    payloads = widen_narrow_input(
        multimodal.with_binary_payload(_docs(spark, sf_dir)).where(
            F.length("payload") > 0
        )
    )

    def to_png(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                h = -(-n // stride)
                pix = bytes(payload) + bytes(h * stride - n)
                rows.append(
                    (doc_id, png_encode(width, h, pix, 2, int(doc_id) % 5))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    pngs = payloads.mapInPandas(to_png, schema="doc_id bigint, payload binary")
    resized = multimodal.resize_images(pngs, RESIZE_W, RESIZE_H)

    def stats(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, _, pix = png_decode(bytes(payload))
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        sum(pix),
                        sum((i + 1) * b for i, b in enumerate(pix)),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "pix_sum", "pix_wsum"]
            )

    return resized.select("doc_id", "payload").mapInPandas(
        stats,
        schema="doc_id bigint, width int, height int, "
        "pix_sum bigint, pix_wsum bigint",
    )
