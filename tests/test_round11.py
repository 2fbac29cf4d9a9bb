"""Round-11 tests: the KMV auto-tier gate policy (gate-in-the-sketch
composition safety), the quantile-sketch empty-population guards, and
the EWMA signed floor-division parity pin — the r10 verdict's ask #1
plus all three r10 ADVICE items."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.operators import quantiles as _Q
from projet_etl_a_rien_spark.operators import sketches as _S


# ---------------------------------------------------------------------------
# kmv_keep_policy — the DOULION-style tier ladder (verdict ask #1)
# ---------------------------------------------------------------------------


def test_kmv_keep_policy_tiers():
    assert _S.kmv_keep_policy(1_000) is None
    assert _S.kmv_keep_policy(9_999_999) is None
    assert _S.kmv_keep_policy(10_000_000) == 200_000
    assert _S.kmv_keep_policy(99_999_999) == 200_000
    assert _S.kmv_keep_policy(100_000_000) == 20_000
    assert _S.kmv_keep_policy(1_000_000_000) == 2_000
    assert _S.kmv_keep_policy(10_000_000_000) == 200
    assert _S.kmv_keep_policy(10**12) == 2
    # r13: the 2-ppm INTEGER floor continues as exact-Fraction sub-ppm
    # tiers past 1e13 (r12 verdict ask #6) — the invariant below now
    # holds at every tier instead of breaking past the old floor
    from fractions import Fraction

    assert _S.kmv_keep_policy(10**15) == Fraction(1, 500)
    # invariant: worst-case single-hot-key survivors (n·ppm/1e6) stay
    # ≤ 2e7 anywhere inside any tier (now including sub-ppm ones), and
    # a tier-entry hot key keeps ≥ ~30x k survivors (estimate quality)
    for exp in range(7, 19):
        n_lo, n_hi = 10**exp, 10 ** (exp + 1) - 1
        ppm = _S.kmv_keep_policy(n_lo)
        assert ppm == _S.kmv_keep_policy(n_hi)
        if ppm is not None:
            assert n_hi * ppm // 1_000_000 <= 20_000_000
            assert n_lo * ppm // 1_000_000 >= 30 * _S.KMV_K


def test_kmv_auto_default_is_policy_gated(spark):
    """The DEFAULT build path tiers itself: with n_rows above the first
    threshold the auto build equals the explicitly gated build (gate
    column and all), below it the ungated build — and the gate column
    always records the decision."""
    rows = [("k", f"u{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "k string, v string")
    auto_small = _S.kmv_sketch(df, "k", "v")  # probe: 5000 rows
    assert auto_small.collect()[0].gate == _S.KMV_FULL
    # declared-large input: policy picks the 200000 ppm tier
    auto_large = _S.kmv_sketch(df, "k", "v", n_rows=20_000_000)
    explicit = _S.kmv_sketch(df, "k", "v", keep_ppm=200_000)
    got = {(r.key, tuple(r.hs), r.gate) for r in auto_large.collect()}
    want = {(r.key, tuple(r.hs), r.gate) for r in explicit.collect()}
    assert got == want
    assert next(iter(got))[2] == (_S.KMV_FULL * 200_000) // 1_000_000


def test_kmv_stats_reads_gate_from_sketch(spark):
    """Composing a gated build with the estimator needs NO keep_ppm
    threading any more — the r10 ADVICE composition bug is structurally
    closed: an under-full gated sketch scales by the inverse keep rate
    because the sketch itself carries its gate."""
    rows = [("k", f"u{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k string, v string")
    ppm = 20_000  # ~40 expected survivors < k: under-full on purpose
    st = _S.kmv_stats(
        _S.kmv_sketch(df, "k", "v", keep_ppm=ppm)
    ).collect()[0]
    assert st.kmv_size < _S.KMV_K
    gate = (_S.KMV_FULL * ppm) // 1_000_000
    assert st.theta == gate
    assert st.est == st.kmv_size * _S.KMV_FULL // gate
    # scaled estimate lands near truth (2000) — 3-sigma-ish band for
    # ~40 survivors (rel err ~ 1/sqrt(n) ~ 16%)
    assert abs(st.est - 2000) / 2000 < 0.60, st


def test_kmv_pair_overlap_gate_aware(spark):
    """kmv_pair_overlap through gated builds (the exact r10 ADVICE
    scenario): under-full gated sketches must use the GATE as theta, so
    est/est_inter land near truth instead of 1/keep-rate too low."""
    rows = [("A", f"u{i}") for i in range(3000)] + [
        ("B", f"u{i}") for i in range(2000, 5000)
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    ppm = 20_000  # ~60 expected survivors per key: straddles k
    sk = _S.kmv_sketch(df, "k", "v", keep_ppm=ppm)
    out = {
        (r.key_a, r.key_b): r for r in _S.kmv_pair_overlap(sk).collect()
    }
    ab = out[("A", "B")]
    gate = (_S.KMV_FULL * ppm) // 1_000_000
    assert ab.theta_min <= gate  # never the 2^48 KMV_FULL fallback
    assert abs(ab.est_inter - 1000) / 1000 < 0.90, ab
    assert abs(ab.est_union - 5000) / 5000 < 0.60, ab


def test_kmv_merge_min_gate_refilter(spark):
    """Theta-union rule: merging sketches built under different gates
    takes the MIN gate and drops retained hashes above it — a hash only
    the looser build kept is not valid common evidence."""
    rows = [("k", f"u{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "k string, v string")
    loose = _S.kmv_sketch(df, "k", "v", keep_ppm=200_000)
    tight = _S.kmv_sketch(df, "k", "v", keep_ppm=20_000)
    merged = _S.kmv_merge(loose, tight).collect()[0]
    tight_gate = (_S.KMV_FULL * 20_000) // 1_000_000
    assert merged.gate == tight_gate
    assert all(h < tight_gate for h in merged.hs)
    # content equals the tight build alone (loose ⊇ tight below gate)
    want = _S.kmv_merge(tight).collect()[0]
    assert list(merged.hs) == list(want.hs)


def test_kmv_adjacent_overlap_gated_sides(spark):
    """Per-row adjacent overlap with gate columns: an under-full gated
    side takes its own gate as theta and scales its estimate by the
    inverse keep rate — mirrors kmv_stats exactly."""
    rows_a = [("d", f"u{i}") for i in range(2000)]
    rows_b = [("d", f"u{i}") for i in range(1000, 3000)]
    ppm = 20_000
    ska = _S.kmv_sketch(
        spark.createDataFrame(rows_a, "k string, v string"),
        "k",
        "v",
        keep_ppm=ppm,
    ).select(F.col("hs").alias("hs_a"), F.col("gate").alias("gate_a"))
    skb = _S.kmv_sketch(
        spark.createDataFrame(rows_b, "k string, v string"),
        "k",
        "v",
        keep_ppm=ppm,
    ).select(F.col("hs").alias("hs_b"), F.col("gate").alias("gate_b"))
    row = _S.kmv_adjacent_overlap(
        ska.crossJoin(skb), gate_a_col="gate_a", gate_b_col="gate_b"
    ).collect()[0]
    gate = (_S.KMV_FULL * ppm) // 1_000_000
    assert row.theta_min <= gate
    assert abs(row.est_a - 2000) / 2000 < 0.80, row
    assert abs(row.est_inter - 1000) / 1000 < 1.20, row


def test_kmv_sink_carries_gate(spark, tmp_path):
    """Gated partials through the sink keep the gate: fold gate = MIN
    over partials, refiltered — stream-maintained == one-shot under the
    same gate."""
    rows = [("k", f"u{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "k string, v string")
    path = str(tmp_path / "kmvg")
    for b in range(2):
        _S.write_kmv_partial(
            df.where(F.length("v") % 2 == b),
            path,
            b,
            "k",
            "v",
            keep_ppm=200_000,
        )
    folded = _S.read_kmv(spark, path).collect()[0]
    direct = _S.kmv_sketch(df, "k", "v", keep_ppm=200_000).collect()[0]
    assert folded.gate == direct.gate
    assert list(folded.hs) == list(direct.hs)


# ---------------------------------------------------------------------------
# Quantile sketch: empty-population guards (r10 ADVICE #2)
# ---------------------------------------------------------------------------


def test_quantile_cdf_empty_sketch_yields_explicit_null(spark):
    empty = spark.createDataFrame([], "bucket bigint, cnt bigint")
    probe = spark.createDataFrame([(1, 100)], "doc_id long, v long")
    rows = _Q.quantile_sketch_cdf(empty, probe, "v").collect()
    assert len(rows) == 1
    assert rows[0].rank_lo_ppm is None and rows[0].rank_hi_ppm is None


def test_quantile_ks_empty_side_yields_null_distance(spark):
    full = _Q.quantile_sketch_build(
        spark.createDataFrame([(i,) for i in range(1, 200)], "v long"),
        "v",
    )
    empty = spark.createDataFrame([], "bucket bigint, cnt bigint")
    row = _Q.quantile_sketch_ks(full, empty).collect()[0]
    assert row.n_b == 0 and row.ks_ppm is None
    # both-empty: zero cells → empty result, not an error
    assert _Q.quantile_sketch_ks(empty, empty).count() == 0


# ---------------------------------------------------------------------------
# EWMA: signed floor-division parity (r10 ADVICE #3) — the milli
# quantization must FLOOR on both engines, so negative event values
# cannot desync the hash gate.
# ---------------------------------------------------------------------------


def test_kmv_sliding_window_fold_equals_direct_build(spark):
    """The sliding-window property the oracle relies on: min-k fold of
    per-hour sketches over a window's member hours == one-shot bottom-k
    over the window's rows (min-k associativity), exact whenever ≥ k
    hashes survive — and exact below k too, where the sketch IS the
    set."""
    rows = [(h, f"u{(h * 37 + j) % 900}") for h in range(5) for j in range(300)]
    df = spark.createDataFrame(rows, "hr int, v string")
    hourly = _S.kmv_sketch(df, "hr", "v")
    win = [0, 1, 2]
    fold = _S.kmv_merge(
        hourly.where(F.col("key").isin(win)).select(
            F.lit("w").alias("key"), "hs", "gate"
        )
    ).collect()[0]
    direct = _S.kmv_sketch(
        df.where(F.col("hr").isin(win)).select(
            F.lit("w").alias("key"), "v"
        ),
        "key",
        "v",
    ).collect()[0]
    assert list(fold.hs) == list(direct.hs)
    assert fold.gate == direct.gate


def test_keyed_ks_missing_side_yields_null_for_that_key_only(spark):
    """Keyed KS guard: a key present in only one sketch emits its
    n_a/n_b evidence with ks_ppm = NULL; keys present in both get a
    real distance — NULL never leaks across keys."""
    a = _Q.quantile_sketch_build_keyed(
        spark.createDataFrame(
            [("x", i) for i in range(1, 100)], "k string, v long"
        ),
        "k",
        "v",
    )
    b = _Q.quantile_sketch_build_keyed(
        spark.createDataFrame(
            [("x", i) for i in range(1000, 1100)]
            + [("y", i) for i in range(1, 50)],
            "k string, v long",
        ),
        "k",
        "v",
    )
    rows = {r.key: r for r in _Q.quantile_sketch_ks_keyed(a, b).collect()}
    assert rows["x"].ks_ppm is not None and rows["x"].ks_ppm > 900_000
    assert rows["y"].n_a == 0 and rows["y"].ks_ppm is None


def test_kmv_sample_merge_equals_one_shot_and_keeps_values(spark):
    """Consistent-sampling contract: per-batch bottom-k VALUE samples
    min-k-fold to exactly the one-shot sample (same values, same hash
    order), replays are harmless, and the sample is the k distinct
    values with the smallest hashes — verified against a pure-Python
    reference."""
    import hashlib

    rows = [(f"k{i % 2}", f"u{i % 300}") for i in range(1200)]
    df = spark.createDataFrame(rows, "k string, v string")
    k = 12
    parts = [
        _S.kmv_sample(df.where(F.length("v") % 3 == b), "k", "v", k=k)
        for b in range(3)
    ]
    merged = {
        r.key: [(s["h"], s["v"]) for s in r.sample]
        for r in _S.kmv_sample_merge(*parts, parts[1], k=k).collect()
    }
    direct = {
        r.key: [(s["h"], s["v"]) for s in r.sample]
        for r in _S.kmv_sample(df, "k", "v", k=k).collect()
    }
    assert merged == direct
    for key in ("k0", "k1"):
        vals = {v for kk, v in rows if kk == key}
        want = sorted(
            (
                int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:12], 16),
                v,
            )
            for v in vals
        )[:k]
        assert direct[key] == want


def test_kmv_gated_build_matches_python_reference_randomized(spark):
    """Differential sweep: for random value sets and random gates the
    whole gated pipeline (build -> gate column -> stats) must equal a
    pure-Python bottom-k-under-gate reference EXACTLY — sketch content,
    theta, and the integer estimate, both estimator branches."""
    import hashlib
    import random

    rng = random.Random(1106)
    for trial in range(6):
        n = rng.choice([15, 80, 400, 1500])
        ppm = rng.choice([None, 200_000, 50_000, 20_000])
        values = [f"t{trial}-v{i}" for i in range(n)]
        df = spark.createDataFrame(
            [("k", v) for v in values], "k string, v string"
        )
        sk = _S.kmv_sketch(df, "k", "v", keep_ppm=ppm).collect()[0]
        st = _S.kmv_stats(
            _S.kmv_sketch(df, "k", "v", keep_ppm=ppm)
        ).collect()[0]
        gate = (
            _S.KMV_FULL
            if ppm is None
            else (_S.KMV_FULL * ppm) // 1_000_000
        )
        hs = sorted(
            {
                int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:12], 16)
                for v in values
            }
        )
        hs = [h for h in hs if h < gate][: _S.KMV_K]
        assert list(sk.hs) == hs and sk.gate == gate, (trial, ppm)
        if len(hs) < _S.KMV_K:
            want_theta, want_est = gate, len(hs) * _S.KMV_FULL // gate
        else:
            want_theta = hs[_S.KMV_K - 1]
            want_est = (_S.KMV_K - 1) * _S.KMV_FULL // want_theta
        assert (st.kmv_size, st.theta, st.est) == (
            len(hs),
            want_theta,
            want_est,
        ), (trial, ppm)


# ---------------------------------------------------------------------------
# BBPE encoder: the Arrow-batched distinct-pre-token encoder at full
# ladder width, its one-pass-per-merge contract, and its edge inputs.
# ---------------------------------------------------------------------------


def test_bbpe_full_ladder_roundtrip_identity(spark):
    from projet_etl_a_rien_spark.operators import bpe as _bpe

    texts = [
        (1, "the customer table joins fast don't  stop"),
        (2, "café 中文分词 x+=1; 1999 deployments"),
        (3, "shuffling broadcast merges, I'm sure it's fine"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    dec = {
        r.doc_id: r.decoded
        for r in _bpe.bbpe_roundtrip(
            df, _bpe.BBPE_MERGES_V2, pretoken_re=_bpe.GPT2_PRETOKEN_RE
        ).collect()
    }
    assert dec == {i: t for i, t in texts}


def test_bbpe_one_pass_per_merge_semantics_pinned_across_engines(spark):
    """The merge-application contract is ONE pass per merge in rank
    order (what the Arrow encoder and the SQL oracle both implement) —
    NOT the iterative lowest-rank-first loop some BPE encoders use. The
    two diverge exactly when a later merge CREATES an earlier merge's
    pair: rank 1 = ('61','6263') is absent until rank 2 = ('62','63')
    forms '6263', and by then rank 1 has already passed, so 'abc' must
    encode to TWO tokens ['61','6263'], never one. Pin Spark == DuckDB
    == 2 on that corner."""
    import duckdb

    from projet_etl_a_rien_spark.operators import bpe as _bpe
    from projet_etl_a_rien_spark.queries_round9 import _bbpe_encode_oracle

    merges = [(1, "61", "6263", 9), (2, "62", "63", 9)]
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    row = _bpe.apply_bbpe_merges(
        df, merges, pretoken_re=_bpe.GPT2_PRETOKEN_RE
    ).collect()[0]
    assert (row.n_pretokens, row.n_bytes, row.n_bbpe_tokens) == (1, 3, 2)
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    o = con.sql(
        _bbpe_encode_oracle(merges, pretoken_re=_bpe.GPT2_PRETOKEN_RE)
    ).df()
    assert (
        int(o.n_pretokens[0]), int(o.n_bytes[0]), int(o.n_bbpe_tokens[0])
    ) == (1, 3, 2)


def test_bbpe_arrow_engine_edge_inputs(spark):
    """Encoder totality: empty text (zero pre-tokens), a
    whitespace-only doc, and a long single pre-token all encode without
    error and preserve byte counts."""
    from projet_etl_a_rien_spark.operators import bpe as _bpe

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a" * 500)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_pretokens, r.n_bytes)
        for r in _bpe.apply_bbpe_merges(
            df,
            _bpe.FIXED_BYTE_MERGES_V2,
            pretoken_re=_bpe.GPT2_PRETOKEN_RE,
        ).collect()
    }
    assert 1 not in got  # empty text yields no pre-tokens at all
    assert got[2] == (1, 3)
    assert got[3] == (1, 500)


def test_ewma_milli_floors_for_signed_values(spark):
    expr = (
        "ewma_num * 1000 DIV ewma_den"
        " - CASE WHEN (ewma_num * 1000) % ewma_den != 0"
        "        AND ewma_num < 0 THEN 1 ELSE 0 END"
    )
    cases = [(7, 3), (-7, 3), (6, 3), (-6, 3), (1, 65535), (-1, 65535)]
    df = spark.createDataFrame(cases, "ewma_num long, ewma_den long")
    got = {
        (r.ewma_num, r.ewma_den): r.m
        for r in df.selectExpr("*", f"{expr} AS m").collect()
    }
    for num, den in cases:
        assert got[(num, den)] == (num * 1000) // den, (num, den)
