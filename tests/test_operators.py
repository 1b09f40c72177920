"""Operator-level tests: SCD1/SCD2, interval/as-of joins, dedup,
similarity, text, multimodal, sessionization."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from walmart_project_etl_spark.operators import (dedup, events, merge,
                                                 multimodal, scd2, similarity,
                                                 text)
from walmart_project_etl_spark.operators.interval_join import (asof_join,
                                                               interval_join)

SF_DIR = "/root/testdata/sf0.001"


def test_scd1_merge_update_insert_keep(spark):
    ts1 = F.lit("2026-01-01").cast("timestamp")
    ts2 = F.lit("2026-02-01").cast("timestamp")
    src1 = spark.createDataFrame([("A", 1.0), ("B", 2.0)], "k string, v double")
    t1 = merge.scd1_merge(None, src1, "k", ["v"], "sk", ts1)
    t1_rows = {r["k"]: r for r in t1.collect()}
    src2 = spark.createDataFrame([("B", 20.0), ("C", 3.0)], "k string, v double")
    t2 = {r["k"]: r for r in merge.scd1_merge(t1, src2, "k", ["v"], "sk", ts2).collect()}
    assert t2["A"]["v"] == 1.0 and str(t2["A"]["modification_date"]).startswith("2026-01")
    assert t2["B"]["v"] == 20.0 and str(t2["B"]["modification_date"]).startswith("2026-02")
    assert str(t2["B"]["insertion_date"]).startswith("2026-01")  # preserved
    # hash surrogates: unique per key, stable across merges
    assert len({r["sk"] for r in t2.values()}) == 3
    assert t2["B"]["sk"] == t1_rows["B"]["sk"]


def test_scd2_change_new_unchanged(spark):
    ts = F.lit("2026-01-02").cast("timestamp")
    src1 = spark.createDataFrame([("A", "x"), ("B", "y")], "k string, attr string")
    d1 = scd2.scd2_apply(None, src1, "k", ["attr"], "sk", "2026-01-02", ts)
    assert {(r["k"], r["version"], r["is_current"]) for r in d1.collect()} == {
        ("A", 1, True), ("B", 1, True)}

    src2 = spark.createDataFrame([("A", "x2"), ("B", "y"), ("C", "z")],
                                 "k string, attr string")
    d2 = scd2.scd2_apply(d1, src2, "k", ["attr"], "sk",
                         "2026-02-01", F.lit("2026-02-01").cast("timestamp"))
    rows = {(r["k"], r["version"]): r for r in d2.collect()}
    assert len(rows) == 4  # A v1+v2, B v1, C v1
    assert rows[("A", 1)]["is_current"] is False
    assert str(rows[("A", 1)]["expiry_date"]) == "2026-01-31"
    assert rows[("A", 2)]["is_current"] is True
    assert str(rows[("A", 2)]["effective_date"]) == "2026-02-01"
    assert str(rows[("A", 2)]["expiry_date"]) == "9999-12-31"
    assert rows[("B", 1)]["is_current"] is True
    assert str(rows[("C", 1)]["effective_date"]) == "2000-01-01"  # backfill


def test_scd2_same_day_double_change_edge(spark):
    """Reference edge (SURVEY §7.3): two changes on one run_date give the
    expired row expiry = effective - 1 (expiry < effective) — preserved."""
    ts = F.lit("2026-03-01").cast("timestamp")
    src1 = spark.createDataFrame([("A", "x")], "k string, attr string")
    d1 = scd2.scd2_apply(None, src1, "k", ["attr"], "sk", "2026-03-01", ts)
    src2 = spark.createDataFrame([("A", "x2")], "k string, attr string")
    d2 = scd2.scd2_apply(d1, src2, "k", ["attr"], "sk", "2026-03-01", ts)
    src3 = spark.createDataFrame([("A", "x3")], "k string, attr string")
    d3 = scd2.scd2_apply(d2, src3, "k", ["attr"], "sk", "2026-03-01", ts)
    rows = sorted(d3.collect(), key=lambda r: r["version"])
    assert [r["version"] for r in rows] == [1, 2, 3]
    v2 = rows[1]
    assert str(v2["effective_date"]) == "2026-03-01"
    assert str(v2["expiry_date"]) == "2026-02-28"  # expiry < effective, as reference


def test_interval_join_resolves_correct_version(spark):
    dim = spark.createDataFrame(
        [("P", "v1", "2000-01-01", "2026-01-31"),
         ("P", "v2", "2026-02-01", "9999-12-31")],
        "k string, label string, eff string, exp string") \
        .select("k", "label", F.col("eff").cast("date").alias("eff"),
                F.col("exp").cast("date").alias("exp"))
    fact = spark.createDataFrame(
        [(1, "P", "2026-01-15"), (2, "P", "2026-02-15"), (3, "P", "2026-02-01")],
        "id int, k string, d string").select("id", "k", F.col("d").cast("date").alias("d"))
    out = {r["id"]: r["label"]
           for r in interval_join(fact, dim, "k", "d", "eff", "exp").collect()}
    assert out == {1: "v1", 2: "v2", 3: "v2"}  # boundaries inclusive


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 50)], "id int, k string, t long") \
        .select("id", "k", F.timestamp_seconds("t").alias("t"))
    right = spark.createDataFrame(
        [("u", 100, "a"), ("u", 200, "b")], "k string, t long, v string") \
        .select("k", F.timestamp_seconds("t").alias("rt"), "v")
    out = {r["id"]: r["v"] for r in asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        right_cols=["v"]).collect()}
    assert out == {1: "a", 2: "b", 3: None}  # t=100 matches rt=100 (inclusive)


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], "doc_id int, text string")
    kept = {r["doc_id"] for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert kept == {1, 2}


def test_minhash_finds_near_dupes_not_distinct(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark and parquet files " * 8
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id int, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_dedup(df, "doc_id", "text", threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_blocking_finds_all_close_pairs(spark):
    """The 16-bit-chunk pigeonhole blocking must find every pair with
    Hamming ≤ 3 that a brute-force signature compare finds (identical docs
    are Hamming 0 — always found); unrelated docs stay out."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    near = base + "iota"  # single trailing token tweak
    far = "totally unrelated words nothing shared here at all " * 6
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, far), (4, near)], "doc_id int, text string")
    got = {(r["id_a"], r["id_b"])
           for r in dedup.simhash_dedup(df, "doc_id", "text", max_hamming=3).collect()}
    # brute-force oracle over the same signatures
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    sigs = df.select(F.col("doc_id").alias("doc"), dedup.simhash64(toks).alias("sig"))
    l, r = sigs.alias("l"), sigs.alias("r")
    brute = {(row["a"], row["b"]) for row in
             l.join(r, F.col("l.doc") < F.col("r.doc"))
              .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"),
                      dedup.hamming64(F.col("l.sig"), F.col("r.sig")).alias("h"))
              .where(F.col("h") <= 3).collect()}
    assert got == brute
    assert (1, 2) in got       # identical docs, Hamming 0
    assert (1, 3) not in got   # unrelated


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "bcde")], "doc_id int, text string")
    # k=2 shingles: {ab,bc,cd} vs {bc,cd,de} → J = 2/4 = 0.5
    rows = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=2, threshold=0.4).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 0.5


def test_sorted_neighborhood_window_and_keep_rule(spark):
    """SNM semantics: near-dups with a shared key prefix pair within the
    window (keep-first-in-sort-order drops the successor); same-block
    docs FARTHER apart than the window are never compared (the method's
    documented recall bound); different-block docs never pair."""
    rows = [(1, "abcd p q r s t u v"),      # kept (sort-order first)
            (2, "abcd p q r s t u v w"),    # near-dup of 1 -> dropped
            # same 4-char block ("abcd"); keys abcdq.. < abcdt.. sort
            # BETWEEN doc 2 (abcdp..) and doc 9 (abcdz..), pushing doc 9
            # outside doc 2's window=2 neighborhood
            (3, "abcd q 11 12 13 14 15 16"), (4, "abcd r 21 22 23 24 25 26"),
            (5, "abcd s 31 32 33 34 35 36"), (6, "abcd t 41 42 43 44 45 46"),
            (9, "abcd z p q r s t u v"),    # near-dup of 1/2, far away
            (20, "zulu yankee xray whiskey victor")]  # other block
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r["kept"]
           for r in dedup.sorted_neighborhood(
               df, "doc_id", "text", window=2, threshold=0.5).collect()}
    assert out[1] is True and out[2] is False
    assert out[9] is True          # window=2 can't reach back past spacers
    assert all(out[i] for i in (3, 4, 5, 6, 20))
    # widening the window to cover the block finds doc 9 too
    out2 = {r["doc_id"]: r["kept"]
            for r in dedup.sorted_neighborhood(
                df, "doc_id", "text", window=7, threshold=0.5).collect()}
    assert out2[9] is False and out2[2] is False and out2[1] is True


def test_snm_cross_boundary_finds_edge_straddling_pair(spark):
    """cross_boundary=True: a dup pair whose two docs land in ADJACENT
    blocks (the only dup pair in the corpus) is invisible to the
    default in-block pass and found by the edge pass; the t+h <= window
    rule reproduces exactly the global-sort-window pairs."""
    rows = [(1, "aaaa zz words one two three four five"),   # block aaaa
            (2, "aaab zz words one two three four five"),   # block aaab h=1
            (3, "aaab zz words one two three four six"),    # block aaab h=2
            (9, "zulu yankee xray whiskey victor umbra")]   # far block
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def pairs(window, cross):
        return {(r["id_a"], r["id_b"])
                for r in dedup.sorted_neighborhood_pairs(
                    df, "doc_id", "text", window=window,
                    threshold=0.5, cross_boundary=cross).collect()}

    # the in-block pass sees only the aaab-internal dup; the boundary
    # pair (1,2) is invisible to it at ANY window
    assert pairs(2, False) == {(2, 3)}
    assert pairs(7, False) == {(2, 3)}
    assert pairs(2, True) == {(1, 2), (2, 3)}  # t=1,h=1: t+h=2 <= 2
    # window=3 also reaches the second head row (t=1,h=2: t+h=3 <= 3)
    assert pairs(3, True) == {(1, 2), (1, 3), (2, 3)}


def test_snm_chained_finds_pair_across_short_block(spark):
    """cross_boundary='chained': a dup pair separated by an ENTIRE
    block shorter than window−1 rows (the r14 documented miss) — the
    adjacent-only edge pass cannot see across two boundaries, the
    chained global window must. Also: chained equals the brute global
    sliding window on a multi-block corpus (the single-machine SNM
    contract)."""
    rows = [(1, "aaaa zz qq ww ee rr tt"),                 # block aaaa
            (2, "abbb totally unrelated filler content"),  # short block
            (3, "acaa zz qq ww ee rr tt"),                 # block acaa
            (9, "zulu yankee xray whiskey victor umbra")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def pairs(cross):
        return {(r["id_a"], r["id_b"])
                for r in dedup.sorted_neighborhood_pairs(
                    df, "doc_id", "text", window=4,
                    threshold=0.5, cross_boundary=cross).collect()}

    assert pairs(False) == set()       # blocks are singletons
    assert pairs(True) == set()        # pair straddles TWO boundaries
    assert pairs("chained") == {(1, 3)}  # global distance 2 <= 3

    # chained == brute global window on a larger mixed corpus
    import itertools
    corpus = [(i, f"{'abcde'[i % 5]}{'xy'[i % 2]} common body text "
                  f"variant {i % 3} tail {'pqr'[i % 3]}")
              for i in range(30)]
    big = spark.createDataFrame(corpus, "doc_id int, text string")
    got = {(r["id_a"], r["id_b"])
           for r in dedup.sorted_neighborhood_pairs(
               big, "doc_id", "text", window=4, threshold=0.5,
               cross_boundary="chained").collect()}
    # brute force: global (key, id) order, all pairs within distance 3,
    # word-3-gram jaccard >= 0.5
    import re
    def key(t):
        return re.sub("[^a-z0-9]", "", t.lower())[:24]
    order = sorted(corpus, key=lambda r: (key(r[1]), r[0]))
    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}
    want = set()
    for d in range(1, 4):
        for (ia, ta), (ib, tb) in zip(order, order[d:]):
            sa, sb = shingles(ta), shingles(tb)
            j = len(sa & sb) / len(sa | sb)
            if round(j, 6) >= 0.5:
                want.add((ia, ib))
    assert got == want and len(want) > 0


def test_rrf_fusion_math_and_missing_candidates(spark):
    """RRF score = sum of 1/(c+rank) over the lists a candidate appears
    in; a candidate on one list only still fuses (missing term = 0);
    final order by fused score with id tie-breaks."""
    r1 = spark.createDataFrame(
        [("q", 10, 1), ("q", 11, 2), ("q", 12, 3)],
        "query_id string, vec_id int, rank int")
    r2 = spark.createDataFrame(
        [("q", 11, 1), ("q", 13, 2), ("q", 10, 3)],
        "query_id string, vec_id int, rank int")
    out = similarity.rrf_fusion([r1, r2], k=4, c=60,
                                id_col="vec_id").collect()
    got = {r["vec_id"]: (r["rrf_score"], r["rank"]) for r in out}
    assert got[11][0] == round(1 / 62 + 1 / 61, 6)   # both lists
    assert got[10][0] == round(1 / 61 + 1 / 63, 6)
    assert got[12][0] == round(1 / 63, 6)            # list 1 only
    assert got[13][0] == round(1 / 62, 6)            # list 2 only
    # fused order: 11 (.0328) > 10 (.0323) > 13 (.0161) > 12 (.0159)
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] \
        == [11, 10, 13, 12]
    # weighted: w=(3,1) makes list 1's rank-3 (10: 3/63) beat a
    # double-membership mediocrity would-be tie and list 2's rank-1
    # (11: 3/61 + 1/61); closed-form check of the weighted terms
    wout = {r["vec_id"]: r["rrf_score"]
            for r in similarity.rrf_fusion([r1, r2], k=4, c=60,
                                           id_col="vec_id",
                                           weights=[3.0, 1.0]).collect()}
    assert wout[11] == round(3 / 62 + 1 / 61, 6)
    assert wout[12] == round(3 / 63, 6)
    assert wout[13] == round(1 / 62, 6)


def test_snm_multipass_catches_head_corrupted_dup(spark):
    """A duplicate with a corrupted FIRST word sorts far from its twin
    under the forward key (single-pass misses it) but adjacent under
    the reversed-token key — the multipass union must drop it."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base),
            (2, "zz " + base),            # head-corrupted near-dup
            (3, "quebec romeo sierra tango uniform victor x1")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    single = {r["doc_id"]: r["kept"]
              for r in dedup.sorted_neighborhood(
                  df, "doc_id", "text", window=2, threshold=0.5).collect()}
    multi = {r["doc_id"]: r["kept"]
             for r in dedup.snm_multipass(
                 df, "doc_id", "text", window=2, threshold=0.5).collect()}
    assert single[2] is True              # forward pass blind to it
    assert multi == {1: True, 2: False, 3: True}


def test_cosine_topk_matches_numpy(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.rand(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>")
    queries = df.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = [(r["vec_id"], r["cosine_sim"])
           for r in similarity.cosine_topk(df, queries, k=5)
           .orderBy("rank").collect()]
    v = vecs.astype("float64")
    sims = (v @ v[0]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    order = [i for i in np.argsort(-sims) if i != 0][:5]
    assert [g[0] for g in got] == order
    for (gid, gsim) in got:
        assert math.isclose(gsim, round(float(sims[gid]), 6), abs_tol=1e-6)


def test_lsh_ann_recall_reasonable(spark):
    """Top-k recall at the scale defaults (64 planes / 8-bit bands,
    query-side multi-probe). Measured 0.94 on this seeded corpus; pinned
    with margin — must stay far above random (~2%)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id % 100 = 7").select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(emb, queries, k=10)
    approx = similarity.lsh_ann_topk(emb, queries, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, recall


def test_embedding_lsh_pairs_recall_and_precision(spark):
    """The banded twin of the all-pairs embedding dedup, at BOTH operating
    points: precision must be 1.0 always (exact cosine re-rank), recall
    must be ≥ 0.95 on DEFAULTS at any threshold (band width is now derived
    from the threshold — the r4 advisory regression where the 64/8 scale
    default silently dropped ~40% of true pairs at threshold 0.3), and the
    explicit wide scale config (64 planes / 8-bit bands, what
    lsh_params_for emits for big corpora) keeps its documented
    partial-recall behaviour at low thresholds."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.embedding_cosine_pairs(
                 emb, "vec_id", "embedding", threshold=0.3).collect()}
    approx = {(r["id_a"], r["id_b"])
              for r in dedup.embedding_lsh_pairs(
                  emb, "vec_id", "embedding", threshold=0.3).collect()}
    assert approx <= exact, "LSH emitted a pair below threshold"
    assert len(approx) / len(exact) >= 0.95, (len(approx), len(exact))
    wide = {(r["id_a"], r["id_b"])
            for r in dedup.embedding_lsh_pairs(
                emb, "vec_id", "embedding", threshold=0.3,
                n_planes=64, n_bands=8).collect()}
    assert wide <= exact, "LSH emitted a pair below threshold"
    assert len(wide) / len(exact) >= 0.5, (len(wide), len(exact))


def test_lsh_params_for_threshold_monotone():
    """Band width must grow with threshold (low thresholds → narrow
    bands → recall held), and always stay in the packable 1..31 range."""
    from walmart_project_etl_spark.operators.similarity import \
        lsh_params_for_threshold
    widths = []
    for t in (0.1, 0.3, 0.5, 0.7, 0.9, 0.95, 0.99):
        n_planes, n_bands = lsh_params_for_threshold(t)
        assert n_planes % n_bands == 0
        bpb = n_planes // n_bands
        assert 1 <= bpb <= 31
        widths.append(bpb)
    assert widths == sorted(widths), widths
    assert widths[1] == 2, widths   # the 0.3 operating point the tests pin
    assert widths[-1] > widths[0]


def test_rh_band_codes_null_vectors_drop_out(spark):
    """NULL/empty embeddings must get NULL codes (explode → no rows), not
    the zero-vector's all-ones code — otherwise every null row collides
    into one bucket per band (quadratic candidate blowup) and cosine-0
    pairs leak into rankings."""
    from pyspark.sql import functions as F

    from walmart_project_etl_spark.operators import similarity
    rows = [(1, [float(i) for i in range(8)]),
            (2, None), (3, []), (4, [float(i + 1) for i in range(8)])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = df.select(
        "vec_id",
        similarity.rh_band_codes(
            similarity._as_double("embedding"), 8, 16, 4).alias("c"))
    got = {r["vec_id"]: r["c"] for r in codes.collect()}
    assert got[2] is None and got[3] is None
    assert got[1] is not None and got[4] is not None
    exploded = codes.select("vec_id", F.explode("c").alias("code"))
    assert {r["vec_id"] for r in exploded.collect()} == {1, 4}


def test_embedding_lsh_planted_near_dups_recall(spark):
    """The regime LSH banding is FOR: planted near-duplicates (cosine
    ≥ 0.9). At the scale defaults every planted pair must be recovered —
    wide 8-bit bands collide with high probability exactly when vectors
    are truly close."""
    import numpy as np
    rng = np.random.RandomState(11)
    base = rng.randn(120, 64)
    rows = []
    for i in range(120):
        rows.append((i, [float(x) for x in base[i]]))
    planted = set()
    for i in range(40):  # 40 near-dups of the first 40 bases
        noisy = base[i] + 0.05 * rng.randn(64)
        rows.append((1000 + i, [float(x) for x in noisy]))
        planted.add((i, 1000 + i))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_lsh_pairs(
               df, "vec_id", "embedding", threshold=0.9).collect()}
    truly_close = {(r["id_a"], r["id_b"])
                   for r in dedup.embedding_cosine_pairs(
                       df, "vec_id", "embedding", threshold=0.9).collect()}
    hits = len(got & truly_close)
    assert hits / len(truly_close) >= 0.9, (hits, len(truly_close))


def test_lsh_candidates_near_linear(spark):
    """Candidate-count scaling: with bits-per-band sized to the corpus
    (lsh_params_for: bpb ≈ log2 N), doubling N must grow the candidate
    set near-linearly (factor ≤ 3; pure all-pairs would be 4×) and the
    set must stay well under all-pairs."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    counts = {}
    for mod, label in ((2, "half"), (1, "full")):
        sub = emb.where(f"vec_id % {mod} = 0")
        n = sub.count()
        n_planes, n_bands = similarity.lsh_params_for(n)
        cand = dedup.embedding_lsh_candidates(
            sub, "vec_id", "embedding",
            n_planes=n_planes, n_bands=n_bands).count()
        counts[label] = (n, cand)
    (n_half, c_half), (n_full, c_full) = counts["half"], counts["full"]
    assert c_full / c_half <= 3.0, counts
    assert c_full < 0.25 * n_full * (n_full - 1) / 2, counts


def test_text_stats_and_quality(spark):
    df = spark.createDataFrame([(1, "Hello world, this is a test. " * 4)],
                               "doc_id int, text string")
    s = text.text_stats("text")
    row = df.select(s["n_tokens"].alias("nt"), s["alpha_ratio"].alias("ar"),
                    text.quality_score("text").alias("q")).collect()[0]
    assert row["nt"] == 24
    assert 0.6 <= row["ar"] <= 1.0
    assert row["q"] == 1.0
    empty = spark.createDataFrame([(1, "")], "doc_id int, text string")
    assert empty.select(text.whitespace_token_count("text").alias("v")) \
                .collect()[0]["v"] == 0


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it was happy"),
         (2, "der hund ist nicht mit der katze auf dem sofa"),
         (3, "el perro es un animal que vive en la casa"),
         (4, "无线电法国别研究无线电法国别研究无线电法国别研究"),
         (5, "zzz qqq xxx")],
        "doc_id int, text string")
    got = {r["doc_id"]: r["lang"]
           for r in df.select("doc_id", text.lang_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "zh", 5: "unknown"}


def test_multimodal_feature_matches_numpy(spark):
    import numpy as np
    docs = spark.createDataFrame([(1, "abcXYZ 123!@#")], "doc_id long, text string")
    media = multimodal.documents_as_media(docs)
    feat = multimodal.extract_features(media, dim=8).collect()[0]["feature"]
    data = np.frombuffer(b"abcXYZ 123!@#", dtype=np.uint8)
    hist = np.bincount(data // 32, minlength=8)[:8]
    hist = hist / hist.sum()
    assert feat == pytest.approx([round(float(v), 6) for v in hist])


def test_multimodal_real_decode_unknown_codec_is_explicit_stub(spark):
    # real_decode really decodes PPM/PGM/BMP/PNG/baseline-JPEG; codecs
    # with no decoder (no image lib in this container) still fail loudly
    # at the dispatcher rather than returning fake dimensions
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 64)
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    media = multimodal.documents_as_media(docs)  # payload is not PPM/BMP
    lazy = multimodal.decode_image_meta(media, real_decode=True)
    with pytest.raises(Exception, match="NotImplementedError|unsupported codec"):
        lazy.collect()


def test_sessionize_gap_splits(spark):
    rows = [(1, "u", 0), (2, "u", 60), (3, "u", 60 + 31 * 60), (4, "v", 0)]
    df = spark.createDataFrame(rows, "event_id int, user_id string, t long") \
        .select("event_id", "user_id", F.timestamp_seconds("t").alias("ts"),
                F.lit(1.0).alias("value"))
    out = {r["event_id"]: r["session_id"]
           for r in events.sessionize(df, "user_id", "ts", 30).collect()}
    assert out[1] == 1 and out[2] == 1  # 60s gap, same session
    assert out[3] == 2                  # 31min gap, new session
    assert out[4] == 1                  # other user restarts at 1


def test_ivf_ann_recall_beats_random(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id % 100 = 7").select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(emb, queries, k=10)
    approx = similarity.ivf_ann_topk(emb, queries, k=10,
                                     n_clusters=8, n_probe=3)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, recall  # probing 3/8 cells; far above random ~2%


def test_multimodal_resize_stub_grid(spark):
    docs = spark.createDataFrame([(1, "abcdefgh" * 16)], "doc_id long, text string")
    media = multimodal.documents_as_media(docs)
    row = multimodal.resize_images(media, target_w=4, target_h=4).collect()[0]
    assert (row["width"], row["height"]) == (4, 4)
    assert len(row["pixels"]) == 16
    data = ("abcdefgh" * 16).encode()
    stride = max(len(data) // 16, 1)
    assert list(row["pixels"]) == [data[min(i * stride, len(data) - 1)]
                                   for i in range(16)]
    # real_decode on a non-PPM/BMP payload fails loudly at materialization
    # (the real decoder runs executor-side; compressed/unknown codecs are
    # the remaining NotImplementedError seam)
    with pytest.raises(Exception, match="NotImplementedError|unsupported codec"):
        multimodal.resize_images(media, real_decode=True).collect()


def test_sketch_approx_aggs_error_bounds(spark):
    from walmart_project_etl_spark.queries.llm import sketch_approx_aggs
    approx = {r["l_returnflag"]: r
              for r in sketch_approx_aggs(spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    exact = {r["l_returnflag"]: r for r in
             li.groupBy("l_returnflag")
               .agg(F.countDistinct("l_orderkey").alias("n"),
                    F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"))
               .collect()}
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["approx_orders"] - e["n"]) <= max(0.05 * e["n"], 2), flag
        # accuracy=10000 → rank error ≤ n/10000; generous envelope on value
        assert abs(a["approx_p50"] - e["p50"]) <= 0.05 * e["p50"], flag


def test_normalize_text_collapses_formatting_variants(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello\r\nworld\t"), (3, "  HELLO WORLD ")],
        "doc_id long, text string")
    out = docs.select(text.normalize_text("text").alias("n")).collect()
    assert {r["n"] for r in out} == {"hello world"}


def test_redact_pii_placeholders(spark):
    docs = spark.createDataFrame(
        [(1, "mail bob.smith+x@sub.example.co.uk now"),
         (2, "server at 192.168.001.1 port 80"),
         (3, "call +1 (555) 010-1234 today"),
         (4, "no pii here at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["r"] for r in
           docs.select("doc_id", text.redact_pii("text").alias("r")).collect()}
    assert out[1] == "mail [EMAIL] now"
    assert out[2] == "server at [IP] port 80"
    assert out[3] == "call [PHONE] today"
    assert out[4] == "no pii here at all"


def test_gopher_flags_closed_form(spark):
    good = "the quick brown fox and the lazy dog ran to the old mill"
    docs = spark.createDataFrame(
        [(1, good),                       # passes every rule
         (2, "too few"),                  # len_ok fails (2 tokens)
         (3, "1234 5678 9999 0000 1111 2222")],  # alpha/stopword fail
        "doc_id long, text string")
    fl = text.gopher_flags("text")
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", *[fl[k].alias(k) for k in
                    ("len_ok", "alpha_ok", "stopword_ok", "keep")]).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["len_ok"] is False and rows[2]["keep"] is False
    assert rows[3]["alpha_ok"] is False and rows[3]["stopword_ok"] is False


def test_repetition_signals_closed_form(spark):
    # "a b a b a b" → bigrams: [a b, b a, a b, b a, a b] = 5 total,
    # top "a b"×3 → 0.6; every gram occurs >1 → dup frac 1.0
    docs = spark.createDataFrame(
        [(1, "a b a b a b"),
         (2, "w x y z")],          # 3 distinct bigrams, all unique
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            text.repetition_signals(docs, "doc_id", "text", n=2).collect()}
    assert rows[1]["n_ngrams"] == 5
    assert rows[1]["top_ngram_frac"] == 0.6
    assert rows[1]["dup_ngram_frac"] == 1.0
    assert rows[2]["n_ngrams"] == 3
    assert rows[2]["dup_ngram_frac"] == 0.0


def test_chunk_text_windows_cover_and_overlap(spark):
    toks = [f"t{i}" for i in range(10)]
    docs = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    out = sorted(text.chunk_text(docs, "doc_id", "text",
                                 chunk_size=4, stride=3).collect(),
                 key=lambda r: r["chunk_id"])
    # stride 3 < size 4 → overlapping windows; last window may be short
    assert [r["chunk_id"] for r in out] == [0, 1, 2]
    assert out[0]["chunk_text"] == "t0 t1 t2 t3"
    assert out[1]["chunk_text"] == "t3 t4 t5 t6"
    assert out[2]["chunk_text"] == "t6 t7 t8 t9"
    assert [r["n_tokens"] for r in out] == [4, 4, 4]
    # non-overlapping exact cover: every token appears exactly once
    flat = " ".join(r["chunk_text"] for r in sorted(
        text.chunk_text(docs, "doc_id", "text", chunk_size=3, stride=3).collect(),
        key=lambda r: r["chunk_id"]))
    assert flat == " ".join(toks)


def test_decontaminate_removes_benchmark_overlap(spark):
    shared = "one two three four five six seven eight"
    corpus = spark.createDataFrame(
        [(1, f"prefix words {shared} suffix words"),   # contains the 8-gram
         (2, "totally different content with no overlap at all here"),
         (3, shared)],                                  # exactly the benchmark
        "doc_id long, text string")
    benchmark = spark.createDataFrame([(99, shared)], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  dedup.decontaminate(corpus, benchmark, "doc_id", "text",
                                      n=8).collect())
    assert kept == [2]


def test_cap_per_group_limit_and_determinism(spark):
    from walmart_project_etl_spark.operators import sampling
    rows = [(i, f"g{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out1 = sampling.cap_per_group(df, "source", 4, "doc_id")
    picked1 = sorted((r["source"], r["doc_id"]) for r in out1.collect())
    from collections import Counter
    assert all(c == 4 for c in Counter(s for s, _ in picked1).values())
    # deterministic under repartitioning
    out2 = sampling.cap_per_group(df.repartition(7), "source", 4, "doc_id")
    assert picked1 == sorted((r["source"], r["doc_id"]) for r in out2.collect())


def test_embedding_centroids_match_numpy(spark):
    import numpy as np
    rows = [(i % 3, [float(i), float(i * 2), -1.5 * i]) for i in range(12)]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    out = {(r["label"], r["dim_idx"]): r["centroid"]
           for r in similarity.embedding_centroids(df, "label", "embedding").collect()}
    for lab in range(3):
        vecs = np.array([v for l, v in rows if l == lab])
        want = vecs.mean(axis=0)
        for d in range(3):
            assert abs(out[(lab, d + 1)] - want[d]) < 1e-6


def test_pack_sequences_layout_invariants(spark):
    from walmart_project_etl_spark.operators import packing
    rows = [(i, 10 + (i * 7) % 50) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = packing.pack_sequences(df, "doc_id", "n_tokens",
                                 capacity=64, n_groups=4).collect()
    assert len(out) == 40
    by_group: dict = {}
    for r in out:
        assert 0 <= r["pack_group"] < 4
        assert 0 <= r["seq_offset"] < 64
        by_group.setdefault(r["pack_group"], []).append(r)
    for g, members in by_group.items():
        members.sort(key=lambda r: r["doc_id"])
        # head-to-tail: each doc starts exactly where the previous one ended
        start = 0
        for r in members:
            assert r["seq_id"] == start // 64
            assert r["seq_offset"] == start % 64
            start += r["n_tokens"]
    # deterministic under repartitioning
    out2 = packing.pack_sequences(df.repartition(7), "doc_id", "n_tokens",
                                  capacity=64, n_groups=4).collect()
    key = lambda r: r["doc_id"]
    assert sorted(map(tuple, out), key=lambda t: t[0]) == \
        sorted(map(tuple, out2), key=lambda t: t[0])


def test_incremental_exact_dedup(spark):
    corpus = spark.createDataFrame(
        [(0, "aaa"), (2, "bbb")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "aaa"),   # already in corpus -> dropped
         (3, "ccc"), (5, "ccc"),  # within-batch dup -> keep lowest id
         (7, "ddd")], "doc_id long, text string")
    out = sorted(r["doc_id"] for r in
                 dedup.incremental_exact_dedup(batch, corpus,
                                               "doc_id", "text").collect())
    assert out == [3, 7]


def test_unigram_logprob_closed_form(spark):
    import math
    # corpus: "a a b" and "a c" -> counts a=3 b=1 c=1, total=5
    df = spark.createDataFrame([(1, "a a b"), (2, "a c")],
                               "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
           for r in text.unigram_logprob(df, "doc_id", "text").collect()}
    lp = {t: round(math.log(c / 5), 6) for t, c in {"a": 3, "b": 1, "c": 1}.items()}
    assert out[1][0] == 3
    assert abs(out[1][1] - (2 * lp["a"] + lp["b"]) / 3) < 1e-9
    assert out[2][0] == 2
    assert abs(out[2][1] - (lp["a"] + lp["c"]) / 2) < 1e-9


def test_fuzzy_blocked_pairs_finds_mutants_without_all_pairs(spark):
    rows = [(1, "Acme Corporation"), (2, "Acme Corporatian"),   # 1 edit
            (3, "Zenith Industrial"), (4, "Bolt Fasteners")]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["id_a"], r["id_b"]): r["edit_distance"]
           for r in dedup.fuzzy_blocked_pairs(df, "id", "name",
                                              block_len=8, max_edit=2).collect()}
    assert got == {(1, 2): 1}  # 3,4 in other blocks; no cross-block compare


def test_winsorize_matches_numpy_percentile(spark):
    import numpy as np
    from walmart_project_etl_spark.operators.cleaning import winsorize
    vals = [float(v) for v in (1, 2, 3, 4, 5, 6, 7, 8, 9, 1000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = sorted(r["x_winsorized"]
                 for r in winsorize(df, "x", lo=0.1, hi=0.9).collect())
    lo, hi = np.percentile(vals, [10, 90])  # linear interpolation, same def
    want = sorted(min(max(v, lo), hi) for v in vals)
    assert all(abs(a - b) < 1e-9 for a, b in zip(out, want))


def test_funnel_stages_strict_ordering(spark):
    from datetime import datetime as dt
    rows = [
        # u1 completes all three in order
        (1, dt(2024, 1, 1), "view"), (1, dt(2024, 1, 2), "click"),
        (1, dt(2024, 1, 3), "purchase"),
        # u2: purchase BEFORE click -> stops at stage 2
        (2, dt(2024, 1, 1), "view"), (2, dt(2024, 1, 3), "click"),
        (2, dt(2024, 1, 2), "purchase"),
        # u3: click before view -> only stage 1 (view exists later)
        (3, dt(2024, 1, 2), "view"), (3, dt(2024, 1, 1), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["user_id"]: r["stages_completed"]
           for r in events.funnel_stages(df, ["view", "click", "purchase"]).collect()}
    assert out == {1: 3, 2: 2, 3: 1}


def test_cohort_retention_offsets(spark):
    from datetime import datetime as dt
    rows = [
        (1, dt(2024, 1, 1)), (1, dt(2024, 1, 10)),   # wk0 cohort, wk0+wk1
        (2, dt(2024, 1, 9)),                          # wk1 cohort, wk0 only
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(str(r["cohort_week"]), r["week_offset"]): r["n_active_users"]
           for r in events.cohort_retention(df).collect()}
    assert out == {("2024-01-01", 0): 1, ("2024-01-01", 1): 1,
                   ("2024-01-08", 0): 1}


def test_tfidf_top_terms_hand_computed(spark):
    """Smoothed idf = ln((N+1)/(df+1)) + 1, rounded to 6; scores are
    decimal-exact idf·tf. Hand-checked on a 3-doc corpus."""
    import math
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b b b")], "doc_id int, text string")
    rows = text.tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["doc_freq"],
                                      r["tfidf"]) for r in rows}
    idf_ab = round(math.log(4 / 3) + 1, 6)      # df=2 for 'a' and 'b'
    idf_c = round(math.log(4 / 2) + 1, 6)       # df=1 for 'c'
    assert got[(1, 1)] == ("a", 2, 2, pytest.approx(2 * idf_ab, abs=1e-9))
    assert got[(1, 2)] == ("b", 1, 2, pytest.approx(idf_ab, abs=1e-9))
    assert got[(2, 1)] == ("c", 1, 1, pytest.approx(idf_c, abs=1e-9))
    assert got[(2, 2)] == ("a", 1, 2, pytest.approx(idf_ab, abs=1e-9))
    assert got[(3, 1)] == ("b", 3, 2, pytest.approx(3 * idf_ab, abs=1e-9))
    assert (3, 2) not in got  # doc 3 has a single distinct term


def test_token_budget_per_group_greedy_boundary(spark):
    """Docs are kept in md5-hash order until the running token total
    reaches the budget; the doc that crosses the boundary is included
    (greedy fill), everything after is dropped."""
    import hashlib
    from walmart_project_etl_spark.operators import sampling
    rows = [(i, "s", 40) for i in range(1, 7)]   # 6 docs × 40 tokens
    df = spark.createDataFrame(rows, "doc_id int, source string, n_tokens long")
    out = sampling.token_budget_per_group(df, "source", "n_tokens",
                                          budget=100, key="doc_id")
    got = {r["doc_id"] for r in out.collect()}
    order = sorted(range(1, 7),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    # cum_before per position: 0, 40, 80, 120... → first THREE kept
    assert got == set(order[:3]), (got, order)


def test_canonical_by_score_keeps_best_member(spark):
    from walmart_project_etl_spark.operators import graph
    labeled = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 30), (3, 1, 30), (9, 9, 5)],
        "doc_id long, cluster_id long, score long")
    out = {r["doc_id"]: r["is_canonical"]
           for r in graph.canonical_by_score(
               labeled, "doc_id", "cluster_id", "score").collect()}
    # highest score wins; tie between 2 and 3 → lowest id; singleton keeps
    assert out == {1: False, 2: True, 3: False, 9: True}


def test_weighted_sample_overwhelming_weight_wins(spark):
    """Efraimidis-Spirakis: with weight 1e12 vs 1, ln(u)/w for the heavy
    item is ~0 (the max) for any realistic hash-u, so the heavy item must
    win k=1 in EVERY group; zero/null weights are never sampled."""
    from walmart_project_etl_spark.operators import sampling
    rows = []
    for g in range(20):
        rows.append((g * 100, f"g{g}", 10.0 ** 12))     # heavy
        for j in range(1, 6):
            rows.append((g * 100 + j, f"g{g}", 1.0))     # light
        rows.append((g * 100 + 99, f"g{g}", 0.0))        # excluded
    df = spark.createDataFrame(rows, "doc_id long, grp string, w double")
    out = sampling.weighted_sample_per_group(df, "grp", 1, "doc_id", "w")
    got = {r["grp"]: r["doc_id"] for r in out.collect()}
    assert len(got) == 20
    assert all(doc % 100 == 0 for doc in got.values()), got


def test_decontaminate_semantic_drops_benchmark_and_near_dups(spark):
    """Benchmark members land in their own buckets (cosine 1.0 → always
    candidates) so they MUST be dropped; planted epsilon-perturbed
    near-dups of benchmark vectors must be caught too; orthogonal
    vectors must survive."""
    import numpy as np
    from walmart_project_etl_spark.operators import dedup
    rng = np.random.default_rng(7)
    dim = 64
    base = rng.normal(size=(20, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))                # benchmark ∪ corpus
        near = v + rng.normal(scale=0.02, size=dim)            # planted near-dup
        near /= np.linalg.norm(near)
        rows.append((1000 + i, [float(x) for x in near]))
    far = rng.normal(size=(30, dim))
    far /= np.linalg.norm(far, axis=1, keepdims=True)
    rows += [(2000 + i, [float(x) for x in v]) for i, v in enumerate(far)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    benchmark = corpus.where("vec_id < 20")
    out = {r["vec_id"] for r in dedup.decontaminate_semantic(
        corpus, benchmark, "vec_id", "embedding", threshold=0.9).collect()}
    assert not any(i < 20 for i in out)            # benchmark rows all dropped
    caught = 20 - len([i for i in out if 1000 <= i < 1020])
    assert caught >= 18                            # ≥0.9 recall on planted dups
    # random 64-dim vectors are ~orthogonal: none can be within 0.9
    assert all(2000 + i in out for i in range(30))


def test_containment_catches_subset_jaccard_misses(spark):
    """A doc embedded verbatim inside 2x new text: containment ~1.0 (the
    pair MUST surface at 0.9) while Jaccard is ~0.5 (the same pair at a
    0.9 Jaccard threshold MUST NOT) — the operator distinction."""
    from walmart_project_etl_spark.operators import dedup
    base = " ".join(f"tok{i}" for i in range(40))
    wrapped = base + " " + " ".join(f"new{i}" for i in range(45))
    df = spark.createDataFrame([(1, base), (2, wrapped), (3, "different text entirely here")],
                               "doc_id long, text string")
    cont = dedup.ngram_containment_pairs(df, "doc_id", "text", k=3,
                                         threshold=0.9, unit="word").collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] >= 0.97
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=3,
                                    threshold=0.9, unit="word").collect()
    assert jac == []


def test_ivf_build_then_query_matches_one_shot(spark, tmp_path):
    """Persisting the built index (assigned parquet + centroid list) and
    serving from it must give the identical result as the one-shot path —
    the build-once/query-many contract."""
    from walmart_project_etl_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id % 50 = 7") \
                 .selectExpr("vec_id AS query_id", "embedding")
    one_shot = similarity.ivf_ann_topk(emb, queries, k=5, n_clusters=8,
                                       n_probe=3).collect()
    assigned, centroids = similarity.ivf_build(emb, n_clusters=8)
    assigned.write.mode("overwrite").parquet(f"{tmp_path}/ivf")
    served = similarity.ivf_query(
        spark.read.parquet(f"{tmp_path}/ivf"), centroids, queries,
        k=5, n_probe=3).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, one_shot), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, served), key=lambda t: (t[0], t[3]))


def test_ivf_persisted_warehouse_index_recall(spark, tmp_path):
    """The cell-PARTITIONED warehouse round-trip of the IVF index (the
    registry's sim_ivf_persisted_topk path) must serve a fresh query
    batch with recall far above random vs exact brute force."""
    from walmart_project_etl_spark.operators import similarity
    from walmart_project_etl_spark.sources.catalog import Warehouse
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assigned, centroids = similarity.ivf_build(emb, n_clusters=8)
    wh = Warehouse(spark, str(tmp_path))
    wh.write("tgt", "ivf_index", assigned, partition_by=["cell"])
    queries = emb.where("vec_id % 100 = 23") \
                 .selectExpr("vec_id AS query_id", "embedding")
    served = similarity.ivf_query(wh.read("tgt", "ivf_index"), centroids,
                                  queries, k=10, n_probe=3)
    exact = similarity.cosine_topk(emb, queries, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in served.collect()}
    assert len(e & a) / len(e) >= 0.3  # probing 3/8 cells; random ~2%


def test_salted_paths_correct_on_skewed_fixture(spark):
    """On a zipf-head fixture (ONE key owns ~20% of rows) the skew-safe
    paths must be result-identical to their straight counterparts:
    salted_latest == the W1 row_number window (reference
    etl_target_loader.py:118-124 semantics) and salted_join == the plain
    equi-join."""
    from walmart_project_etl_spark.operators import skew
    from walmart_project_etl_spark.operators.events import latest_event_per_key
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    hot = o.withColumn("o_custkey",
                       F.when(F.col("o_orderkey") % 5 == 0, F.lit(0))
                        .otherwise(F.col("o_custkey")))
    win = latest_event_per_key(hot, ["o_custkey"], "o_orderdate", "o_orderkey")
    salted = skew.salted_latest(hot, ["o_custkey"], "o_orderdate",
                                "o_orderkey", n_salts=8)
    assert win.exceptAll(salted).count() == 0
    assert salted.exceptAll(win).count() == 0
    assert salted.columns == hot.columns

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    hot_ok = o.agg(F.min("o_orderkey")).first()[0]
    li_hot = li.withColumn(
        "l_orderkey",
        F.when(F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(5)) == 0,
               F.lit(hot_ok)).otherwise(F.col("l_orderkey")))
    dim = o.selectExpr("o_orderkey AS l_orderkey", "o_orderpriority")
    plain = li_hot.join(dim, "l_orderkey")
    salted_j = skew.salted_join(li_hot, dim, "l_orderkey", n_salts=8) \
                   .select(*plain.columns)
    assert plain.exceptAll(salted_j).count() == 0
    assert salted_j.exceptAll(plain).count() == 0


def test_jsonl_gzip_roundtrip_lossless(spark, tmp_path):
    """Compressed JSON-Lines (the dominant corpus interchange at rest):
    write with gzip codec, schema-declared read back — byte-lossless, and
    the files really are .json.gz (codec applied, not ignored)."""
    import glob

    from walmart_project_etl_spark.sources.ingest import (read_jsonl,
                                                          write_jsonl)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "gz")
    write_jsonl(d, out, compression="gzip")
    assert glob.glob(f"{out}/*.json.gz"), "gzip codec not applied"
    back = read_jsonl(spark, out, d.schema)
    assert back.count() == d.count()
    assert back.exceptAll(d).count() == 0 and d.exceptAll(back).count() == 0


def test_sim_recall_report_is_consistent(spark):
    """The driver-visible recall gate (queries/llm.py:sim_recall_report)
    must report internally consistent counts: hits bounded by truth,
    truth = n_queries * k (full corpus >> k), and recall well above
    random chance for both algorithms."""
    from walmart_project_etl_spark.queries.llm import sim_recall_report
    rows = {r["algo"]: r for r in sim_recall_report(spark, SF_DIR).collect()}
    assert set(rows) == {"ivf", "lsh", "ivfpq", "mrl16",
                         "rrf_ivfpq", "rrf_approx"}
    #: per-tier floors: cell-pruned exact (ivf/lsh) clear 0.5 easily;
    #: residual-PQ compression costs a bit more; the 16/64 prefix tier
    #: is the documented floor case on unstructured synthetic vectors.
    #: Fused tiers (r14): rrf_ivfpq must at least hold the IVF-PQ-alone
    #: grade; rrf_approx is the measured consensus-regression case
    #: (documented in the query) — floor at the weak-tier grade
    floors = {"ivf": 0.5, "lsh": 0.5, "ivfpq": 0.45, "mrl16": 0.25,
              "rrf_ivfpq": 0.45, "rrf_approx": 0.25}
    for algo, r in rows.items():
        assert r["n_truth"] == r["n_queries"] * r["k"]
        assert 0 < r["n_hits"] <= r["n_truth"]
        assert r["n_hits"] / r["n_truth"] >= floors[algo], (algo, r)


def test_quality_classifier_train_score_roundtrip(spark):
    """operators/classifier.py: the distilled linear filter must (a)
    learn a token-count-expressible rule well above chance, (b) be
    deterministic (LBFGS from zero start), and (c) score docs with no
    learnable tokens at the bias alone rather than dropping them."""
    from walmart_project_etl_spark.operators.classifier import (
        score_linear, train_linear_classifier)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    med = docs.agg(F.expr("percentile(n_chars, 0.5)")).first()[0]
    docs = docs.withColumn("label",
                           (F.col("n_chars") >= F.lit(med)).cast("double"))
    train = docs.where(F.pmod(F.xxhash64("doc_id"), 10) < 7)
    test = docs.where(F.pmod(F.xxhash64("doc_id"), 10) >= 7)
    w1, b1 = train_linear_classifier(train, "doc_id", "text", "label",
                                     n_features=64)
    w2, b2 = train_linear_classifier(train, "doc_id", "text", "label",
                                     n_features=64)
    assert w1 == w2 and b1 == b2                      # deterministic fit
    assert len(w1) == 64
    scored = score_linear(test, "doc_id", "text", w1, b1)
    joined = scored.join(docs.select("doc_id", "label"), "doc_id")
    acc = joined.where(F.col("prediction") == F.col("label").cast("int")) \
                .count() / max(joined.count(), 1)
    assert acc >= 0.8, acc
    # empty-text doc: scored at sigmoid(bias), present in the output
    empty = spark.createDataFrame([(999_999, "   ")], "doc_id long, text string")
    row = score_linear(empty, "doc_id", "text", w1, b1).first()
    import math
    assert abs(row["score"] - 1 / (1 + math.exp(-b1))) < 1e-5


def test_cross_doc_dup_window_score_planted(spark):
    """Planted shared span across two docs: window counts and the
    duplicated fraction must match a brute-force reference; sub-n docs
    score 0 over 0 windows."""
    from collections import Counter

    from walmart_project_etl_spark.operators.dedup import \
        cross_doc_dup_window_score
    shared = "alpha beta gamma delta epsilon zeta"
    docs = [(1, "one two three " + shared),
            (2, shared + " seven eight"),
            (3, "nine ten eleven twelve thirteen"),
            (4, "tiny doc")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in cross_doc_dup_window_score(df, "doc_id", "text",
                                               n=4).collect()}
    wins = {did: ([" ".join(t.split()[i:i + 4])
                   for i in range(len(t.split()) - 3)]
                  if len(t.split()) >= 4 else [])
            for did, t in docs}
    cnt = Counter(w for ws in wins.values() for w in ws)
    assert cnt.most_common(1)[0][1] > 1      # the plant actually collides
    for did, ws in wins.items():
        nw, nd = len(ws), sum(1 for w in ws if cnt[w] > 1)
        assert (out[did]["n_windows"], out[did]["n_dup_windows"]) == (nw, nd)
        exp = round(nd / nw, 6) if nw else 0.0
        assert abs(out[did]["dup_score"] - exp) < 1e-9, did


def test_semdedup_keeps_least_prototypical(spark):
    """SemDeDup rule: within a near-dup neighborhood, the member with the
    LOWEST centroid cosine survives; distinct members and other clusters
    are untouched."""
    # cluster A: two near-identical vectors + one orthogonal-ish outlier;
    # cluster B: one lone vector. Seeds = intended clusters.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),   # prototypical (close to centroid)
        (2, [0.98, 0.2, 0.0, 0.0], 0),  # near-dup of 1, farther from centroid
        (3, [0.0, 0.0, 1.0, 0.0], 0),   # same seed cluster, not a dup
        (4, [0.0, 1.0, 0.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in
           dedup.semdedup(df, "vec_id", "embedding", "label",
                          threshold=0.9).collect()}
    assert len(out) == 4                          # one row per input
    # 1 and 2 are a near-dup pair: exactly one survives, and it is the
    # one with the LOWER centroid cosine (the least prototypical copy)
    assert out[1]["kept"] != out[2]["kept"]
    survivor, dropped = (1, 2) if out[1]["kept"] else (2, 1)
    assert out[survivor]["centroid_sim"] < out[dropped]["centroid_sim"]
    assert out[3]["kept"] and out[4]["kept"]
    # assignment is cluster-coherent: the pair landed in the same cluster
    assert out[1]["cluster"] == out[2]["cluster"]


def test_semdedup_cluster_blocking_never_crosses(spark):
    """Near-identical vectors ASSIGNED to different clusters are not
    compared — the paper's deliberate blocking trade-off (documents the
    semantics; recall across cluster borders comes from more Lloyd
    rounds, not cross-cluster pairs)."""
    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),     # same cluster dups
        (3, [-1.0, 0.05], 1), (4, [-1.0, 0.05], 1),  # same cluster dups
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")
    out = {r["vec_id"]: r["kept"] for r in
           dedup.semdedup(df, "vec_id", "embedding", "label",
                          threshold=0.99).collect()}
    # one survivor per identical pair (exact ties: smaller id dominates →
    # larger id is dropped? rule drops the HIGHER (cs, id); ids break ties)
    assert sum(out.values()) == 2
    assert out[1] != out[2] and out[3] != out[4]


def test_bpe_train_matches_classic_example(spark):
    """The Sennrich et al. worked example: low/lower/newest/widest. The
    first merges must be the textbook sequence (es, est, est</w>, lo,
    low) — pins the pair counting, tie-breaking, and merge semantics."""
    from walmart_project_etl_spark.operators import bpe
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                    + ["widest"] * 3)
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    merges = bpe.bpe_train(df, "text", n_merges=5)
    assert [(lt, rt) for lt, rt, _ in merges] == \
        [("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")]
    assert merges[0][2] == 9          # 'es' occurs in newest×6 + widest×3


def test_bpe_encode_roundtrip_lossless(spark):
    """Decoding (concat tokens, strip the EOW marker) reconstructs the
    exact lowercased word sequence — BPE is a segmentation, never a
    lossy transform, at ANY merge count."""
    from walmart_project_etl_spark.operators import bpe
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    merges = bpe.bpe_train(d, "text", n_merges=12)
    enc = bpe.bpe_encode(d, "doc_id", "text", merges)
    decoded = enc.select(
        "doc_id",
        F.replace(F.concat_ws("", "tokens"), F.lit(bpe.EOW), F.lit(" "))
         .alias("detok"))
    orig = d.select(
        "doc_id",
        F.concat(F.concat_ws(" ", F.split(F.lower(F.trim("text")),
                                          r"\s+")), F.lit(" "))
         .alias("detok"))
    got = {r["doc_id"]: r["detok"] for r in decoded.collect()}
    want = {r["doc_id"]: r["detok"] for r in orig.collect()}
    assert got == want


def test_bpe_encode_token_count_shrinks_with_merges(spark):
    """More merges → fewer tokens (monotone compression), and zero
    merges = characters + one EOW per word."""
    from walmart_project_etl_spark.operators import bpe
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    m = bpe.bpe_train(d, "text", n_merges=16)
    n0 = bpe.bpe_encode(d, "doc_id", "text", []) \
        .agg(F.sum("n_tokens")).first()[0]
    n8 = bpe.bpe_encode(d, "doc_id", "text", m[:8]) \
        .agg(F.sum("n_tokens")).first()[0]
    n16 = bpe.bpe_encode(d, "doc_id", "text", m) \
        .agg(F.sum("n_tokens")).first()[0]
    assert n0 > n8 > n16


def test_semdedup_lsh_drops_subset_with_high_recall(spark):
    """The LSH twin's drops are a subset of the exact twin's (candidate
    edges are a subset, so a missed candidate keeps both copies — never
    a wrong drop). At the paper's operating regime (threshold 0.9,
    planted near-dups) the scale-default bands give drop recall ≥ 0.9;
    at the analytic threshold-derived sizing the corpus's own
    barely-correlated 0.3 pairs reach ≥ 0.95."""
    import numpy as np
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    # plant near-dups: 40 vectors copied with a tiny deterministic
    # perturbation (cosine ≥ 0.95 to their source)
    rng = np.random.RandomState(11)
    base = emb.limit(40).collect()
    planted = [(int(r["vec_id"]) + 10_000,
                [float(x) + float(e) for x, e in
                 zip(r["embedding"], rng.normal(0, 0.01, 64))],
                int(r["label"])) for r in base]
    aug = emb.unionByName(emb.sparkSession.createDataFrame(
        planted, "vec_id bigint, embedding array<float>, label int"))
    exact = {r["vec_id"] for r in
             dedup.semdedup(aug, "vec_id", "embedding", "label",
                            threshold=0.9).collect() if not r["kept"]}
    lsh = {r["vec_id"] for r in
           dedup.semdedup_lsh(aug, "vec_id", "embedding", "label",
                              threshold=0.9, n_planes=64,
                              n_bands=8).collect() if not r["kept"]}
    assert lsh <= exact
    # nearly every planted pair dedups (a planted copy whose one
    # Lloyd reassignment lands across a cluster border is blocked
    # from its source BY DESIGN — allow a small margin)
    assert len(exact) >= 36
    assert len(lsh & exact) / len(exact) >= 0.9
    # analytic sizing at the corpus's own low threshold
    exact03 = {r["vec_id"] for r in
               dedup.semdedup(emb, "vec_id", "embedding", "label",
                              threshold=0.3).collect() if not r["kept"]}
    lsh03 = {r["vec_id"] for r in
             dedup.semdedup_lsh(emb, "vec_id", "embedding", "label",
                                threshold=0.3).collect()
             if not r["kept"]}
    assert lsh03 <= exact03
    assert len(lsh03 & exact03) / len(exact03) >= 0.95


def test_pq_ann_recall_and_determinism(spark):
    """Product-quantization ANN at the defaults (m=8, nbits=6,
    rerank=8): measured recall@10 = 0.94 vs brute force on this seeded
    corpus (sweep in operators/similarity.py:pq_ann_topk); pinned with
    margin — must stay far above random (~2%). Two runs must be
    identical (seeded per-subspace KMeans)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id % 100 = 7").select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(emb, queries, k=10)
    approx = similarity.pq_ann_topk(emb, queries, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.85
    again = {(r["query_id"], r["vec_id"])
             for r in similarity.pq_ann_topk(emb, queries, k=10).collect()}
    assert a == again


def test_pq_codes_shape_and_guards(spark):
    """Encode output is m codes in [0, 2^nbits); a dimension not
    divisible by m rejects loudly."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    books = similarity.pq_train(emb, m=4, nbits=4)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 16
    codes = similarity.pq_encode(emb, books).collect()
    assert all(len(r["pq_code"]) == 4 and
               all(0 <= c < 16 for c in r["pq_code"]) for r in codes)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train(emb, m=7, nbits=3)


def test_pmi_collocations_ranks_exclusive_pair_first(spark):
    """A pair whose words only ever occur together must out-PMI a pair
    of independently frequent words; min_count hides hapax pairs."""
    import math
    corpus = (["zig zag"] * 4
              + ["the cat", "the dog", "the cow", "the cat", "the dog",
                 "the fox"]
              + ["rare pair"])          # once: below min_count
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)],
                               "doc_id int, text string")
    rows = text.pmi_collocations(df, "text", min_count=2, top_k=10) \
               .collect()
    assert rows[0]["w1"] == "zig" and rows[0]["w2"] == "zag"
    got = {(r["w1"], r["w2"]) for r in rows}
    assert ("rare", "pair") not in got
    # closed form: p(zig zag)=4/11 bigrams, p(zig)=p(zag)=4/22 tokens
    expect = math.log((4 / 11) / ((4 / 22) * (4 / 22)))
    assert abs(rows[0]["pmi"] - round(expect, 6)) < 1e-9


def test_contrastive_triplets_chain_and_negative_disjoint(spark):
    """Positives chain within dup groups (k-sized group -> k-1 pairs);
    negatives never share the anchor's text digest; the whole set is
    deterministic across runs."""
    from walmart_project_etl_spark.operators.sampling import \
        contrastive_triplets
    rows = ([(i, "unique text %d and filler" % i) for i in range(20)]
            + [(100, "dup group one"), (101, "dup group one"),
               (102, "dup group one"),
               (200, "dup group two"), (201, "dup group two")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = contrastive_triplets(df, "doc_id", "text").collect()
    pairs = {(r["anchor_id"], r["positive_id"]) for r in out}
    # chained pairs only (100,101),(101,102),(200,201) modulo negative
    # draws dropped for digest collision (impossible here: uniques differ)
    assert pairs == {(100, 101), (101, 102), (200, 201)}
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    for r in out:
        assert texts[r["negative_id"]] != texts[r["anchor_id"]]
    again = {tuple(r) for r in
             contrastive_triplets(df, "doc_id", "text").collect()}
    assert again == {tuple(r) for r in out}


def test_leakage_safe_split_never_straddles_clusters(spark):
    """Splitting on the dup-CLUSTER id: every cluster lands in exactly
    one split (a near-dup of a training doc can never reach the eval
    set), singletons split independently, and the assignment matches
    hash_split's md5 bucket rule applied to the cluster id."""
    from walmart_project_etl_spark.operators import graph
    from walmart_project_etl_spark.operators.sampling import hash_split
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    corpus = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "doc_id long")
    labeled = graph.cluster_dedup(pairs, corpus, "doc_id") \
                   .drop("is_canonical")
    out = hash_split(labeled, "cluster_id",
                     {"train": 50, "test": 50}).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    docs = {r["doc_id"]: r for r in out}
    # dup group {1,2,3} shares one split; {10,11} shares one split
    assert docs[1]["split"] == docs[2]["split"] == docs[3]["split"]
    assert docs[10]["split"] == docs[11]["split"]
    assert len(out) == 7


def test_contrastive_triplets_small_and_empty_corpus(spark):
    """A corpus smaller than pool_size draws modulo the EFFECTIVE pool
    size (every negative_id stays a real doc); an empty corpus raises
    instead of letting % 0 produce NULL draws and an empty result."""
    import pytest
    from walmart_project_etl_spark.operators.sampling import \
        contrastive_triplets
    rows = [(1, "dup"), (2, "dup"), (3, "other"), (4, "third")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = contrastive_triplets(df, "doc_id", "text",
                               pool_size=256).collect()
    assert {(r["anchor_id"], r["positive_id"]) for r in out} <= {(1, 2)}
    assert all(r["negative_id"] in {1, 2, 3, 4} for r in out)
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty corpus"):
        contrastive_triplets(empty, "doc_id", "text")


def test_mixture_divergence_closed_form(spark):
    """Entropy/KL against hand-computed values (same round-6-then-sum
    recipe): group A 'a a b', group B 'b b b c'; corpus a:2 b:4 c:1."""
    import math

    from walmart_project_etl_spark.operators.selection import \
        mixture_divergence_report
    df = spark.createDataFrame(
        [("A", "a a b"), ("B", "b b b c")], "source string, text string")
    out = {r["source"]: r
           for r in mixture_divergence_report(df, "source", "text")
           .collect()}

    def h(counts, ns):
        return -sum(round(math.log(c / ns), 6) * c for c in counts) / ns

    def kl(pairs, ns, n=7):
        return sum(round(math.log((c / ns) / (vc / n)), 6) * c
                   for c, vc in pairs) / ns

    assert out["A"]["n_tokens"] == 3 and out["B"]["n_tokens"] == 4
    assert math.isclose(out["A"]["entropy"], h([2, 1], 3), abs_tol=1e-9)
    assert math.isclose(out["B"]["entropy"], h([3, 1], 4), abs_tol=1e-9)
    assert math.isclose(out["A"]["kl_vs_corpus"],
                        kl([(2, 2), (1, 4)], 3), abs_tol=1e-9)
    assert math.isclose(out["B"]["kl_vs_corpus"],
                        kl([(3, 4), (1, 1)], 4), abs_tol=1e-9)
    # both KLs strictly positive: the groups genuinely differ from the mix
    assert out["A"]["kl_vs_corpus"] > 0 and out["B"]["kl_vs_corpus"] > 0


def test_dsir_weights_favor_target_and_resample_biases(spark):
    """DSIR semantics: docs from the target distribution (en) score a
    higher mean importance log-weight than the rest of the pool, and
    the Gumbel top-k resample (a) is deterministic, (b) draws without
    replacement, (c) over-represents the target vs the raw pool."""
    from walmart_project_etl_spark.operators import selection

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = selection.dsir_importance_weights(
        d.where("lang = 'en'"), d, "doc_id", "text")
    j = w.join(d.select("doc_id", "lang"), "doc_id")
    means = {r["is_en"]: r["m"] for r in
             j.groupBy((F.col("lang") == "en").alias("is_en"))
              .agg(F.avg("logw").alias("m")).collect()}
    assert means[True] > means[False]

    k = 50
    s1 = selection.dsir_resample(w, "doc_id", k=k).collect()
    s2 = selection.dsir_resample(w, "doc_id", k=k).collect()
    assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]
    ids = [r["doc_id"] for r in s1]
    assert len(ids) == k and len(set(ids)) == k     # without replacement
    pool_en = d.where("lang = 'en'").count() / d.count()
    en = {r["doc_id"] for r in d.where("lang = 'en'")
          .select("doc_id").collect()}
    sample_en = sum(1 for i in ids if i in en) / k
    assert sample_en > pool_en                      # importance bias
    # a different seed draws a different (but equally valid) sample
    s3 = selection.dsir_resample(w, "doc_id", k=k, seed="other")
    assert {r["doc_id"] for r in s3.collect()} != set(ids)


def test_temperature_mixture_upweights_small_sources(spark):
    """α=0.5 temperature mixing: every source's share of the KEPT
    tokens moves toward uniform relative to its raw share (small
    sources up, large sources down), budgets are met greedily
    (overshoot ≤ 1 doc per source), and the draw is deterministic."""
    from walmart_project_etl_spark.operators import sampling

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = F.size(F.split(F.regexp_replace(F.col("text"), r"^\s+|\s+$", ""),
                       r"\s+"))
    sized = d.select("doc_id", F.col("lang").alias("src"),
                     n.cast("long").alias("n_tokens"))
    total = 6000
    out = sampling.temperature_mixture(sized, "src", "n_tokens",
                                       "doc_id", total_budget=total)
    raw = {r["src"]: r["n"] for r in
           sized.groupBy("src").agg(F.sum("n_tokens").alias("n"))
           .collect()}
    kept = {r["src"]: r["n"] for r in
            out.groupBy("src").agg(F.sum("n_tokens").alias("n"))
            .collect()}
    raw_tot, kept_tot = sum(raw.values()), sum(kept.values())
    big = max(raw, key=raw.get)
    small = min(raw, key=raw.get)
    assert kept[small] / kept_tot > raw[small] / raw_tot
    assert kept[big] / kept_tot < raw[big] / raw_tot
    # budget adherence: each source's kept tokens ≥ its budget but
    # overshoots by at most its boundary doc
    import math
    z = sum(math.sqrt(v) for v in raw.values())
    for s, k in kept.items():
        budget = math.floor(total * math.sqrt(raw[s]) / z)
        max_doc = out.where(F.col("src") == s) \
                     .agg(F.max("n_tokens")).first()[0]
        assert budget <= k < budget + max_doc + 1
    # deterministic
    again = sampling.temperature_mixture(sized, "src", "n_tokens",
                                         "doc_id", total_budget=total)
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in again.collect())


def test_bigram_logprob_rewards_word_order(spark):
    """The interpolated bigram LM scores fluent repeated word order
    above the same tokens shuffled — the signal the unigram model is
    blind to (both docs have identical unigram profiles)."""
    fluent = " ".join(["the quick brown fox jumps over the lazy dog"] * 6)
    toks = fluent.split()
    # deterministic derangement: reverse — same bag of words,
    # destroyed transitions
    shuffled = " ".join(reversed(toks))
    corpus = spark.createDataFrame(
        [(i, fluent) for i in range(8)] + [(100, shuffled)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["mean_logprob"]
           for r in text.bigram_logprob(corpus, "doc_id", "text")
           .collect()}
    assert out[0] > out[100]
    # unigram model cannot separate them (same token multiset)
    uni = {r["doc_id"]: r["mean_logprob"]
           for r in text.unigram_logprob(corpus, "doc_id", "text")
           .collect()}
    assert abs(uni[0] - uni[100]) < 1e-9


def test_kmeans_labels_deterministic_and_clusters_cohere(spark):
    """Deterministic Lloyd's: identical labels at any parallelism (md5
    init + decimal means), every cluster non-trivial under k << n, and
    iterating IMPROVES mean centroid similarity over the init round."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = similarity.kmeans_labels(emb.coalesce(1), k=8, iters=3)
    b = similarity.kmeans_labels(emb.repartition(17), k=8, iters=3)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    assert len({r[1] for r in ra}) == 8          # no empty clusters here
    sim3 = a.agg(F.avg("centroid_sim")).first()[0]
    sim0 = similarity.kmeans_labels(emb, k=8, iters=0) \
        .agg(F.avg("centroid_sim")).first()[0]
    assert sim3 > sim0                           # Lloyd's made progress


def test_kmeans_assignment_paths_bit_identical(spark, monkeypatch):
    """The broadcast-join assignment (the k ∝ N regime, plan size O(1)
    in k) produces BIT-IDENTICAL labels and similarities to the
    centroid-literal path — same round-6 cosines, same smaller-id tie
    break — so the path switch at KMEANS_LITERAL_K_MAX is invisible to
    results."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    lit = similarity.kmeans_labels(emb, k=8, iters=2)
    rows_lit = sorted(tuple(r) for r in lit.collect())
    monkeypatch.setattr(similarity, "KMEANS_LITERAL_K_MAX", 0)
    join = similarity.kmeans_labels(emb, k=8, iters=2)
    rows_join = sorted(tuple(r) for r in join.collect())
    assert rows_lit == rows_join


def test_semdedup_kmeans_cluster_size_bounded(spark):
    """The SemDeDup scale rule as a knob: target_cluster_size derives
    k = ceil(N / target), bounding EXPECTED cluster size — the mean
    stays at-or-under the target by construction and the
    within-cluster pair cost stays O(N × target) instead of the
    O(N²/k) a fixed small k degrades to."""
    from walmart_project_etl_spark.operators.similarity import \
        kmeans_k_for

    assert kmeans_k_for(500, 8) == 63
    assert kmeans_k_for(500, 64) == 8
    assert kmeans_k_for(10, 1000) == 2           # k_min floor
    assert kmeans_k_for(0, 8) == 2

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    target = 16
    out = dedup.semdedup_kmeans(emb, "vec_id", "embedding",
                                threshold=0.3,
                                target_cluster_size=target, iters=1)
    sizes = [r["c"] for r in out.groupBy("cluster")
             .agg(F.count(F.lit(1)).alias("c")).collect()]
    k = kmeans_k_for(n, target)
    # mean ≤ target by construction (k = ceil(N/target) clusters
    # partition N rows; empty clusters only shrink the denominator's
    # upper bound, never push the mean over N/k)
    assert n / k <= target
    assert sum(sizes) == n
    # pair cost bounded: Σ c·(c-1)/2 stays O(N × target) — allow 2×
    # for k-means skew on real data, still far under the fixed-k cost
    pair_cost = sum(c * (c - 1) // 2 for c in sizes)
    assert pair_cost <= 2 * n * target

    # explicit-k and missing-knob validation
    with pytest.raises(ValueError, match="target_cluster_size"):
        dedup.semdedup_kmeans(emb, "vec_id", "embedding")


def test_pca_deterministic_and_matches_numpy(spark):
    """Distributed PCA: the tree-aggregated Gram + decimal merge is
    invariant to input partitioning, the explained variances equal a
    driver-side numpy eigendecomposition of the same covariance, and
    the projection equals the numpy matmul against the fitted basis."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    m1 = similarity.pca_fit(emb, k=4)
    m2 = similarity.pca_fit(emb.repartition(17), k=4)
    assert m1 == m2                               # parallelism-invariant

    X = np.array([r["embedding"] for r in emb.collect()],
                 dtype=np.float64)
    Xc = X - X.mean(axis=0)
    ev = np.linalg.eigvalsh((Xc.T @ Xc) / X.shape[0])
    assert m1["explained"] == [round(float(v), 6)
                               for v in sorted(ev)[::-1][:4]]

    proj = {r["vec_id"]: r["pc"]
            for r in similarity.pca_project(emb, m1).collect()}
    mean = np.array(m1["mean"])
    comps = np.array(m1["components"])
    for r in emb.limit(5).collect():
        want = comps @ (np.array(r["embedding"], dtype=np.float64) - mean)
        got = proj[r["vec_id"]]
        assert got == [round(float(v), 6) for v in want] or \
            max(abs(g - w) for g, w in zip(got, want)) < 1e-6


def test_duplicate_spans_marks_and_merges(spark):
    # docs 1 and 2 share a 10-token run -> with width=4 every window in
    # the run duplicates; the marks must merge into ONE maximal span each
    shared = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, f"x1 y1 {shared} z1"),
         (2, f"{shared} q2 r2 s2"),
         (3, "totally unrelated words only here once now")],
        "doc_id int, text string")
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in dedup.duplicate_spans(df, width=4).collect()}
    # doc 1: shared run occupies tokens 2..11; doc 2: tokens 0..9
    assert spans == {(1, 2, 11), (2, 0, 9)}


def test_remove_duplicate_spans_cuts_all_copies(spark):
    shared = "a b c d e f"
    df = spark.createDataFrame(
        [(1, f"p q {shared}"), (2, f"{shared} u v"),
         (3, "w x y z only once")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           dedup.remove_duplicate_spans(df, width=6).collect()}
    assert out[1]["clean_text"] == "p q" and out[1]["n_removed"] == 6
    assert out[2]["clean_text"] == "u v" and out[2]["n_removed"] == 6
    assert out[3]["clean_text"] == "w x y z only once"
    assert out[3]["n_removed"] == 0 and out[3]["n_tokens"] == 6


def test_cms_never_underestimates(spark):
    from walmart_project_etl_spark.operators import sketch
    df = spark.createDataFrame(
        [(i % 7,) for i in range(500)], "item long")
    sk = sketch.cms_sketch(df, "item", depth=4, width=16)
    true = {r["item"]: r["cnt"] for r in
            df.groupBy("item").agg(F.count("*").alias("cnt")).collect()}
    est = {r["item"]: r["cms_est"] for r in sketch.cms_estimate(
        sk, df.select("item").distinct(), "item",
        depth=4, width=16).collect()}
    assert all(est[i] >= true[i] for i in true)  # CMS one-sided error
    # sketch state is bounded by the grid, not the input
    assert sk.count() <= 4 * 16


def test_kmv_exact_below_k_and_close_above(spark):
    from walmart_project_etl_spark.operators import sketch
    df = spark.createDataFrame(
        [("small", i) for i in range(10)]
        + [("big", i) for i in range(2000)], "g string, item long")
    out = {r["g"]: r for r in
           sketch.kmv_distinct(df, "item", ["g"], k=64).collect()}
    assert out["small"]["kmv_est"] == 10.0  # below k -> exact
    assert out["small"]["n_kept"] == 10
    assert abs(out["big"]["kmv_est"] - 2000) / 2000 < 0.35  # ~1/sqrt(k)
    # global (ungrouped) path: TakeOrdered bottom-k, no window
    g = sketch.kmv_distinct(df, "item", None, k=64).collect()
    assert len(g) == 1 and abs(g[0]["kmv_est"] - 2000) / 2000 < 0.35


def test_ivfpq_recall_and_precision_floor(spark):
    """IVF-PQ residual ANN: recall@10 vs brute truth must clear 0.7 at
    the shipped defaults (sweep in the operator docstring measured
    0.78); output is exact-cosine re-ranked so similarity values are
    true cosines, and ranks are dense 1..k."""
    from walmart_project_etl_spark.operators import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 7) \
           .select(F.col("vec_id").alias("query_id"), "embedding")
    truth = {(r["query_id"], r["vec_id"])
             for r in S.cosine_topk(emb, q, k=10).collect()}
    rows = S.ivfpq_ann_topk(emb, q, k=10).collect()
    got = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(truth & got) / len(truth) >= 0.7
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_q.values())


def test_pagerank_star_center_dominates_and_sums_to_one(spark):
    from walmart_project_etl_spark.operators import graph
    # star: hub <-> 4 spokes, symmetrized => mass conserved
    edges = [("hub", f"s{i}") for i in range(4)] + \
            [(f"s{i}", "hub") for i in range(4)]
    df = spark.createDataFrame(edges, "src string, dst string")
    pr = {r["node"]: r["pagerank"]
          for r in graph.pagerank(df, iters=10).collect()}
    assert pr["hub"] > max(v for k, v in pr.items() if k != "hub")
    assert abs(sum(pr.values()) - 1.0) < 1e-6   # no dangling mass loss
    spokes = [v for k, v in pr.items() if k != "hub"]
    assert max(spokes) - min(spokes) < 1e-9     # symmetry


def test_unigram_train_covers_chars_and_compresses(spark):
    from walmart_project_etl_spark.operators import unigram
    df = spark.createDataFrame(
        [(i, "the quick quick brown fox the the quick")
         for i in range(4)], "doc_id int, text string")
    vocab = unigram.unigram_train(df, vocab_size=40, rounds=2)
    rows = vocab.collect()
    pieces = {r["piece"] for r in rows}
    # single-char coverage guarantee
    for ch in set("thequickbrownfx"):
        assert ch in pieces, ch
    # frequent words survive as whole pieces
    assert "quick" in pieces and "the" in pieces
    enc = unigram.unigram_encode(df, vocab).collect()
    for r in enc:
        assert r["n_words"] == 8
        assert r["n_tokens"] <= 12      # far fewer than the 33 chars
    # deterministic retrain
    again = {(r["piece"], r["logprob"])
             for r in unigram.unigram_train(df, vocab_size=40,
                                            rounds=2).collect()}
    assert again == {(r["piece"], r["logprob"]) for r in rows}


def test_unigram_encode_shuffle_fallback_equals_broadcast(spark):
    """The broadcast-ceiling gate (broadcast_words_max): with the
    threshold forced to 0 the word→tokens map joins by plain shuffle
    instead of a broadcast hint — same results, and the physical plan
    must NOT broadcast-hash-join the word key."""
    from walmart_project_etl_spark.operators import unigram
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "quick quick the fox jumps"),
         (3, "a lone unseen word")], "doc_id int, text string")
    vocab = unigram.unigram_train(df, vocab_size=40, rounds=2)
    want = {tuple(r) for r in unigram.unigram_encode(
        df, vocab, broadcast_words_max=None).collect()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = unigram.unigram_encode(df, vocab, broadcast_words_max=0)
        # initial plan, BEFORE execution: no hint + no auto-broadcast =>
        # the word join must not be a broadcast-hash join (AQE may still
        # upgrade a genuinely tiny map side at runtime — that's fine)
        plan = shuffled._sc._jvm.PythonSQLUtils.explainString(
            shuffled._jdf.queryExecution(), "simple")
        assert "BroadcastHashJoin" not in plan
        assert {tuple(r) for r in shuffled.collect()} == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_matryoshka_recall_floor_and_exact_rerank(spark):
    from walmart_project_etl_spark.operators import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 7) \
           .select(F.col("vec_id").alias("query_id"), "embedding")
    truth = S.cosine_topk(emb, q, k=10).collect()
    got = S.matryoshka_topk(emb, q, k=10).collect()
    tset = {(r["query_id"], r["vec_id"]) for r in truth}
    gset = {(r["query_id"], r["vec_id"]) for r in got}
    # unstructured synthetic vectors = the documented floor case
    assert len(tset & gset) / len(tset) >= 0.3
    # survivors carry TRUE cosine values (exact re-rank)
    tvals = {(r["query_id"], r["vec_id"]): r["cosine_sim"] for r in truth}
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in tvals:
            assert abs(r["cosine_sim"] - tvals[key]) < 1e-9


def test_pack_bins_bfd_invariants(spark):
    from walmart_project_etl_spark.operators.packing import pack_bins_bfd
    df = spark.createDataFrame(
        [(i, 10 + (i * 37) % 90) for i in range(200)],
        "doc_id long, n_tokens long")
    out = pack_bins_bfd(df, "doc_id", "n_tokens", capacity=128,
                        n_groups=4).collect()
    assert len(out) == 200                       # every doc packed once
    fills = {}
    for r in out:
        fills.setdefault((r["pack_group"], r["bin_id"]), 0)
        fills[(r["pack_group"], r["bin_id"])] += r["n_tokens"]
    assert all(v <= 128 for v in fills.values())  # capacity respected
    for r in out:                                 # fill column is truth
        assert r["bin_fill"] == fills[(r["pack_group"], r["bin_id"])]
    # deterministic
    again = {(r["doc_id"], r["bin_id"]) for r in pack_bins_bfd(
        df, "doc_id", "n_tokens", capacity=128, n_groups=4).collect()}
    assert again == {(r["doc_id"], r["bin_id"]) for r in out}
    # oversize rejection
    import pytest as _pytest
    big = spark.createDataFrame([(1, 200)], "doc_id long, n_tokens long")
    with _pytest.raises(Exception, match="exceed"):
        pack_bins_bfd(big, "doc_id", "n_tokens", capacity=128).collect()


# ------------------------------------- work pins of the iterative operators


def test_pq_train_parallel_fits_deterministic(spark):
    """Thread-parallel subspace fits must yield bit-identical codebooks
    across invocations (seeds + partitioning unchanged)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    b1 = similarity.pq_train(emb, "embedding", m=4, nbits=3)
    b2 = similarity.pq_train(emb, "embedding", m=4, nbits=3)
    assert b1 == b2


@pytest.fixture()
def sin_emb(spark):
    # 60 ids x 8 dims, deterministic values in [-1, 1]
    return spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.round(F.sin(F.col("id") * (i + 1)), 3)
                  for i in range(8)]).alias("embedding"))


def test_kmeans_labels_releases_work_pin(spark, sin_emb):
    """The work pin lives only for the Lloyd rounds; the eagerly
    checkpointed result (not a CacheManager entry) is all that stays
    alive — the suite's leak census fails the test otherwise."""
    out = similarity.kmeans_labels(sin_emb, "vec_id", "embedding",
                                   k=4, iters=2)
    assert out.count() == 60


def test_kmeans_labels_broadcast_path_matches_literal_path(spark, sin_emb,
                                                           monkeypatch):
    """k above/below KMEANS_LITERAL_K_MAX must label identically —
    guards the result while the pin scoping changes around it."""
    lit = similarity.kmeans_labels(sin_emb, "vec_id", "embedding",
                                   k=4, iters=1)
    monkeypatch.setattr(similarity, "KMEANS_LITERAL_K_MAX", 0)
    bc = similarity.kmeans_labels(sin_emb, "vec_id", "embedding",
                                  k=4, iters=1)
    a = {r["vec_id"]: (r["cluster"], r["centroid_sim"])
         for r in lit.collect()}
    b = {r["vec_id"]: (r["cluster"], r["centroid_sim"])
         for r in bc.collect()}
    assert a == b


def test_pagerank_releases_graph_pins(spark):
    from walmart_project_etl_spark.operators.graph import pagerank

    edges = spark.range(0, 200).select(
        (F.col("id") % 40).alias("src"),
        ((F.col("id") * 7 + 3) % 40).alias("dst"))
    rows = pagerank(edges, iters=3).collect()
    # src s always links to (7s + 3) % 40 (280 ≡ 0 mod 40), a permutation
    # of the 40 nodes: every node has in- and out-degree 1, so each round
    # maps 1/40 to 0.15/40 + 0.85 * 1/40 = 1/40 — the ranks stay uniform
    assert {r["node"] for r in rows} == set(range(40))
    assert all(r["pagerank"] == pytest.approx(0.025, abs=1e-10)
               for r in rows)
    with pytest.raises(ValueError, match="iters"):
        pagerank(edges, iters=0)


def test_pagerank_values_stable_under_pin_scoping(spark):
    """Round-10 fixed-point ranks are partitioning-independent; the
    eager final checkpoint must not change a digit."""
    from walmart_project_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src int, dst int")
    got = {r["node"]: r["pagerank"]
           for r in pagerank(edges, iters=2).collect()}
    # hand-rolled reference: pr0 = 1/4 each, d=0.85, base=0.0375
    # out: 1->2, 2->3, 3->1, 4->1
    pr = {v: 0.25 for v in (1, 2, 3, 4)}
    for _ in range(2):
        contrib = {1: pr[3] + pr[4], 2: pr[1], 3: pr[2]}
        pr = {v: round(0.15 / 4 + 0.85 * contrib.get(v, 0.0), 10)
              for v in (1, 2, 3, 4)}
    assert got == pr
