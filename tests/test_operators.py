"""Behavioral tests for the custom join/dedup operators — the semantics
edges the oracle-parity gate can't see (outer joins, NULL payloads, skew
guards)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aave_etl_spark.operators import dedup, similarity
from aave_etl_spark.operators.asof import asof_join
from aave_etl_spark.operators.range_join import range_join
from aave_etl_spark.operators.skew import salted_join


# ---------------------------------------------------------------------------
# as-of join: all asof_* columns must come from ONE right row; a NULL field
# in the latest right row stays NULL (no back-fill from an older row).
# ---------------------------------------------------------------------------
def test_asof_null_field_not_backfilled(spark):
    left = spark.createDataFrame(
        [("k", 3, "trade")], "key string, ts long, tag string"
    )
    right = spark.createDataFrame(
        [("k", 1, 10.0, "old"), ("k", 2, None, "new")],
        "key string, ts long, px double, src string",
    )
    out = asof_join(left, right, ["key"], "ts", ["px", "src"]).collect()
    assert len(out) == 1
    # latest right row at ts=2 has px NULL — it must NOT pull px=10.0 from ts=1
    assert out[0].asof_src == "new"
    assert out[0].asof_px is None


def test_asof_no_prior_right_row_is_null(spark):
    left = spark.createDataFrame([("k", 0, "t")], "key string, ts long, tag string")
    right = spark.createDataFrame(
        [("k", 5, 1.0, "later")], "key string, ts long, px double, src string"
    )
    out = asof_join(left, right, ["key"], "ts", ["px", "src"]).collect()
    assert out[0].asof_px is None and out[0].asof_src is None


# ---------------------------------------------------------------------------
# range join: outer semantics + empty-interval guard.
# ---------------------------------------------------------------------------
def _range_inputs(spark):
    facts = spark.createDataFrame(
        [(1, 5.0), (2, 25.0), (3, 995.0)], "fact_id long, value double"
    )
    intervals = spark.createDataFrame(
        [("lo", 0.0, 10.0), ("mid", 20.0, 30.0), ("bad", 9.0, 3.0)],
        "tier string, lo double, hi double",
    )
    return facts, intervals


def test_range_join_left_keeps_unmatched_facts(spark):
    facts, intervals = _range_inputs(spark)
    out = range_join(facts, intervals, "value", how="left").collect()
    by_fact = {r.fact_id: r for r in out}
    assert len(out) == 3  # one row per fact, exactly
    assert by_fact[1].tier == "lo" and by_fact[2].tier == "mid"
    assert by_fact[3].tier is None  # unmatched fact NULL-padded, not dropped
    # the lo > hi interval is dropped, not a crash and not a match
    assert all(r.tier != "bad" for r in out)


def test_range_join_inner_and_semi_anti(spark):
    facts, intervals = _range_inputs(spark)
    inner = range_join(facts, intervals, "value", how="inner").collect()
    assert {r.fact_id for r in inner} == {1, 2}
    semi = range_join(facts, intervals, "value", how="left_semi").collect()
    assert {r.fact_id for r in semi} == {1, 2}
    assert set(semi[0].asDict()) == {"fact_id", "value"}  # facts' columns only
    anti = range_join(facts, intervals, "value", how="left_anti").collect()
    assert {r.fact_id for r in anti} == {3}
    with pytest.raises(ValueError, match="range_join supports"):
        range_join(facts, intervals, "value", how="full")


# ---------------------------------------------------------------------------
# salted join: left family identical to the plain join; right/full rejected.
# ---------------------------------------------------------------------------
def test_salted_left_join_matches_plain(spark):
    big = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(20)] + [("orphan", 0)],
        "k string, i long",
    )
    small = spark.createDataFrame([("hot", 1.0), ("cold", 2.0)], "k string, w double")
    plain = big.join(small, ["k"], "left").orderBy("k", "i").collect()
    salted = salted_join(big, small, ["k"], n_salts=4, how="left").orderBy("k", "i").collect()
    assert plain == salted
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(big, small, ["k"], how="full")


# ---------------------------------------------------------------------------
# jaccard: df-based hot-shingle pruning bounds blocking-join fan-out;
# verify stage keeps zero-intersection candidates at threshold 0.
# ---------------------------------------------------------------------------
def test_jaccard_pairs_hot_shingle_pruned(spark):
    # 40 docs share one boilerplate shingle; otherwise all-distinct content.
    # Unpruned, the hot shingle alone fans out C(40,2) = 780 pairs.
    docs = spark.createDataFrame(
        [(i, f"copyright footer boilerplate unique{i} text{i} tail{i}") for i in range(40)],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs, n=3)
    unpruned = dedup.jaccard_pairs(sh, threshold=0.0)
    pruned = dedup.jaccard_pairs(sh, threshold=0.0, max_shingle_df=10)
    assert unpruned.count() == 780
    # the hot shingle (df=40 > cap) is dropped before the join: no pair
    # survives, so fan-out is bounded by cap^2 per remaining shingle
    assert pruned.count() == 0


def test_jaccard_pairs_pruning_keeps_cold_shingles(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma epsilon"),
            (2, "zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs, n=3)
    with_cap = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(sh, threshold=0.0, max_shingle_df=10).collect()
    }
    no_cap = {
        (r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(sh, threshold=0.0).collect()
    }
    assert with_cap == no_cap  # cap above every df: identical to exact form


def test_jaccard_verify_zero_intersection_kept(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs, n=3)
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = dedup.jaccard_verify(sh, pairs, threshold=0.0).collect()
    assert len(out) == 1 and out[0].jaccard == 0.0  # scored 0, not dropped
    assert dedup.jaccard_verify(sh, pairs, threshold=0.1).count() == 0


def test_uniform_frame_sample_grid(spark):
    from aave_etl_spark.operators import multimodal

    media = spark.createDataFrame(
        [(0, 10, 24), (1, 1, 24)], "media_id long, duration_s long, fps long"
    )
    rows = multimodal.uniform_frame_sample(media, m=4).collect()
    by_clip = {}
    for r in rows:
        by_clip.setdefault(r.media_id, []).append(r)
    # exactly m rows per clip regardless of duration
    assert {len(v) for v in by_clip.values()} == {4}
    clip0 = sorted(by_clip[0], key=lambda r: r.sample_pos)
    # 10 s @ 24 fps = 240 frames: endpoints pinned, evenly spaced
    assert [r.frame_idx for r in clip0] == [0, 79, 159, 239]
    assert clip0[-1].ts_s == pytest.approx(239 / 24, abs=1e-6)
    # 1 s clip: indices stay within [0, 23]
    assert all(0 <= r.frame_idx <= 23 for r in by_clip[1])
    # digest is the decode-stage join key
    assert all(len(r.frame_digest) == 32 for r in rows)
    with pytest.raises(ValueError):
        multimodal.uniform_frame_sample(media, m=1)
    # zero-length clip: frame 0 sampled m times, never a negative index
    degenerate = spark.createDataFrame(
        [(9, 0, 24)], "media_id long, duration_s long, fps long"
    )
    zrows = multimodal.uniform_frame_sample(degenerate, m=4).collect()
    assert len(zrows) == 4 and all(r.frame_idx == 0 for r in zrows)
    # poisoned metadata (fps<=0/NULL, negative duration) is dropped, never
    # emitted as NULL/NaN ts_s rows that would join downstream looking valid
    poisoned = spark.createDataFrame(
        [(20, 10, 0), (21, 10, None), (22, -1, 24), (23, 5, 24)],
        "media_id long, duration_s long, fps long",
    )
    prows = multimodal.uniform_frame_sample(poisoned, m=4).collect()
    assert {r.media_id for r in prows} == {23}
    assert all(r.ts_s is not None for r in prows)
    # NaN in a double-typed column: Spark orders NaN above every number,
    # so `fps > 0` alone would pass it — the isnan terms must drop it
    nan = float("nan")
    nan_media = spark.createDataFrame(
        [(30, 10.0, nan), (31, nan, 24.0), (32, 5.0, 24.0)],
        "media_id long, duration_s double, fps double",
    )
    nrows = multimodal.uniform_frame_sample(nan_media, m=4).collect()
    assert {r.media_id for r in nrows} == {32}
    import math

    assert all(not math.isnan(r.ts_s) for r in nrows)


def test_frame_sample_plan_every_n_seconds(spark):
    from aave_etl_spark.operators import multimodal

    media = spark.createDataFrame(
        [(0, 12), (1, 3)], "media_id long, duration_s long"
    )
    rows = multimodal.frame_sample_plan(media, every_n_seconds=5).collect()
    got = {(r.media_id, r.frame_ts) for r in rows}
    assert got == {(0, 0), (0, 5), (0, 10), (1, 0)}


def test_semantic_dedup_keeper_rule(spark):
    # centroids = first 2 vectors (n_cells=2): cell 0 along +x, cell 1
    # along +y. Vectors 2,3 duplicate cell 0's direction; 4 is y-ish; 5 is
    # a y-direction near-dup of 4 but in-cell only vs lower ids 1 and 4.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [2.0, 0.0]),       # cos=1 to 0 -> dropped
            (3, [1.0, 0.05]),      # ~1 to 0 -> dropped
            (4, [0.05, 1.0]),      # ~1 to 1 -> dropped
            (5, [-1.0, 0.2]),      # far from everything in its cell? cos to 0 is -1
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in similarity.semantic_dedup(emb, eps=0.9, n_cells=2).collect()
    }
    assert len(out) == 6
    assert out[0].kept and out[1].kept
    assert not out[2].kept and not out[3].kept and not out[4].kept
    # vector 5: assigned to cell 1 (cos(5,1)=0.196 > cos(5,0)=-0.98);
    # within cell 1 its best lower-id cos is ~0.196 < eps -> kept
    assert out[5].cell_id == 1 and out[5].kept
    # cell sizes: cell 0 = {0,2,3}, cell 1 = {1,4,5}
    assert out[0].n_cell == 3 and out[1].n_cell == 3


def test_semantic_dedup_trained_centroids(spark):
    # a kmeans_fit centroid table slots into the same plan and still
    # produces a full partition of the corpus
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    cent = similarity.kmeans_fit(emb, k=3, n_iter=2)
    out = similarity.semantic_dedup(emb, eps=0.999, n_cells=3, centroids=cent)
    rows = out.collect()
    assert len(rows) == 30
    assert {r.cell_id for r in rows} <= {0, 1, 2}
    # every cell's n_cell matches its member count
    from collections import Counter

    sizes = Counter(r.cell_id for r in rows)
    assert all(r.n_cell == sizes[r.cell_id] for r in rows)


def test_span_duplicates_planted_span(spark):
    # docs 0 and 1 share one exact 4-token span; doc 2 is unrelated; doc 3
    # is too short for any window.
    docs = spark.createDataFrame(
        [
            (0, "aa bb cc dd ee ff"),
            (1, "xx yy aa bb cc dd zz"),
            (2, "one two three four five six"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.span_duplicates(docs, n=4).collect()}
    assert len(out) == 4
    # doc 0: 3 windows, exactly one ("aa bb cc dd") duplicated
    assert out[0].n_windows == 3 and out[0].n_dup_windows == 1
    assert out[0].dup_fraction == pytest.approx(1 / 3, abs=1e-6)
    # doc 1: 4 windows, one duplicated
    assert out[1].n_windows == 4 and out[1].n_dup_windows == 1
    # doc 2: no duplicated windows
    assert out[2].n_windows == 3 and out[2].n_dup_windows == 0
    assert out[2].dup_fraction == 0.0
    # doc 3: shorter than n — zero windows, fraction 0
    assert out[3].n_windows == 0 and out[3].dup_fraction == 0.0


def test_span_duplicates_within_doc_repeat(spark):
    # a span repeated twice WITHIN one doc counts both occurrences
    docs = spark.createDataFrame(
        [(0, "a b c a b c")], "doc_id long, text string"
    )
    row = dedup.span_duplicates(docs, n=3).collect()[0]
    # windows: 'a b c', 'b c a', 'c a b', 'a b c' — the two 'a b c' dup
    assert row.n_windows == 4 and row.n_dup_windows == 2
    assert row.dup_fraction == 0.5


# ---------------------------------------------------------------------------
# cosine_pairs is the n_blocks=1 blocked form — no theta join in its plan.
# ---------------------------------------------------------------------------
def test_cosine_pairs_plan_has_no_nested_loop(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id long, embedding array<double>"
    )
    df = similarity.cosine_pairs(emb, threshold=0.9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert df.count() > 0


# ---------------------------------------------------------------------------
# chunking + repetition (training-pipeline text ops).
# ---------------------------------------------------------------------------
def test_chunk_documents_coverage_and_overlap(spark):
    from aave_etl_spark.operators.text import chunk_documents

    # 57 tokens, K=32, overlap=8 (stride 24) -> chunks at 0/24/48
    words = " ".join(f"w{i}" for i in range(57))
    docs = spark.createDataFrame([(1, words), (2, "short doc")], "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert [r.n_chunk_tokens for r in c1] == [32, 32, 9]  # tail clamped
    # full coverage: stride*last_start + last_len == n
    assert 24 * 2 + 9 == 57
    assert [r.chunk_id for r in by_doc[2]] == [0]
    assert by_doc[2][0].n_chunk_tokens == 2

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_chunk_documents_overlap_is_shared_tokens(spark):
    from aave_etl_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(56))  # exactly 2 full chunks
    docs = spark.createDataFrame([(1, words)], "doc_id long, text string")
    out = {r.chunk_id: r for r in chunk_documents(docs, chunk_tokens=32, overlap=8).collect()}
    assert len(out) == 2 and out[1].n_chunk_tokens == 32
    # chunk 1 starts at token 24: tokens 24..31 shared with chunk 0
    import hashlib

    c0 = " ".join(f"w{i}" for i in range(0, 32))
    c1 = " ".join(f"w{i}" for i in range(24, 56))
    assert out[0].chunk_md5 == hashlib.md5(c0.encode()).hexdigest()
    assert out[1].chunk_md5 == hashlib.md5(c1.encode()).hexdigest()


def test_repetition_stats(spark):
    from aave_etl_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "all words here unique"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    # doc 1 bigrams: ab ba ab ba ab -> 5 total, 2 distinct
    assert out[1].n_bigrams == 5 and out[1].n_distinct_bigrams == 2
    assert abs(out[1].repetition_ratio - 0.6) < 1e-12
    assert out[2].repetition_ratio == 0.0
    assert 3 not in out  # <2 tokens: no bigrams, excluded


# ---------------------------------------------------------------------------
# connected components: min-label propagation + pointer jumping.
# ---------------------------------------------------------------------------
def test_connected_components_basic(spark):
    from aave_etl_spark.operators.graph import connected_components

    # triangle {1,2,3}, edge {10,11}, isolated vertex 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20]], "node long")
    out = {r.node: r.component for r in connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_path_converges_logarithmically(spark):
    from aave_etl_spark.operators.graph import connected_components

    # path 0-1-2-...-63: diameter 63; pointer jumping must converge well
    # inside 10 iterations (plain propagation would need 63)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    out = connected_components(edges, max_iter=10).collect()
    assert len(out) == 64
    assert {r.component for r in out} == {0}


def test_connected_components_no_nodes_arg_and_string_ids(spark):
    from aave_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_c", "doc_b")], "id_a string, id_b string"
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {"doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a"}


def test_dedup_clusters_keeper_and_sizes(spark):
    from aave_etl_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame([(2, 5), (5, 7)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in [1, 2, 5, 7]], "doc_id long")
    rows = {r.doc_id: r for r in dedup_clusters(pairs, ids).collect()}
    assert rows[1].component == 1 and rows[1].cluster_size == 1 and rows[1].is_keeper == 1
    for d in (2, 5, 7):
        assert rows[d].component == 2 and rows[d].cluster_size == 3
    assert rows[2].is_keeper == 1 and rows[5].is_keeper == 0 and rows[7].is_keeper == 0


def test_connected_components_empty_edges(spark):
    from aave_etl_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    out = {r.node: r.component for r in connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 2}


# ---------------------------------------------------------------------------
# deterministic sampling: repartition-invariant, exact-k, growth-stable.
# ---------------------------------------------------------------------------
def test_stratified_exact_k_counts_and_determinism(spark):
    from aave_etl_spark.operators.sampling import stratified_exact_k

    df = spark.createDataFrame(
        [(i, "g1" if i % 2 == 0 else "g2") for i in range(100)], "doc_id long, g string"
    )
    s1 = stratified_exact_k(df, ["g"], k=7).collect()
    s2 = stratified_exact_k(df.repartition(13), ["g"], k=7).collect()
    assert sorted((r.g, r.doc_id, r.sample_rank) for r in s1) == sorted(
        (r.g, r.doc_id, r.sample_rank) for r in s2
    )
    by_g = {}
    for r in s1:
        by_g.setdefault(r.g, []).append(r.sample_rank)
    assert sorted(by_g["g1"]) == list(range(1, 8))
    assert sorted(by_g["g2"]) == list(range(1, 8))


def test_stratified_exact_k_small_stratum(spark):
    from aave_etl_spark.operators.sampling import stratified_exact_k

    df = spark.createDataFrame([(1, "g"), (2, "g")], "doc_id long, g string")
    assert stratified_exact_k(df, ["g"], k=10).count() == 2


def test_hash_split_growth_stable(spark):
    from aave_etl_spark.operators.sampling import hash_split

    small = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    s_small = {r.doc_id: r.split for r in hash_split(small).collect()}
    s_big = {r.doc_id: r.split for r in hash_split(big).collect()}
    # every doc keeps its assignment when the corpus quadruples
    assert all(s_big[d] == s for d, s in s_small.items())
    assert set(s_big.values()) == {"train", "test"}


def test_hash_fraction_sample_bounds_and_subset(spark):
    from aave_etl_spark.operators.sampling import hash_fraction_sample

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    s10 = {r.doc_id for r in hash_fraction_sample(df, fraction=0.1).collect()}
    s30 = {r.doc_id for r in hash_fraction_sample(df, fraction=0.3).collect()}
    assert s10 <= s30  # nested samples: smaller fraction is a subset
    assert 50 <= len(s10) <= 150 and 200 <= len(s30) <= 400

    with pytest.raises(ValueError):
        hash_fraction_sample(df, fraction=1.5)


# ---------------------------------------------------------------------------
# PII scrubbing + BM25.
# ---------------------------------------------------------------------------
def test_scrub_pii_counts_and_order(spark):
    from aave_etl_spark.operators.text import scrub_pii
    import hashlib

    df = spark.createDataFrame(
        [
            (1, "see https://a.example.com/x?id=1234567 or mail bob@example.com now"),
            (2, "card 4111111122223333 and pin 123"),
            (3, "plain text"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    # the 7-digit run inside the URL is scrubbed AS part of the URL, not as a number
    assert rows[1].n_urls == 1 and rows[1].n_emails == 1 and rows[1].n_long_nums == 0
    assert rows[1].clean_md5 == hashlib.md5(b"see <URL> or mail <EMAIL> now").hexdigest()
    assert rows[2].n_long_nums == 1  # one 16-digit run; '123' untouched
    assert rows[2].clean_md5 == hashlib.md5(b"card <NUM> and pin 123").hexdigest()
    assert rows[3].n_urls == rows[3].n_emails == rows[3].n_long_nums == 0


def test_bm25_topk_ranks_rare_terms_highest(spark):
    from aave_etl_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common common filler filler"),
            (3, "common filler other other"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, k=2).collect()
    top1 = {r.doc_id: r.term for r in out if r.rank == 1}
    # 'zebra' appears only in doc 1: highest idf → its top term;
    # 'common' appears in every doc: idf ~ ln(1 + 0.5/3.5), never rank 1
    assert top1[1] == "zebra"
    assert all(r.term != "common" or r.rank > 1 for r in out)
    assert all(r.rank <= 2 for r in out)


def test_bm25_retrieve_scores_are_matched_posting_sums(spark):
    from aave_etl_spark.operators.text import bm25_postings, bm25_retrieve

    df = spark.createDataFrame(
        [
            (1, "zebra common"),
            (2, "zebra common filler"),
            (3, "filler other other"),
            (4, "other unrelated words"),
        ],
        "doc_id long, text string",
    )
    out = bm25_retrieve(df, df.filter("doc_id = 1"), k=10).collect()
    got = {r.candidate_id: r.bm25_score for r in out}
    # self-match excluded; doc 4 shares no term with doc 1
    assert 1 not in got and 4 not in got
    # score(1→2) = sum of doc 2's posting weights on the query's terms
    posts = {
        (r.doc_id, r.term): r.bm25
        for r in bm25_postings(df).collect()
        if r.term in ("zebra", "common")
    }
    expect_2 = round(posts[(2, "zebra")] + posts[(2, "common")], 6)
    assert abs(got[2] - expect_2) < 1e-9
    # doc 2 matches both query terms, doc 3 only 'filler'∉query terms → absent
    assert set(got) == {2}


def test_bm25_index_search_equals_inflight_and_reads_bucketed(spark, tmp_path):
    """The at-rest postings index returns exactly what the in-flight
    bm25_retrieve would (weights ARE the build-time postings), the
    postings scan honors the bucket layout, and a params mismatch or a
    missing sidecar raises instead of silently mis-scoring."""
    import pytest

    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.text import (
        bm25_index_build,
        bm25_index_search,
        bm25_retrieve,
    )

    rows = [
        (1, "zebra common words here"),
        (2, "zebra common filler words"),
        (3, "filler other other words"),
        (4, "other unrelated tokens entirely"),
        (5, "zebra zebra common here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = docs.filter("doc_id <= 2")

    store = TableStore(spark, str(tmp_path))
    bm25_index_build(store, docs, "bm25_idx_t", n_buckets=4)
    got = bm25_index_search(
        store, queries, "bm25_idx_t", k=10, broadcast_queries=False
    )
    want = {
        (r.query_id, r.candidate_id): (r.bm25_score, r.rank)
        for r in bm25_retrieve(docs, queries, k=10).collect()
    }
    got_rows = {
        (r.query_id, r.candidate_id): (r.bm25_score, r.rank) for r in got.collect()
    }
    assert got_rows == want and len(want) > 0
    # plan: the postings scan must honor the bucketed layout (the large-
    # query shuffle-join regime is where the bucketing pays)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, f"index side must scan bucketed:\n{plan[:1500]}"
    # stored weights were scored under the build's (k1, b)
    with pytest.raises(ValueError, match="build params"):
        bm25_index_search(store, queries, "bm25_idx_t", k1=2.0)
    with pytest.raises(ValueError, match="sidecar"):
        bm25_index_search(store, queries, "no_such_index")


def test_rrf_fuse_combines_and_handles_single_arm(spark):
    from aave_etl_spark.operators.similarity import rrf_fuse

    dense = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, candidate_id long, rank long"
    )
    sparse = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, candidate_id long, rank long"
    )
    out = {r.candidate_id: r for r in rrf_fuse(dense, sparse, k=5).collect()}
    # candidate 11 is in both arms → 1/62 + 1/61; 10/12 single-arm
    assert abs(out[11].rrf_score - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(out[10].rrf_score - round(1 / 61, 6)) < 1e-9
    assert abs(out[12].rrf_score - round(1 / 62, 6)) < 1e-9
    # two-arm candidate outranks either single-arm one
    assert out[11].rank == 1


# ---------------------------------------------------------------------------
# greedy sequence packing.
# ---------------------------------------------------------------------------
def test_greedy_pack_first_fit_semantics(spark):
    from aave_etl_spark.operators.packing import greedy_pack

    df = spark.createDataFrame(
        [
            ("en", 1, 100), ("en", 2, 100), ("en", 3, 100),  # 1+2 fit, 3 spills
            ("en", 4, 500),                                   # oversize: own pack
            ("en", 5, 10),
            ("fr", 6, 256),                                   # exactly full
            ("fr", 7, 1),
        ],
        "lang string, doc_id long, n_tokens long",
    )
    rows = {r.doc_id: r for r in greedy_pack(df, capacity=256).collect()}
    assert (rows[1].pack_id, rows[1].pack_offset) == (0, 0)
    assert (rows[2].pack_id, rows[2].pack_offset) == (0, 100)
    assert (rows[3].pack_id, rows[3].pack_offset) == (1, 0)
    assert (rows[4].pack_id, rows[4].pack_offset) == (2, 0)  # oversize packs alone
    assert (rows[5].pack_id, rows[5].pack_offset) == (3, 0)  # nothing joins an overfull pack
    assert (rows[6].pack_id, rows[6].pack_offset) == (0, 0)
    assert (rows[7].pack_id, rows[7].pack_offset) == (1, 0)  # 256+1 > 256 spills


def test_greedy_pack_never_overflows_capacity(spark):
    from aave_etl_spark.operators.packing import greedy_pack

    df = spark.createDataFrame(
        [("g", i, 1 + (i * 37) % 90) for i in range(200)],
        "lang string, doc_id long, n_tokens long",
    )
    out = greedy_pack(df, capacity=128).collect()
    by_pack = {}
    for r in out:
        by_pack.setdefault(r.pack_id, []).append(r)
    for rs in by_pack.values():
        total = sum(r.n_tokens for r in rs)
        assert total <= 128 or len(rs) == 1  # only an oversize singleton may exceed
        # offsets are the exclusive running sum in id order
        rs = sorted(rs, key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.pack_offset == cum
            cum += r.n_tokens


# ---------------------------------------------------------------------------
# k-means coarse quantizer.
# ---------------------------------------------------------------------------
def _clustered_vectors(spark, n_per=20):
    # three well-separated clusters around axis corners
    base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = [
        (c * n_per + i, [v + ((i * 7 + d) % 5) * 0.1 for d, v in enumerate(base[c])], c)
        for c in base
        for i in range(n_per)
    ]
    return spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "vec_id long, embedding array<double>"
    ), {r[0]: r[2] for r in rows}


def test_kmeans_recovers_separated_clusters(spark):
    from aave_etl_spark.operators.similarity import kmeans_fit

    df, truth = _clustered_vectors(spark)
    cent = kmeans_fit(df, k=3, n_iter=5)
    rows = cent.collect()
    assert len(rows) == 3
    # each trained centroid should sit near one distinct cluster corner
    corners = {0: 0, 1: 1, 2: 2}  # dominant dim -> cluster
    dominant = sorted(max(range(3), key=lambda d: r.centroid[d]) for r in rows)
    assert dominant == [0, 1, 2]
    for r in rows:
        d = max(range(3), key=lambda i: r.centroid[i])
        assert 9.5 <= r.centroid[d] <= 10.7  # near the corner's 10 + jitter mean


def test_ivf_topk_with_trained_centroids_full_recall_on_clusters(spark):
    from aave_etl_spark.operators.similarity import cosine_topk, ivf_topk, kmeans_fit

    df, _ = _clustered_vectors(spark)
    cent = kmeans_fit(df, k=3, n_iter=4)
    queries = df.filter(F.col("vec_id").isin([0, 25, 45]))
    exact = cosine_topk(df, queries, k=3)
    approx = ivf_topk(df, queries, k=3, n_probe=1, centroids=cent)
    ex = {(r.query_id, r.candidate_id) for r in exact.collect()}
    ap = {(r.query_id, r.candidate_id) for r in approx.collect()}
    # clusters are separated: probing 1 trained cell must reach full recall
    assert ap == ex


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    from aave_etl_spark.operators.similarity import kmeans_fit

    # k=3 but only 2 distinct points: one init centroid never wins a vector
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.01]), (2, [9.0, 9.0]), (3, [9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    cent = kmeans_fit(df, k=3, n_iter=3)
    assert cent.count() == 3  # no cell vanished


# ---------------------------------------------------------------------------
# cross-split decontamination.
# ---------------------------------------------------------------------------
def test_cross_split_contamination_counts(spark):
    from aave_etl_spark.operators.dedup import cross_split_contamination, word_shingles

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # train
            (2, "alpha beta gamma epsilon"),      # test: shares 'alpha beta gamma'
            (3, "zeta eta theta iota"),           # test: no overlap
        ],
        "doc_id long, text string",
    )
    membership = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "test")], "doc_id long, split string"
    )
    sh = word_shingles(docs, n=3)
    rows = {r.doc_id: r for r in cross_split_contamination(sh, membership).collect()}
    assert set(rows) == {2, 3}  # train docs don't get rows
    assert rows[2].n_shingles == 2 and rows[2].n_overlap == 1
    assert rows[2].contamination_ratio == 0.5
    assert rows[3].n_overlap == 0 and rows[3].contamination_ratio == 0.0


def test_cross_split_contamination_hot_shingle_no_fanout(spark):
    from aave_etl_spark.operators.dedup import cross_split_contamination, word_shingles

    # one boilerplate shingle in EVERY train doc: the semi-join must still
    # produce one row per (test doc, shingle), never train-doc fan-out
    docs = [(i, "common boiler plate") for i in range(50)] + [(99, "common boiler plate")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    membership = spark.createDataFrame(
        [(i, "train") for i in range(50)] + [(99, "test")], "doc_id long, split string"
    )
    out = cross_split_contamination(word_shingles(df, n=3), membership).collect()
    assert len(out) == 1
    assert out[0].n_shingles == 1 and out[0].n_overlap == 1


def test_mix_corpus_rates_and_nesting(spark):
    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(1000)],
        "doc_id long, lang string",
    )
    w_lo = spark.createDataFrame([("a", 0.2), ("b", 0.8)], "lang string, keep_frac double")
    w_hi = spark.createDataFrame([("a", 0.5), ("b", 0.8)], "lang string, keep_frac double")
    lo = {r.doc_id for r in mix_corpus(df, w_lo).collect()}
    hi = {r.doc_id for r in mix_corpus(df, w_hi).collect()}
    assert lo <= hi  # raising one group's rate only ADDS documents
    n_a = sum(1 for d in lo if d % 2 == 0)
    n_b = sum(1 for d in lo if d % 2 == 1)
    assert 60 <= n_a <= 140 and 330 <= n_b <= 470  # ~rate * 500 each
    # unknown group with default 0.0 vanishes
    extra = spark.createDataFrame([(5000, "zz")], "doc_id long, lang string")
    assert mix_corpus(df.union(extra), w_lo).filter("lang = 'zz'").count() == 0


def test_mix_corpus_null_group_rows_are_first_class(spark):
    """The eqNullSafe group-join discipline: a NULL group in the weights
    table matches NULL-group corpus rows (the un-identified-language
    slice a mixing policy most needs to rate); NULL-group rows with no
    NULL weights row fall to default_frac like any other unlisted
    group."""
    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(i, None if i < 50 else "en") for i in range(100)],
        "doc_id long, lang string",
    )
    # no NULL row in weights: NULL-lang docs take default_frac
    w = spark.createDataFrame([("en", 1.0)], "lang string, keep_frac double")
    assert mix_corpus(df, w).filter("lang IS NULL").count() == 0
    assert (
        mix_corpus(df, w, default_frac=1.0).filter("lang IS NULL").count() == 50
    )
    # an explicit NULL-group rate applies to exactly the NULL slice
    wn = spark.createDataFrame(
        [("en", 0.0), (None, 1.0)], "lang string, keep_frac double"
    )
    got = mix_corpus(df, wn)
    assert got.filter("lang IS NULL").count() == 50
    assert got.filter("lang = 'en'").count() == 0


def test_line_dedup_global_null_and_empty_text_docs_keep_their_rows(spark):
    """NULL-text and whitespace-only docs must come back as ('', 0, 0)
    rows (the id spine), and their presence must not disturb the
    cross-doc first-occurrence pick."""
    from aave_etl_spark.operators.dedup import line_dedup_global

    boiler = "subscribe to our newsletter for all the updates"
    docs = spark.createDataFrame(
        [
            (1, f"unique opening line for document\n{boiler}"),
            (2, f"{boiler}\nanother unique body line here"),
            (3, None),
            (4, "   \n  "),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup_global(docs).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert (got[3].clean_text, got[3].n_lines, got[3].n_kept) == ("", 0, 0)
    assert (got[4].clean_text, got[4].n_lines, got[4].n_kept) == ("", 0, 0)
    # the boilerplate survives only in its first occurrence (doc 1)
    assert boiler in got[1].clean_text and boiler not in got[2].clean_text


def test_simhash_near_dup_exact_recall_within_radius(spark):
    from aave_etl_spark.operators.dedup import simhash, simhash_near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and once"),  # near-dup
            (3, "completely different content about spark physical query plans"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dup_pairs(docs).collect()}
    # ground truth: brute-force hamming over the signatures
    for x, y in [(1, 2), (1, 3), (2, 3)]:
        h = bin(sigs[x] ^ sigs[y]).count("1")
        if h <= 3:
            assert out[(x, y)] == h  # banding must not miss it (pigeonhole)
        else:
            assert (x, y) not in out
    assert (1, 2) in out  # the planted near-dup is found

    with pytest.raises(ValueError, match="exact recall"):
        simhash_near_dup_pairs(docs, bands=4, max_hamming=4)


def test_mean_pool_repartition_invariant_bitwise(spark):
    from aave_etl_spark.operators.similarity import mean_pool_embeddings

    df = spark.createDataFrame(
        [(i, "g", [0.1 * i, 1.0 / (i + 1), float(i % 7)]) for i in range(200)],
        "vec_id long, grp string, embedding array<double>",
    )
    a = mean_pool_embeddings(df, ["grp"]).collect()[0]
    b = mean_pool_embeddings(df.repartition(17), ["grp"]).collect()[0]
    # BITWISE equality: the sorted fold makes float pooling layout-invariant
    assert a.mean_embedding == b.mean_embedding
    assert a.n_vecs == 200


def test_top_fraction_by_group_exact(spark):
    from aave_etl_spark.operators.sampling import top_fraction_by_group

    rows = [(i, "a", float(i)) for i in range(10)] + [(i, "b", float(i % 3)) for i in range(10, 15)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    out = top_fraction_by_group(df, ["lang"], "score", 0.3)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 15  # every row returned with a verdict
    # group a: 10 rows, ceil(10*0.3)=3 -> scores 9,8,7 kept
    assert {i for i in range(10) if got[i].kept} == {7, 8, 9}
    # group b: 5 rows, ceil(5*0.3)=2; scores (i%3) = 1,2,0,1,2 -> top by
    # (score desc, id): 11 (2.0) then 14 (2.0)
    assert {i for i in range(10, 15) if got[i].kept} == {11, 14}
    with pytest.raises(ValueError):
        top_fraction_by_group(df, ["lang"], "score", 0.0)


def test_top_fraction_approximate_matches_exact_on_distinct_scores(spark):
    from aave_etl_spark.operators.sampling import top_fraction_by_group

    # distinct uniform scores: the percentile threshold cut agrees with the
    # exact rank cut to within one boundary row per group
    rows = [(i, "g" + str(i % 2), float((i * 37) % 101)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    exact = {
        (r.lang, r.doc_id) for r in top_fraction_by_group(df, ["lang"], "score", 0.5).collect() if r.kept
    }
    approx = {
        (r.lang, r.doc_id)
        for r in top_fraction_by_group(df, ["lang"], "score", 0.5, approximate=True).collect()
        if r.kept
    }
    sym = exact ^ approx
    assert len(sym) <= 2  # at most one boundary row per group


def test_vocab_coverage_hand_case(spark):
    from aave_etl_spark.operators import text as text_ops

    # lang x: tokens a a a b -> n_tokens=4, vocab=2, top1=3/4; k90: a covers
    # .75 < .9, a+b covers 1.0 -> k_cov=2
    df = spark.createDataFrame(
        [(0, "a a a b", "x"), (1, "c c c c c c c c c d", "y")],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: r for r in text_ops.vocab_coverage(df).collect()}
    assert got["x"].n_tokens == 4 and got["x"].vocab_size == 2 and got["x"].k_cov == 2
    assert got["x"].top1_share == 0.75
    # lang y: c covers 9/10 >= .9 -> k_cov=1
    assert got["y"].k_cov == 1 and got["y"].top1_share == 0.9


def test_unigram_logprob_hand_case(spark):
    import math

    from aave_etl_spark.operators import text as text_ops

    # corpus: 'a a b' + 'b' -> freq a=2, b=2, total=4; every token nll=ln(2)
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "b")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in text_ops.unigram_logprob(df).collect()}
    assert got[0].n_tokens == 3 and got[1].n_tokens == 1
    assert got[0].avg_neg_logprob == pytest.approx(math.log(2), abs=1e-6)
    assert got[1].avg_neg_logprob == pytest.approx(math.log(2), abs=1e-6)


def test_stupid_backoff_hand_case(spark):
    """Stupid-backoff bigram LM (Brants et al. 2007) scored against a
    SEPARATELY-trained count state: all three branches — seen bigram,
    unseen bigram over an in-vocab token, unseen bigram over an OOV
    token — plus the first-token unigram path, hand-computed."""
    import math

    from aave_etl_spark.operators import text as text_ops

    train = spark.createDataFrame(
        [(0, "a b a c"), (4, "a b b")], "doc_id long, text string"
    )
    counts = text_ops.ngram_counts(train)
    got_counts = {
        (r.w1, r.w2): r.tf for r in counts.collect()
    }
    # uni: a=3, b=3, c=1 (N=7); bi: (a,b)=2, (b,a)=1, (a,c)=1, (b,b)=1
    assert got_counts == {
        ("a", None): 3, ("b", None): 3, ("c", None): 1,
        ("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1, ("b", "b"): 1,
    }
    score_docs = spark.createDataFrame([(1, "a b z c")], "doc_id long, text string")
    got = text_ops.stupid_backoff_score(score_docs, counts).collect()
    assert len(got) == 1 and got[0].n_tokens == 4
    # 'a' first-token: 3/7; 'b'|a seen bigram: 2/3; 'z'|b unseen bigram,
    # z OOV: 0.4 * 0.4/7; 'c'|z unseen bigram, c in-vocab: 0.4 * 1/7
    ss = [3 / 7, 2 / 3, 0.4 * (0.4 / 7), 0.4 * (1 / 7)]
    expected = round(sum(-math.log(s) for s in ss) / 4, 6)
    assert got[0].avg_neg_logprob == pytest.approx(expected, abs=1e-6)


def test_lm_and_bpe_plans_window_free(spark):
    """Scale pins for the round-13 text operators: the LM scoring path
    and the BPE segmentation derive (prev, cur) / pair streams by index
    arithmetic INSIDE the token array — no per-doc Window operator may
    appear in either plan (a hot doc would funnel into one window
    task), and no shuffle exists beyond the count/score groupBys."""
    from aave_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(0, "a b c a b"), (1, "b c d")], "doc_id long, text string"
    )
    counts = text_ops.ngram_counts(df)
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    scored = text_ops.stupid_backoff_score(df, counts)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    seg = text_ops.bpe_segment(df, text_ops.bpe_learn(df, n_merges=2))
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "CartesianProduct" not in plan, plan


def test_bpe_learn_and_segment_match_reference(spark):
    """BPE merge learning (Sennrich et al. 2016) against an in-test
    reference with the SAME replace-rewrite semantics: the classic
    low/lower/newest/widest corpus, 4 merges, then segmentation of the
    vocabulary under the learned table in rank order."""
    from aave_etl_spark.operators import text as text_ops

    SEP = "\x01"
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}

    def ref_learn(word_freqs, k):
        vocab = {SEP + SEP.join(w) + SEP: f for w, f in word_freqs.items()}
        merges = []
        for rank in range(1, k + 1):
            pc = {}
            for s, f in vocab.items():
                syms = [x for x in s.split(SEP) if x]
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] = pc.get((a, b), 0) + f
            if not pc:
                break
            (l, r), c = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, l, r, l + r, c))
            vocab = {
                s.replace(SEP + l + SEP + r + SEP, SEP + l + r + SEP): f
                for s, f in vocab.items()
            }
        return merges, vocab

    expected, ref_vocab = ref_learn(freqs, 4)
    text = " ".join(w for w, f in sorted(freqs.items()) for _ in range(f))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_count)
        for r in text_ops.bpe_learn(df, n_merges=4).orderBy("rank").collect()
    ]
    assert got == expected
    # segmentation: every vocab word's final symbol sequence matches the
    # reference's rewritten representation under the same merge order
    seg = {
        r.word: (list(r.symbols), r.freq, r.n_symbols)
        for r in text_ops.bpe_segment(
            df, text_ops.bpe_learn(df, n_merges=4)
        ).collect()
    }
    ref_seg = {
        "".join(x for x in s.split(SEP) if x): [x for x in s.split(SEP) if x]
        for s in ref_vocab
    }
    assert set(seg) == set(freqs)
    for w, f in freqs.items():
        assert seg[w] == (ref_seg[w], f, len(ref_seg[w])), w


def test_ivf_index_roundtrip_matches_in_flight(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    store = TableStore(spark, str(tmp_path))
    similarity.ivf_index_build(store, emb, n_cells=16)
    queries = emb.filter(F.col("vec_id") < 8)
    at_rest = similarity.ivf_index_search(store, queries, k=3, n_probe=4).collect()
    in_flight = similarity.ivf_topk(emb, queries, k=3, n_cells=16, n_probe=4).collect()
    assert sorted(map(tuple, at_rest)) == sorted(map(tuple, in_flight))


def test_global_desc_rank_equals_naive_window(spark):
    """The distributed exact rank (range-partitioned local ranks +
    broadcast offsets) must equal the partition-less row_number window
    exactly — including tied keys broken by id — and must assign every
    rank 1..N exactly once."""
    from pyspark.sql import Window

    from aave_etl_spark.operators.sampling import global_desc_rank

    # keys with heavy ties (mod 7) so the id tiebreak matters, ids shuffled
    df = spark.range(0, 500).select(
        ((F.col("id") * 37) % 501).alias("doc_id"),
        ((F.col("id") % 7).cast("double") / 10.0).alias("key"),
    )
    w = Window.orderBy(F.col("key").desc(), F.col("doc_id"))
    naive = {
        r.doc_id: r.rk
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {
        r.doc_id: r._rk
        for r in global_desc_rank(df, "key", "doc_id").collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(1, 501))


def test_span_dedup_rewrite_semantics(spark):
    """The removal half of span dedup: every duplicated 8-token window is
    cut at its non-canonical (doc, offset) occurrences — cross-doc copies
    keep only the lexicographically-first doc's span, an intra-doc repeat
    keeps its first offset, short docs pass through, and an entirely-
    duplicated doc rewrites to ''."""
    from aave_etl_spark.operators.dedup import span_dedup_rewrite

    span = "alpha beta gamma delta epsilon zeta eta theta"
    intra = "one1 two2 three3 four4 five5 six6 seven7 eight8"
    rows = [
        (1, f"intro one two {span} tail words here"),   # canonical holder
        (2, f"other stuff {span} closing"),             # cross-doc copy
        (3, f"{intra} {intra}"),                        # intra-doc repeat
        (4, "too short text"),                          # < n tokens
        (5, span),                                      # fully duplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_deduped)
        for r in span_dedup_rewrite(df, n=8).collect()
    }
    assert got[1] == (14, 0, f"intro one two {span} tail words here")
    assert got[2] == (11, 8, "other stuff closing")
    assert got[3] == (16, 8, intra)
    assert got[4] == (3, 0, "too short text")
    assert got[5] == (8, 8, "")


def test_span_index_state_cross_batch_rewrite(spark, tmp_path):
    """The span rung's AT-REST state (round 13): day-1 canonical window
    occurrences persist via span_index_build; a later batch rewritten
    with prior_spans cuts EVERY occurrence of a stored hash (the stored
    day-1 keeper wins — including the batch's own first occurrence),
    while batch-internal duplicates keep the first-(doc, offset) rule;
    the append adds only genuinely-new hashes, keeps stored keepers, and
    re-appending the same batch is a row-count no-op."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.dedup import (
        span_dedup_rewrite,
        span_index_append,
        span_index_build,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta"
    d1 = spark.createDataFrame(
        [(1, f"intro one two {span} tail words here")],
        "doc_id long, text string",
    )
    store = TableStore(spark, str(tmp_path / "wh"))
    span_index_build(store, d1, "spans", n=8)
    state = {r._h: (r.doc_id, r.pos) for r in store.read_bucketed("spans").collect()}
    assert len(state) == 7  # 14 tokens -> 7 windows, all distinct
    assert all(doc == 1 for doc, _ in state.values())

    intra = "one1 two2 three3 four4 five5 six6 seven7 eight8"
    d2 = spark.createDataFrame(
        [
            # carries the day-1 span mid-doc: its 1 fully-lifted window is
            # cut even though day 2 has only this single occurrence
            (10, f"fresh unique opening words {span} and a closing run"),
            # batch-internal repeat: first offset survives (no state hash)
            (11, f"{intra} {intra}"),
        ],
        "doc_id long, text string",
    )
    prior = store.read_bucketed("spans")
    got = {
        r.doc_id: (r.n_removed, r.text_deduped)
        for r in span_dedup_rewrite(d2, n=8, prior_spans=prior).collect()
    }
    assert got[10] == (8, "fresh unique opening words and a closing run")
    assert got[11] == (8, intra)

    # fold day 2's REWRITTEN survivors in: only new hashes append, the
    # day-1 keepers stay
    d2r = spark.createDataFrame(
        [(i, txt) for i, (_, txt) in got.items()], "doc_id long, text string"
    )
    span_index_append(store, d2r, "spans", n=8)
    after = {r._h: (r.doc_id, r.pos) for r in store.read_bucketed("spans").collect()}
    assert set(state) <= set(after)
    assert all(after[h] == state[h] for h in state)  # stored keepers win
    n_after = len(after)
    assert n_after > len(state)
    span_index_append(store, d2r, "spans", n=8)  # re-run: no-op
    assert store.read_bucketed("spans").count() == n_after

    # n drift raises instead of silently never matching
    with pytest.raises(ValueError, match="n=8"):
        span_index_append(store, d2r, "spans", n=5)


def test_within_batch_near_dup_drops_equals_all_pairs(spark):
    """The two-phase storm-safe form (probe bucket minima, all-pairs only
    for the unresolved remainder) must return EXACTLY the naive all-pairs
    answer: drop(d) iff some lower-id band-mate verifies at Jaccard >=
    threshold. The corpus covers the shapes that distinguish them —
    paraphrase clusters (resolve in phase 1), a bucket whose MINIMUM id
    is NOT similar to the rest (forces phase 2), chains, uniques, and a
    short no-shingle doc."""
    from aave_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        within_batch_near_dup_drops,
        word_shingles,
    )

    base = (
        "the quick of brown and foxes is a jumper the lazy of dogs and"
        " cats is a sleeper the tiny of mice and birds is a runner"
    )
    other = (
        "the alpha of beta and gamma is a delta the epsilon of zeta and"
        " eta is a theta the iota of kappa and lambda is a sigma"
    )
    rows = [(0, other)]  # low id, dissimilar to the storm below
    # a paraphrase cluster: ids 1..12 share base text + unique trailer
    rows += [(i, f"{base} tail{i} words") for i in range(1, 13)]
    # a second cluster whose lowest member is id 20
    rows += [(20 + j, f"{other} extra{j} appended") for j in range(4)]
    # uniques and a chain (21-similar-to-22 via shared halves is already
    # covered by the cluster); a short doc with no 3-shingles
    rows += [(40, "too short"), (41, "a wholly different standalone text"
              " with its own nouns and verbs entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(df, n=3)

    naive_pairs = lsh_candidate_pairs(minhash_signatures(sh))
    naive = {
        r.id_b
        for r in jaccard_verify(sh, naive_pairs, threshold=0.5)
        .select("id_b")
        .distinct()
        .collect()
    }
    staged = {
        r.doc_id for r in within_batch_near_dup_drops(sh, threshold=0.5).collect()
    }
    assert staged == naive
    # the cluster collapsed to its lowest member on both paths
    assert 1 not in naive and {2, 3, 4}.issubset(naive)


def test_within_batch_cosine_drops_equals_all_pairs(spark):
    """The vector twin: the two-phase SRP form must equal the naive
    bucketed_cosine_pairs drop-id_b rule exactly. Shapes: a rescaled-copy
    cluster (phase 1 resolves), a bucket whose minimum id is NOT a near
    copy of the rest (forces phase 2 — a low-id vector sharing the SRP
    bucket at a sub-threshold angle), and unrelated singletons."""
    from aave_etl_spark.operators.similarity import (
        bucketed_cosine_pairs,
        within_batch_cosine_drops,
    )

    rows = [(0, [1.0, 0.02, 0.0, 0.01])]  # same orthant as the cluster,
    # but well under the 0.999 threshold against every member
    # cluster: positive rescales of one vector — identical SRP signs
    rows += [(i, [x * float(i) for x in [0.9, 0.1, 0.05, 0.2]]) for i in range(1, 9)]
    # singletons in other orthants
    rows += [(20, [-1.0, 0.5, 0.0, 0.3]), (21, [0.0, -1.0, 0.7, -0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    naive = {
        r.id_b
        for r in bucketed_cosine_pairs(df, min_cos=0.999)
        .select("id_b")
        .distinct()
        .collect()
    }
    staged = {
        r.vec_id for r in within_batch_cosine_drops(df, min_cos=0.999).collect()
    }
    assert staged == naive
    # the cluster collapsed to its lowest member; the sub-threshold
    # bucket-mate survived on both paths
    assert 1 not in naive and {2, 3, 4, 5, 6, 7, 8}.issubset(naive)
    assert 0 not in naive


def test_ivf_index_append_validates_meta_sidecar(spark, tmp_path):
    """ivf_index_build writes a <name>_meta sidecar (round_digits,
    carry_cols) and ivf_index_append refuses a mismatched append — a
    different rounding would assign borderline vectors to different
    cells than the certified append==build contract, a different carry
    layout writes a mismatched partition tree (round-11 ADVICE; the
    ivfpq_index_append n_subspaces discipline applied to IVF)."""
    from aave_etl_spark.io.table_store import TableStore

    emb = spark.createDataFrame(
        [
            (i, [float((i * 13) % 7), float((i * 5) % 11), 1.0], "2024-01-01")
            for i in range(32)
        ],
        "vec_id long, embedding array<double>, day string",
    ).withColumn("day", F.to_date("day"))
    store = TableStore(spark, str(tmp_path))
    similarity.ivf_index_build(store, emb, n_cells=8, carry_cols=("day",))
    meta = store.read("ivf_index_meta").first()
    assert meta.round_digits == 6 and meta.carry_cols == "day"

    batch = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0], "2024-01-02")],
        "vec_id long, embedding array<double>, day string",
    ).withColumn("day", F.to_date("day"))
    with pytest.raises(ValueError, match="round_digits"):
        similarity.ivf_index_append(
            store, batch, round_digits=4, carry_cols=("day",)
        )
    with pytest.raises(ValueError, match="carry_cols"):
        similarity.ivf_index_append(store, batch.drop("day"))
    before = store.read("ivf_index").count()
    assert before == 32  # neither mismatched append landed rows
    similarity.ivf_index_append(store, batch, carry_cols=("day",))
    assert store.read("ivf_index").count() == 33


def test_ivf_index_search_scans_only_probed_cells(spark, tmp_path):
    import re as _re

    from aave_etl_spark.io.table_store import TableStore

    emb = spark.createDataFrame(
        [(i, [float((i * 13) % 7), float((i * 5) % 11), 1.0]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    store = TableStore(spark, str(tmp_path))
    similarity.ivf_index_build(store, emb, n_cells=8)
    one_query = emb.filter(F.col("vec_id") == 20)
    out = similarity.ivf_index_search(store, one_query, k=3, n_probe=2)
    p = out._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"cell_id#\d+ IN(?:SET)? \(?([\d, ]+)\)?", p)
    assert m, f"no partition IN/INSET filter in plan:\n{p[:2000]}"
    # exactly the 2 probed cells reach the file listing — 6 of 8 partition
    # directories are never read
    assert len([v for v in m.group(1).split(",") if v.strip()]) == 2
    assert out.count() == 3
    # empty query set: typed empty result, no IN () predicate constructed
    none = similarity.ivf_index_search(
        store, emb.filter(F.col("vec_id") < 0), k=3, n_probe=2
    )
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == [
        "query_id",
        "candidate_id",
        "cos_sim",
        "rank",
    ]


# ---------------------------------------------------------------------------
# round-4 review regressions
# ---------------------------------------------------------------------------
def test_top_fraction_float_ceil_boundary(spark):
    from aave_etl_spark.operators.sampling import top_fraction_by_group

    # 0.07 * 100 = 7.000000000000001 in IEEE; exactly 7 must be kept
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(100)], "doc_id long, lang string, score double"
    )
    kept = [r for r in top_fraction_by_group(df, ["lang"], "score", 0.07).collect() if r.kept]
    assert len(kept) == 7


def test_mix_corpus_no_weight_column_leak(spark):
    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(i, "en", f"t{i}") for i in range(20)], "doc_id long, lang string, text string"
    )
    weights = spark.createDataFrame(
        [("en", 1.0, "stray note")], "lang string, keep_frac double, note string"
    )
    out = mix_corpus(df, weights)
    assert out.columns == df.columns  # no leak, original order preserved
    assert out.count() == 20


def test_mix_corpus_rejects_keep_frac_column_on_input(spark):
    """A caller df already carrying keep_frac would make the operator's
    post-join F.col('keep_frac') ambiguous — the contract error must fire,
    not an opaque AnalysisException (round-10 ADVICE)."""
    import pytest

    from aave_etl_spark.operators.sampling import mix_corpus

    df = spark.createDataFrame(
        [(1, "en", 0.5)], "doc_id long, lang string, keep_frac double"
    )
    weights = spark.createDataFrame([("en", 1.0)], "lang string, keep_frac double")
    with pytest.raises(ValueError, match="keep_frac"):
        mix_corpus(df, weights)


def test_keep_first_by_digest_equals_window_form_and_window_free(spark):
    """Property: the skew-safe groupBy(digest).agg(min(id)) + join-back
    first-occurrence pick (dedup.keep_first_by_digest — what the curation
    and corpus-pipeline exact-dedup stages ship) is row-for-row equal to
    the window form min(id).over(partitionBy(digest)) on a HOSTILE batch:
    one viral document repeated across most of the batch (exact duplicates
    share ONE digest, so duplicate content is the hot window key by
    definition — the round-9 line_dedup_global scale killer, document
    level). Also pins the plan: no Window operator anywhere."""
    from pyspark.sql.window import Window as W

    from aave_etl_spark.operators.dedup import keep_first_by_digest

    import pytest

    viral = "breaking story everyone crawled a million times"
    rows = [(i, "en", viral) for i in range(0, 500, 2)]  # hot digest, min id 0
    rows += [(i, "en", f"unique doc {i} body") for i in range(1, 500, 2)]
    rows += [(900, "fr", "unique doc 1 body")]  # tie content, larger id loses
    # NULL text -> NULL digest: one group like any other (the window form
    # kept exactly one NULL-group row; a null-unsafe join would drop both)
    rows += [(950, "en", None), (951, "en", None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    digest = F.md5("text")
    out = keep_first_by_digest(df, digest)
    twin = (
        df.withColumn("_k0", F.min("doc_id").over(W.partitionBy(digest)))
        .filter(F.col("doc_id") == F.col("_k0"))
        .select(*df.columns)
    )
    got = sorted(out.collect(), key=lambda r: r.doc_id)
    assert got == sorted(twin.collect(), key=lambda r: r.doc_id)
    assert out.columns == df.columns
    ids = {r.doc_id for r in got}
    assert 0 in ids and 900 not in ids and 1 in ids
    assert 950 in ids and 951 not in ids  # NULL digest: min id survives
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # internal alias collision fails loudly (the mix_corpus discipline)
    with pytest.raises(ValueError, match="_dg"):
        keep_first_by_digest(df.withColumn("_dg", F.lit(1)), digest)


def test_uniform_frame_sample_fractional_duration(spark):
    from aave_etl_spark.operators import multimodal

    media = spark.createDataFrame(
        [(0, 0.9, 30.0)], "media_id long, duration_s double, fps double"
    )
    rows = sorted(
        multimodal.uniform_frame_sample(media, m=4).collect(), key=lambda r: r.sample_pos
    )
    # 0.9 s @ 30 fps = 27 frames -> indices span [0, 26], not all-zero
    assert [r.frame_idx for r in rows] == [0, 8, 17, 26]


def test_blocked_cosine_pairs_string_ids(spark):
    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.01]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    out = similarity.blocked_cosine_pairs(emb, threshold=0.9, n_blocks=2).collect()
    assert {(r.id_a, r.id_b) for r in out} == {("a", "b")}


def test_ivf_index_rebuild_drops_stale_cells(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    emb = spark.createDataFrame(
        [(i, [float((i * 13) % 7), float((i * 5) % 11), 1.0]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    store = TableStore(spark, str(tmp_path))
    similarity.ivf_index_build(store, emb, n_cells=8)
    n_v1 = store.read("ivf_index").count()
    assert n_v1 == 64
    # corpus shrinks to the first 8 vectors (the centroids themselves):
    # rebuild must leave EXACTLY 8 rows — no stale partition directories
    similarity.ivf_index_build(store, emb.filter(F.col("vec_id") < 8), n_cells=8)
    assert store.read("ivf_index").count() == 8


def test_ivf_index_search_missing_index_raises(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not found in store"):
        similarity.ivf_index_search(store, q)


def test_tokens_lowercase_shared_tokenization(spark):
    from aave_etl_spark.operators import text as text_ops

    df = spark.createDataFrame([(0, "The THE the")], "doc_id long, text string")
    row = text_ops.token_stats(df).collect()[0]
    # one vocabulary entry: every text operator shares the lowercase view
    assert row.n_tokens == 3 and row.n_distinct_tokens == 1


def test_compact_sort_cols_keeps_disjoint_ranges(spark, tmp_path):
    import pyarrow.parquet as pq

    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = (
        spark.range(0, 10_000)
        .withColumn("k", F.pmod(F.hash("id"), F.lit(1_000_000)))
        .repartition(8)
    )
    store.write(df, "ct", cluster_by=["k"], cluster_files=4)
    store.compact("ct", target_file_bytes=40_000, sort_cols=["k"])
    files = [str(p) for p in (tmp_path / "ct").rglob("*.parquet")]
    assert len(files) > 1
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        kidx = md.schema.to_arrow_schema().get_field_index("k")
        stats = [md.row_group(rg).column(kidx).statistics for rg in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    assert store.read("ct").count() == 10_000


def test_semantic_dedup_cell_cap_bounds_pairs(spark):
    """Planted hot cell: 240 near-identical vectors all land in one cell.
    cell_cap=40 splits it into ceil(240/40)=6 md5 sub-buckets, so the pair
    join does ~sum(part^2)/2 work instead of 240^2/2, while cells under the
    cap stay bit-identical to the uncapped result."""
    import hashlib

    hot = [(i, [1.0, 0.001 * (i % 7)]) for i in range(240)]
    cold = [(1000 + i, [0.0, 1.0 + 0.001 * i]) for i in range(5)]
    emb = spark.createDataFrame(hot + cold, "vec_id long, embedding array<double>")
    # centroids = first 2 vectors: both ~+x! use explicit centroids so the
    # hot mass lands in cell 0 and the cold rows in cell 1
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell_id long, centroid array<double>"
    )
    out = similarity.semantic_dedup(
        emb, eps=0.99, n_cells=2, centroids=cent, cell_cap=40
    ).collect()
    assert len(out) == 245
    by_id = {r.vec_id: r for r in out}
    # hot cell: one keeper PER SUB-BUCKET (6 parts) — bounded approximation,
    # not one global keeper; each keeper is its bucket's smallest id
    hot_rows = [r for r in out if r.cell_id == 0]
    assert len(hot_rows) == 240 and hot_rows[0].n_cell == 240

    def sub(i: int, parts: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % parts

    keepers = {r.vec_id for r in hot_rows if r.kept}
    expected_keepers = {
        min(i for i in range(240) if sub(i, 6) == p)
        for p in {sub(i, 6) for i in range(240)}
    }
    assert keepers == expected_keepers
    assert len(keepers) <= 6
    # cold cell (size 5 < cap): untouched single-bucket behavior
    cold_rows = [r for r in out if r.cell_id == 1]
    assert len(cold_rows) == 5
    assert sum(1 for r in cold_rows if r.kept) == 1
    assert by_id[1000].kept  # smallest id keeps


def test_semantic_dedup_cap_off_matches_capped_when_under(spark):
    """A corpus whose every cell is under the cap produces bit-identical
    results with any cap value (the sub split degenerates to 1 part)."""
    emb = spark.createDataFrame(
        [(i, [float(i % 3) + 0.1, float((i * 7) % 5)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    a = sorted(
        similarity.semantic_dedup(emb, eps=0.95, n_cells=4, cell_cap=4096).collect()
    )
    b = sorted(
        similarity.semantic_dedup(emb, eps=0.95, n_cells=4, cell_cap=40).collect()
    )
    assert a == b


def test_ivf_index_completion_marker_protocol(spark, tmp_path):
    """ivf_index_build clears the completion marker first and writes it
    last, so an interrupted REBUILD (both tables exist, one stale) is
    detectable — the exists()-only gate cannot catch that state."""
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    similarity.ivf_index_build(store, emb, n_cells=4)
    assert store.is_complete("ivf_index")
    assert store.exists("ivf_index") and store.exists("ivf_index_centroids")
    # simulate an interrupted rebuild: marker cleared, centroids rewritten,
    # assignments still from the previous run — both tables exist, but the
    # dataset must NOT present as complete
    store.clear_complete("ivf_index")
    assert not store.is_complete("ivf_index")
    # a fresh build restores the marker atomically
    similarity.ivf_index_build(store, emb, n_cells=4)
    assert store.is_complete("ivf_index")


def test_dsir_importance_resample_prefers_target_like(spark):
    """DSIR: docs sharing the target side's n-gram distribution score
    higher; kept = ceil(keep_frac * N) docs; deterministic across
    partitionings (md5 features + md5 Gumbel)."""
    from aave_etl_spark.operators import sampling

    tgt_text = "the quick brown fox jumps over the lazy dog"
    off_text = "zzz qqq vvv kkk www yyy xxx uuu ttt"
    rows = (
        [(i, tgt_text, "en") for i in range(4)]
        + [(10 + i, tgt_text + " extra words here", "fr") for i in range(3)]  # target-like raw
        + [(20 + i, off_text, "fr") for i in range(5)]                        # off-target raw
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = sampling.dsir_importance_resample(
        docs, target_pred="lang = 'en'", m=64, keep_frac=0.5
    ).collect()
    assert len(out) == 12
    by_id = {r.doc_id: r for r in out}
    # every target-like raw doc outweighs every off-target raw doc
    tgt_like = [by_id[10 + i].weight for i in range(3)]
    off = [by_id[20 + i].weight for i in range(5)]
    assert min(tgt_like) > max(off)
    assert sum(1 for r in out if r.kept) == 6  # ceil(0.5 * 12)
    # repartition invariance
    out2 = sampling.dsir_importance_resample(
        docs.repartition(7), target_pred="lang = 'en'", m=64, keep_frac=0.5
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_dsir_approximate_matches_exact_and_has_no_window(spark):
    """The 100 TB form: percentile_approx broadcast threshold instead of
    the global rank window. Property-tested against the exact form (same
    schema, kept sets agree to within boundary slop) and plan-asserted
    window-free — the approx path must never funnel the corpus through a
    single-task global sort."""
    from aave_etl_spark.operators import sampling

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = [
        (
            i,
            " ".join(words[(i * 3 + j) % len(words)] for j in range(6)),
            "en" if i % 3 == 0 else "fr",
        )
        for i in range(48)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kw = dict(target_pred="lang = 'en'", m=64, keep_frac=0.25)
    exact = sampling.dsir_importance_resample(docs, **kw)
    approx = sampling.dsir_importance_resample(docs, approximate=True, **kw)
    assert exact.columns == approx.columns
    e_rows = {r.doc_id: r for r in exact.collect()}
    a_rows = {r.doc_id: r for r in approx.collect()}
    assert set(e_rows) == set(a_rows)  # every doc returned with a verdict
    # identical scoring: only the cut differs
    for i in e_rows:
        assert e_rows[i].sample_key == a_rows[i].sample_key
    e_kept = {i for i, r in e_rows.items() if r.kept}
    a_kept = {i for i, r in a_rows.items() if r.kept}
    # the percentile threshold lands on a data value: agree to <= 2
    # boundary rows on a distinct-key corpus
    assert len(e_kept ^ a_kept) <= 2
    # and every approx-kept doc's key >= every approx-dropped doc's key
    if a_kept and (set(a_rows) - a_kept):
        assert min(a_rows[i].sample_key for i in a_kept) >= max(
            a_rows[i].sample_key for i in set(a_rows) - a_kept
        )
    # plan assert: no Window operator anywhere in the approx physical plan
    approx.collect()
    p = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p, f"approx DSIR must be window-free:\n{p[:1500]}"
    # degenerate cuts agree with the exact form at BOTH ends:
    # keep_frac=0 keeps nothing (percentile(key, 1.0) is the max key and
    # `>= max` would keep a row — the short-circuit guards this), and
    # keep_frac=1 keeps everything
    for frac, want in ((0.0, 0), (1.0, len(rows))):
        a0 = sampling.dsir_importance_resample(
            docs, target_pred="lang = 'en'", m=64, keep_frac=frac,
            approximate=True,
        )
        assert a0.filter("kept").count() == want, f"keep_frac={frac}"


def test_margin_topk_suppresses_hubs(spark):
    """Margin scoring: a hub candidate close to EVERY query is discounted
    by its high neighborhood mean; a candidate uniquely close to one query
    out-margins it despite similar raw cosine."""
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta)]

    queries = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(1.2))], "vec_id long, embedding array<double>"
    )
    cands = spark.createDataFrame(
        [
            (100, vec(0.6)),    # hub: moderately close to both queries
            (101, vec(0.05)),   # uniquely close to query 0
            (102, vec(1.15)),   # uniquely close to query 1
            (103, vec(3.0)),    # far from everything
            (0, vec(0.0)), (1, vec(1.2)),  # self rows excluded from own results
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.margin_topk(cands, queries, k=3, knn=2).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, {})[r.candidate_id] = r
    # per-query top-3 present with margin-ranked order
    for qid, cmap in per_q.items():
        ranks = sorted((r.rank, r.candidate_id) for r in cmap.values())
        assert [rk for rk, _ in ranks] == list(range(1, len(ranks) + 1))
    # the unique neighbor out-margins the hub for its query
    assert per_q[0][101].margin > per_q[0][100].margin
    assert per_q[1][102].margin > per_q[1][100].margin
    # margin = cos / mean of the two neighborhood means: spot-check ratio > 1
    assert per_q[0][101].margin > 1.0


def test_c4_line_filter_rules(spark):
    """Each C4 line rule in isolation: terminal punctuation, min words,
    boilerplate markers; the >=3-kept-lines doc gate; empty-clean md5."""
    from aave_etl_spark.operators import text as text_ops

    doc_good = "\n".join(
        ["This line is properly terminated.",
         "Another good sentence here!",
         'A quoted ending counts too."',
         "short.",                          # < 3 words -> dropped
         "no terminal punctuation here",    # no terminal punct -> dropped
         "Enable javascript to continue.",  # boilerplate -> dropped
         "We use cookie banners sadly.",    # boilerplate -> dropped
         "function() { return 1; }",        # brace -> dropped
         "lorem ipsum dolor sit amet."]     # boilerplate -> dropped
    )
    doc_thin = "Only one good line survives here.\nand nothing else"
    docs = spark.createDataFrame(
        [(0, doc_good), (1, doc_thin)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text_ops.c4_line_filter(docs).collect()}
    assert out[0].n_lines == 9 and out[0].n_kept_lines == 3
    assert out[0].doc_kept is True
    assert out[1].n_kept_lines == 1 and out[1].doc_kept is False
    # clean text = exactly the kept lines, newline-joined
    import hashlib

    expect = "\n".join(doc_good.split("\n")[:3])
    assert out[0].clean_md5 == hashlib.md5(expect.encode()).hexdigest()
    assert out[0].clean_chars == len(expect)


def test_margin_topk_broadcast_guard_falls_back(spark):
    """A query frame above max_broadcast_queries must NOT be broadcast —
    the guard drops the hint and the pair scan shuffles instead. Results
    are identical either way (the guard changes the physical plan only)."""
    from aave_etl_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(4)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    queries = vecs.filter("vec_id < 3")
    cands = vecs.filter("vec_id >= 3")
    fast = similarity.margin_topk(cands, queries, k=2, knn=3)
    guarded = similarity.margin_topk(
        cands, queries, k=2, knn=3, max_broadcast_queries=1
    )
    # the guarded plan carries no broadcast hint on the pair scan
    assert "ResolvedHint" not in guarded._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, guarded.collect()))


def test_gopher_quality_rules(spark):
    """Each Gopher rule trips on a purpose-built document and the clean
    doc passes; the duplicate-line pair counts instances beyond the first."""
    from aave_etl_spark.operators import text as text_ops

    clean = "the quick brown fox jumps over the lazy dog and that is fine with everyone of us"
    rows = [
        (1, clean),                                     # passes everything
        (2, "short text"),                              # word-count floor
        (3, "a\n" + clean + "\na\na\nb"),               # dup lines: 'a' x3
        (4, clean + " ### ## #"),                       # symbol ratio
        (5, "- one\n- two\n- three\n" + clean),         # bullet lines
        (6, "zz qq xx " * 4),                           # no stop words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in text_ops.gopher_quality(df, min_words=5, max_words=100).collect()
    }
    assert out[1].gopher_kept
    assert not out[2].gopher_kept  # 2 words < 5
    # doc 3: lines are [a, clean, a, a, b] -> sorted neighbors give two
    # duplicate instances of 'a' (beyond the first) over 5 lines
    assert out[3].dup_line_frac == pytest.approx(2 / 5)
    assert out[3].dup_line_char_frac == pytest.approx(
        2 / (len(clean) + 4), abs=1e-6  # line chars: a, clean, a, a, b
    )
    assert not out[4].gopher_kept and out[4].symbol_word_ratio > 0.1
    assert out[5].bullet_line_frac == pytest.approx(3 / 4)
    assert not out[6].gopher_kept and out[6].n_stop_hits == 0


def test_perplexity_buckets_exact_vs_approximate(spark):
    """CCNet bucketing: exact percent_rank splits each language ~30/30/40;
    the approximate (window-free) form agrees up to boundary slop."""
    from aave_etl_spark.operators import text as text_ops

    words = ["alpha", "beta", "gamma", "delta", "common"]
    rows = [
        (i, " ".join(["common"] * (i % 7) + [words[i % 5]] * 3), "en" if i % 2 else "fr")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = text_ops.perplexity_buckets(df)
    approx = text_ops.perplexity_buckets(df, approximate=True)
    e = {r.doc_id: r for r in exact.collect()}
    a = {r.doc_id: r for r in approx.collect()}
    assert set(e) == set(a) == set(range(60))
    # per-language head fraction ~30% under the exact form
    for lang in ("en", "fr"):
        n = sum(1 for r in e.values() if r.lang == lang)
        heads = sum(1 for r in e.values() if r.lang == lang and r.bucket == "head")
        assert 0.15 <= heads / n <= 0.45
    # ordering invariant in BOTH forms: within a language every head
    # score <= every middle score <= every tail score
    for rows_by in (e, a):
        for lang in ("en", "fr"):
            by_bucket = {"head": [], "middle": [], "tail": []}
            for r in rows_by.values():
                if r.lang == lang:
                    by_bucket[r.bucket].append(r.avg_neg_logprob)
            if by_bucket["head"] and by_bucket["middle"]:
                assert max(by_bucket["head"]) <= min(by_bucket["middle"])
            if by_bucket["middle"] and by_bucket["tail"]:
                assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    # the 100 TB path is window-free
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, f"approx buckets must be window-free:\n{plan[:1200]}"


def test_minhash_index_match_equals_inflight_and_reads_bucketed(spark, tmp_path):
    """The at-rest index match returns exactly the cross-side candidate
    pairs the in-flight LSH would, and the corpus side scan honors the
    bucket layout (no exchange on the indexed side)."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import dedup as dd

    base = "w x y z " * 6
    rows = (
        [(i, base + f"tail{i}") for i in range(0, 8, 2)]       # corpus: even
        + [(i, base + f"tail{i - 1}") for i in range(1, 8, 2)]  # near-dups of i-1
        + [(9, "completely different words entirely here now ok yes")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")

    store = TableStore(spark, str(tmp_path))
    dd.minhash_index_build(store, corpus, "mh_idx_t", n_buckets=4)
    got = dd.minhash_index_match(store, new, "mh_idx_t")
    got_pairs = {(r.new_id, r.corpus_id) for r in got.collect()}

    # ground truth: in-flight banding over the union, restricted cross-side
    sigs = dd.minhash_signatures(dd.word_shingles(docs))
    allb = dd.band_keys(sigs)
    nb = allb.filter("doc_id % 2 = 1").selectExpr("doc_id AS new_id", "band", "band_key")
    cb = allb.filter("doc_id % 2 = 0").selectExpr("doc_id AS corpus_id", "band", "band_key")
    want = {
        (r.new_id, r.corpus_id)
        for r in nb.join(cb, ["band", "band_key"]).select("new_id", "corpus_id")
        .distinct().collect()
    }
    assert got_pairs == want
    assert all(n % 2 == 1 and c % 2 == 0 for n, c in got_pairs)
    assert (9, 8) not in got_pairs  # the unrelated doc matches nothing
    # every near-dup found its source
    assert {(i, i - 1) for i in range(1, 8, 2)} <= got_pairs
    # plan: the corpus scan must honor the bucketed layout
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, f"index side must scan bucketed:\n{plan[:1500]}"
    # the build persisted its banding params; a mismatched match RAISES
    # instead of silently returning empty/wrong candidates
    import pytest

    for bad in (dict(shingle_n=5), dict(num_hashes=16), dict(rows_per_band=4)):
        with pytest.raises(ValueError, match="build params"):
            dd.minhash_index_match(store, new, "mh_idx_t", **bad)


def test_minhash_index_append_loop_matches_from_scratch_build(spark, tmp_path):
    """The build-once/append-forever contract: build on batch A, match
    batch B and APPEND its bands partition-incrementally, then batch C
    must match against A∪B exactly as it would against a from-scratch
    A∪B build — and the appended index still scans bucketed."""
    import pytest

    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import dedup as dd

    # each distinct doc uses its own disjoint vocabulary so only intended
    # dup pairs can share shingles
    text = lambda w: f"{w}1 {w}2 {w}3 {w}4 {w}5 {w}6 {w}7 {w}8"  # noqa: E731
    batch_a = spark.createDataFrame(
        [(i, text(f"alpha{i}")) for i in range(0, 6)], "doc_id long, text string"
    )
    # B: 10/11 duplicate docs 0/1, 12 fresh
    batch_b = spark.createDataFrame(
        [(10, text("alpha0")), (11, text("alpha1")), (12, text("bravo"))],
        "doc_id long, text string",
    )
    # C: 20 dups doc 2 (from A), 21 dups doc 12 (from B), 22 fresh
    batch_c = spark.createDataFrame(
        [(20, text("alpha2")), (21, text("bravo")), (22, text("charlie"))],
        "doc_id long, text string",
    )

    store = TableStore(spark, str(tmp_path / "inc"))
    dd.minhash_index_build(store, batch_a, "mh_idx_inc", n_buckets=4)
    b_pairs = {
        (r.new_id, r.corpus_id)
        for r in dd.minhash_index_match(store, batch_b, "mh_idx_inc").collect()
    }
    assert {(10, 0), (11, 1)} <= b_pairs and not any(n == 12 for n, _ in b_pairs)
    # append B (all of it — verification keeps everything here) and match C
    dd.minhash_index_append(store, batch_b, "mh_idx_inc")
    got = dd.minhash_index_match(store, batch_c, "mh_idx_inc")
    c_pairs = {(r.new_id, r.corpus_id) for r in got.collect()}
    # from-scratch oracle: one build over A∪B
    scratch = TableStore(spark, str(tmp_path / "scr"))
    dd.minhash_index_build(
        scratch, batch_a.unionByName(batch_b), "mh_idx_scr", n_buckets=4
    )
    want = {
        (r.new_id, r.corpus_id)
        for r in dd.minhash_index_match(scratch, batch_c, "mh_idx_scr").collect()
    }
    assert c_pairs == want
    assert {(20, 2), (21, 12)} <= c_pairs  # hits in BOTH the base and appended halves
    assert not any(n == 22 for n, _ in c_pairs)  # fresh doc matches nothing
    # co-location survives the append: the corpus side still scans bucketed
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # an append with drifted banding params refuses (sidecar validation)
    with pytest.raises(ValueError, match="build params"):
        dd.minhash_index_append(store, batch_c, "mh_idx_inc", shingle_n=5)
    # an append into a never-built index refuses
    with pytest.raises(ValueError, match="sidecar"):
        dd.minhash_index_append(store, batch_c, "mh_idx_missing")


def test_minhash_index_if_absent_scoped_append(spark, tmp_path):
    """The idempotent append contract with a carry column: re-appending a
    slice is a no-op (row count fixed), the slice predicate reaches the
    index scan as a pushed-down filter (each append's files hold one
    constant carry value, so parquet stats skip other slices' files), and
    a DIFFERENT slice with the same content still appends (the scope
    means same-slice stale rows, not global content dedup)."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import dedup as dd

    text = lambda w: f"{w}1 {w}2 {w}3 {w}4 {w}5 {w}6 {w}7 {w}8"  # noqa: E731

    def batch(ids, day):
        return spark.createDataFrame(
            [(i, text(f"word{i}"), day) for i in ids],
            "doc_id long, text string, day string",
        ).withColumn("day", F.to_date("day"))

    store = TableStore(spark, str(tmp_path / "scoped"))
    dd.minhash_index_build(
        store, batch(range(4), "2024-01-01"), "mh_idx_sc", n_buckets=4,
        carry_cols=("day",),
    )
    d2 = batch(range(10, 14), "2024-01-02")
    kw = dict(
        carry_cols=("day",), if_absent=True,
        if_absent_where="day = DATE '2024-01-02'",
    )
    dd.minhash_index_append(store, d2, "mh_idx_sc", **kw)
    n = store.read("mh_idx_sc").count()
    for _ in range(2):  # N re-runs of the slice: row count fixed
        dd.minhash_index_append(store, d2, "mh_idx_sc", **kw)
        assert store.read("mh_idx_sc").count() == n
    # the scope predicate reaches the parquet scan (pushed down, prunable)
    scoped = store.read_bucketed("mh_idx_sc").filter("day = DATE '2024-01-02'")
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "day" in plan.split("PushedFilters")[1][:120]
    assert scoped.count() * 2 == n  # the slice is half the index
    # same CONTENT under a new slice still appends — the scope dedups
    # re-runs of a slice, it is not global content dedup
    d3 = batch(range(10, 14), "2024-01-03").withColumn("doc_id", F.col("doc_id") + 10)
    dd.minhash_index_append(
        store, d3, "mh_idx_sc", carry_cols=("day",), if_absent=True,
        if_absent_where="day = DATE '2024-01-03'",
    )
    assert store.read("mh_idx_sc").count() > n


def test_pq_topk_recall_on_clustered_vectors(spark):
    """PQ/ADC: on well-separated clusters the compressed-domain top-k must
    recover the same cluster memberships as exact L2 — the codes quantize
    to the nearest seed, and ADC sums per-subspace lookup distances."""
    import math

    from aave_etl_spark.operators import similarity as sim

    dim, m_sub, k_codes = 16, 4, 4
    # 4 well-separated cluster anchors (= the first-4 seed codebook),
    # then 5 jittered members per cluster (deterministic jitter)
    def vec(c, j):
        base = [0.0] * dim
        for i in range(dim):
            base[i] = 10.0 * c + 0.01 * ((i * 7 + j * 3 + c) % 5)
        return base

    rows = [(c, vec(c, 0)) for c in range(k_codes)] + [
        (10 + c * 5 + j, vec(c, j + 1)) for c in range(4) for j in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id IN (10, 15, 20, 25)")  # one member per cluster
    out = sim.pq_topk(df, queries, k=3, n_subspaces=m_sub, n_codes=k_codes)
    got = out.collect()
    assert len(got) == 12  # 4 queries x top-3
    cluster = lambda vid: vid if vid < 4 else (vid - 10) // 5  # noqa: E731
    for r in got:
        # every retrieved neighbor is from the query's own cluster
        assert cluster(r.candidate_id) == cluster(r.query_id), r
        assert r.approx_d2 < 1.0  # same-cluster ADC distance is tiny
    # rank is dense 1..3 per query
    ranks = {}
    for r in got:
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3] for v in ranks.values())


def test_epoch_shards_deterministic_and_partition_invariant(spark):
    """Epoch sharding: assignment depends only on (seed, id) — invariant
    under repartitioning; positions are dense 1..|shard|; a new seed
    reorders."""
    from aave_etl_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = {r.doc_id: (r.shard, r.position) for r in sampling.epoch_shards(df, n_shards=4).collect()}
    b = {
        r.doc_id: (r.shard, r.position)
        for r in sampling.epoch_shards(df.repartition(13), n_shards=4).collect()
    }
    assert a == b, "sharding must not depend on physical layout"
    # dense positions per shard
    by_shard = {}
    for s, p in a.values():
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) == {0, 1, 2, 3}
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # rough uniformity (md5 mod 4 over 200 ids)
    assert all(30 <= len(ps) <= 70 for ps in by_shard.values())
    # a different epoch seed produces a different order
    c = {r.doc_id: (r.shard, r.position) for r in sampling.epoch_shards(df, n_shards=4, seed="epoch1").collect()}
    assert c != a


def test_epoch_shards_two_level_rank_matches_global_and_is_bounded(spark):
    """The scale form: position comes from a (shard, sub-bucket) window
    plus broadcast prefix offsets, never from a per-shard-wide window.
    Property-tested equal to the per-shard global rank computed
    driver-side, invariant across sub_prefix_len, and plan-asserted:
    the ranking row_number window partitions by BOTH shard and the
    sub-bucket."""
    import hashlib

    from aave_etl_spark.operators import sampling

    n_shards, seed = 4, "epoch0"
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    # driver-side oracle: md5 seed:id -> shard, rank within shard
    keyed = []
    for i in range(500):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        keyed.append((i, h, int(h[:15], 16) % n_shards))
    expect = {}
    for s in range(n_shards):
        rows = sorted((h, i) for i, h, sh in keyed if sh == s)
        for pos, (h, i) in enumerate(rows, start=1):
            expect[i] = (s, pos)
    out = sampling.epoch_shards(df, n_shards=n_shards, seed=seed)
    got = {r.doc_id: (r.shard, r.position) for r in out.collect()}
    assert got == expect, "two-level rank must equal the per-shard global rank"
    # sub-bucket width must not change the answer
    for plen in (1, 3):
        alt = {
            r.doc_id: (r.shard, r.position)
            for r in sampling.epoch_shards(
                df, n_shards=n_shards, seed=seed, sub_prefix_len=plen
            ).collect()
        }
        assert alt == expect, f"sub_prefix_len={plen}"
    # plan assert: the row_number window over the data partitions by
    # (shard, _sub) — a shard-only row_number would funnel
    # |corpus|/n_shards rows through one task
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, "expected a row_number window in the plan"
    for ln in rn_lines:
        assert "_sub" in ln, f"row_number must sub-bucket within shard:\n{ln}"
    # and the offset join is a broadcast (the grid is tiny by construction)
    assert "BroadcastHashJoin" in plan
    import pytest

    with pytest.raises(ValueError):
        sampling.epoch_shards(df, sub_prefix_len=0)


def test_ivfpq_topk_probe_pruning_and_recall(spark):
    """IVF-PQ: results only come from the query's probed cells, and on
    well-separated clusters the composed index recovers same-cluster
    neighbors (residual codes refine within the probed cell)."""
    from aave_etl_spark.operators import similarity as sim

    dim = 16

    def vec(c, j):
        return [20.0 * c + 0.01 * ((i * 5 + j * 3) % 7) for i in range(dim)]

    # cells 0..3 = anchors; codebook seeds 4..7 (one per cluster, jittered);
    # members 20.. (5 per cluster); queries are one member per cluster
    rows = (
        [(c, vec(c, 0)) for c in range(4)]
        + [(4 + c, vec(c, 1)) for c in range(4)]
        + [(20 + c * 5 + j, vec(c, j + 2)) for c in range(4) for j in range(5)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id IN (20, 25, 30, 35)")
    out = sim.ivfpq_topk(
        df, queries, k=3, n_cells=4, n_probe=1, n_subspaces=4, n_codes=4
    ).collect()
    assert len(out) == 12
    cluster = lambda vid: vid if vid < 4 else (vid - 4 if vid < 8 else (vid - 20) // 5)  # noqa: E731
    for r in out:
        # n_probe=1 on separated clusters: every hit is from the query's
        # own cluster's cell — probe pruning is doing the scan reduction
        assert r.cell_id == cluster(r.query_id), r
        assert cluster(r.candidate_id) == cluster(r.query_id), r
    ranks = {}
    for r in out:
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3] for v in ranks.values())


def test_ivfpq_arrow_encode_tie_breaks_to_lowest_cell_and_code(spark):
    """The Arrow-vectorized encode (round 13) must keep the interpreted
    struct-min tie semantics: equal rounded distances break to the LOWEST
    cell/code id. Duplicate centroid seeds force exact d2 ties for every
    vector, so any comparator drift (e.g. numpy argmax-style last-wins)
    would surface as a non-zero cell/code."""
    from aave_etl_spark.operators import similarity as sim

    dim = 8
    # seeds 0 and 1 are IDENTICAL -> both coarse centroids equal; seeds
    # 2 and 3 identical -> both residual codebook entries equal
    base = [1.0] * dim
    rows = (
        [(0, base), (1, base), (2, [2.0] * dim), (3, [2.0] * dim)]
        + [(10 + j, [1.0 + 0.1 * j] * dim) for j in range(4)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.ivfpq_topk(
        df, df.filter("vec_id = 10"), k=3, n_cells=2, n_probe=2,
        n_subspaces=4, n_codes=2,
    ).collect()
    # every candidate ties between the two identical cells -> all land in
    # cell 0; ADC scores tie between the two identical codes the same way
    assert out and all(r.cell_id == 0 for r in out), out


def test_pq_topk_sparse_nonzero_ids_and_dim_guard(spark):
    """Review regression: codebook/cell seeding must re-code densely (ids
    that are sparse or don't start at 0 previously broke the
    position<->code identity), and a dimension not divisible by
    n_subspaces must raise, not silently truncate."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from aave_etl_spark.operators import similarity as sim

    dim = 8

    def vec(c, j):
        return [10.0 * c + 0.01 * ((i + j) % 3) for i in range(dim)]

    # ids start at 1000 and stride 7 — the old id<n_codes filter would
    # yield an EMPTY codebook and NULL scores
    rows = [(1000 + (c * 3 + j) * 7, vec(c, j)) for c in range(2) for j in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.limit(1)
    out = sim.pq_topk(df, queries, k=2, n_subspaces=2, n_codes=2).collect()
    assert len(out) == 2
    assert all(r.approx_d2 is not None for r in out)
    out2 = sim.ivfpq_topk(
        df, queries, k=2, n_cells=2, n_probe=2, n_subspaces=2, n_codes=2
    ).collect()
    assert len(out2) == 2
    assert all(r.approx_d2 is not None for r in out2)

    # 9-dim vectors with M=2: must raise, not truncate
    bad = spark.createDataFrame(
        [(1, [float(i) for i in range(9)]), (2, [float(i + 1) for i in range(9)])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(SparkRuntimeException, match="not divisible"):
        sim.pq_topk(bad, bad.limit(1), k=1, n_subspaces=2, n_codes=2).collect()


# ---------------------------------------------------------------------------
# Empty geometry: no centroids or no codebook means no rows, as a typed
# empty frame that folds to an empty LocalRelation (no Spark job).
# ---------------------------------------------------------------------------
def _pq_vecs(spark, n, dim=4):
    return spark.createDataFrame(
        [(i, [float(i + j) for j in range(dim)]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def _assert_typed_empty(out, like):
    assert out.schema.simpleString() == like.schema.simpleString()
    assert "LocalTableScan <empty>" in out._jdf.queryExecution().executedPlan().toString()
    assert out.collect() == []


def test_pq_topk_empty_geometry_returns_no_rows(spark):
    from aave_etl_spark.operators import similarity as sim

    df = _pq_vecs(spark, 6)
    like = sim.pq_topk(df, df.limit(1), k=2, n_subspaces=2, n_codes=2)
    # empty corpus: the seeded codebook is empty too
    empty = df.filter("vec_id < 0")
    _assert_typed_empty(sim.pq_topk(empty, df, k=2, n_subspaces=2), like)
    # non-empty corpus, empty trained codebook
    no_codes = spark.createDataFrame([], "code int, cvec array<double>")
    _assert_typed_empty(
        sim.pq_topk(df, df, k=2, n_subspaces=2, codebook=no_codes), like
    )


def test_ivfpq_topk_empty_geometry_returns_no_rows(spark):
    from aave_etl_spark.operators import similarity as sim

    df = _pq_vecs(spark, 6)
    like = sim.ivfpq_topk(df, df.limit(1), k=2, n_cells=2, n_subspaces=2, n_codes=2)
    empty = df.filter("vec_id < 0")
    _assert_typed_empty(
        sim.ivfpq_topk(empty, df, k=2, n_cells=2, n_subspaces=2, n_codes=2), like
    )
    # fewer than n_cells + 1 candidates: cells seed, the codebook is empty
    small = df.filter("vec_id < 2")
    _assert_typed_empty(
        sim.ivfpq_topk(small, small, k=2, n_cells=2, n_subspaces=2, n_codes=2), like
    )


def test_ivfpq_index_build_empty_geometry_writes_no_codes(spark, tmp_path):
    """No codebook, no codes: the build writes no code table and stamps no
    marker (the "incomplete" outcome), and a search names the missing
    index instead of ranking NULL distances."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import similarity as sim

    df = _pq_vecs(spark, 6)
    for label, corpus in (("empty", df.filter("vec_id < 0")), ("small", df.filter("vec_id < 2"))):
        store = TableStore(spark, str(tmp_path / label))
        sim.ivfpq_index_build(store, corpus, n_cells=2, n_codes=2, n_subspaces=2)
        assert not store.exists("ivfpq_index"), label
        assert not store.is_complete("ivfpq_index"), label
        with pytest.raises(ValueError, match="not found"):
            sim.ivfpq_index_search(store, df, k=2, n_subspaces=2)


def test_perplexity_buckets_null_lang_kept_in_both_forms(spark):
    """Review regression: a NULL language (normal classifier outcome) must
    be bucketed by BOTH forms — the approximate path's equi-join used to
    silently drop those rows."""
    from aave_etl_spark.operators import text as text_ops

    rows = [
        (i, "word " * (3 + i % 5), "en" if i % 3 == 0 else None) for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    exact = text_ops.perplexity_buckets(df)
    approx = text_ops.perplexity_buckets(df, approximate=True)
    assert exact.count() == 24
    assert approx.count() == 24, "approximate form must keep NULL-lang docs"
    assert approx.filter("lang IS NULL").count() == 16


def _window_partitions(plan: str) -> list[str]:
    """First argument of every windowspecdefinition in an executed-plan
    string. A partition-LESS window's first argument is an ORDER column
    and carries an ASC/DESC direction; a partitioned window's first
    argument is a bare partition expression."""
    import re as _re

    return [m.group(1) for m in _re.finditer(r"windowspecdefinition\(([^,]+),", plan)]


def test_curation_pipeline_approximate_twin_is_window_free_at_scale(spark):
    """The 100 TB composition, asserted — not inferred from per-stage
    asserts: run the WHOLE curation chain with approximate=True
    (window-free DSIR) and uncheckpointed lineage, then (a) walk every
    stage's executed plan and require zero partition-less windows, and
    (b) property-check the approximate chain's survivor counts against
    the certified exact flow (identical through stage 4; the DSIR cut
    differs by at most the percentile-boundary rows)."""
    from tests.conftest import SF_SMOKE

    from aave_etl_spark.plans.curation import curate

    docs = (
        spark.read.parquet(SF_SMOKE + "/documents.parquet")
        .withColumn(
            "text",
            F.expr("replace(text, ' table ', concat('.', chr(10), 'table '))"),
        )
    )
    exact = curate(docs)  # the certified flow (checkpointed, exact DSIR)
    approx = curate(docs, approximate=True, checkpoint=False)
    e_counts = {name: exact[name].count() for name in ("c4", "exact", "neardup", "gate", "dsir", "mix")}
    a_counts = {name: approx[name].count() for name in e_counts}
    # stages 1-4 are deterministic set operations: identical survivors
    for name in ("c4", "exact", "neardup", "gate"):
        assert a_counts[name] == e_counts[name], name
    # the DSIR cut: percentile threshold vs exact rank — same target size
    # within the boundary-tie slop (ties share one key value)
    assert abs(a_counts["dsir"] - e_counts["dsir"]) <= max(
        2, e_counts["gate"] // 20
    ), (a_counts, e_counts)
    # downstream of the cut the mix is a per-row hash filter: the approx
    # mix can differ only by the docs the cuts disagreed on
    assert abs(a_counts["mix"] - e_counts["mix"]) <= abs(
        a_counts["dsir"] - e_counts["dsir"]
    ) + 2
    # plan walk: NO partition-less window in any stage of the approx chain
    for name, frame in approx.items():
        frame.count() if name != "packed" else frame.collect()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for first_arg in _window_partitions(plan):
            assert " ASC" not in first_arg and " DESC" not in first_arg, (
                f"stage {name!r} has a partition-less window"
                f" (first spec arg {first_arg!r})"
            )


def test_discover_stop_terms_matches_max_df_cap_on_separated_corpus(spark):
    """The HH-discovered stop list IS the df-cap exclusion set when the
    df distribution separates: on a corpus with 3 ubiquitous terms and a
    long rare tail, discovery returns exactly the hot terms (exact
    bounds, lb == ub == true df), and the anti-join probe equals the
    max_df-capped probe for any cap between the tail's max df and the
    hot terms' df — the planned and hand-picked stop handling coincide."""
    from aave_etl_spark.operators.text import (
        _bm25_probe,
        bm25_postings,
        discover_stop_terms,
    )

    n_docs = 40
    rows = [
        (i, f"hota hotb hotc rare{i % 20} rare{(i + 7) % 20}x")
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    posts = bm25_postings(docs)
    stop = discover_stop_terms(posts, m=16, k=3, n_shards=4)
    got = {r.value: r for r in stop.collect()}
    assert set(got) == {"hota", "hotb", "hotc"}
    for r in got.values():
        assert r.exact and r.count_lb == r.count_ub == n_docs
    # anti-join composition == max_df cap for a cap separating the tail
    tail_max_df = max(
        r.df for r in posts.filter(~F.col("term").startswith("hot")).collect()
    )
    assert tail_max_df < n_docs
    clean = posts.join(
        stop.select(F.col("value").alias("term")), "term", "left_anti"
    )
    queries = docs.filter(F.col("doc_id") < 4)
    via_anti = sorted(
        map(tuple, _bm25_probe(clean, queries, k=10).collect())
    )
    via_cap = sorted(
        map(tuple, _bm25_probe(posts, queries, k=10, max_df=tail_max_df).collect())
    )
    assert via_anti == via_cap and via_anti


def test_curate_weighted_budget_draw_and_tail_validation(spark):
    """sample_k wires the quality-weighted A-ES draw into the pipeline:
    exactly k docs drawn from the mixed corpus (ranks 1..k, a subset of
    the mix), the packed output packs the DRAWN set, and the tail
    options are mutually validated like the mixing fork is."""
    import pytest as _pytest

    from tests.conftest import SF_SMOKE

    from aave_etl_spark.plans.curation import curate

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet").withColumn(
        "text",
        F.expr("replace(text, ' table ', concat('.', chr(10), 'table '))"),
    )
    k = 5
    stages = curate(docs, mix_temperature=0.7, mix_budget=10000.0, sample_k=k)
    drawn = stages["draw"].collect()
    assert sorted(r.sample_rank for r in drawn) == list(range(1, k + 1))
    mix_ids = {r.doc_id for r in stages["mix"].select("doc_id").collect()}
    assert {r.doc_id for r in drawn} <= mix_ids
    # the packed corpus is the drawn set, not the full mix
    assert {r.doc_id for r in stages["packed"].collect()} == {
        r.doc_id for r in drawn
    }
    # tail-option contract errors are loud and specific
    with _pytest.raises(ValueError, match="sample_weight_col"):
        curate(docs, sample_weight_col="quality")
    with _pytest.raises(ValueError, match="sample_k"):
        curate(docs, sample_k=0)
    with _pytest.raises(ValueError, match="not a column"):
        curate(docs, sample_k=3, sample_weight_col="no_such_col")


def test_ivfpq_trained_geometry_end_to_end_recall_and_determinism(spark, tmp_path):
    """The PRODUCTION ANN shape: k-means-TRAINED cells + residual codebook
    run through ivfpq_index_build/ivfpq_index_search end-to-end.
    Gates: (a) recall@3 vs exact L2 >= the deterministic-geometry
    baseline and >= 0.9 on separated clusters; (b) the at-rest trained
    search bitwise-matches the trained in-flight ivfpq_topk (geometry
    flows through the identical plan); (c) ivfpq_train is deterministic
    (fixed init = first-N-by-id, densely re-coded)."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators import similarity as sim

    dim = 16

    def vec(c, j):
        return [20.0 * c + 0.01 * ((i * 5 + j * 3) % 7) for i in range(dim)]

    rows = (
        [(c, vec(c, 0)) for c in range(4)]
        + [(4 + c, vec(c, 1)) for c in range(4)]
        + [(20 + c * 5 + j, vec(c, j + 2)) for c in range(4) for j in range(5)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id IN (20, 25, 30, 35)")

    # exact top-3 by squared L2 (excluding self), driver-side
    by_id = {r.vec_id: r.embedding for r in df.collect()}
    exact = {}
    for q in (20, 25, 30, 35):
        d2 = sorted(
            (sum((a - b) ** 2 for a, b in zip(by_id[q], v)), i)
            for i, v in by_id.items()
            if i != q
        )
        exact[q] = {i for _, i in d2[:3]}

    def recall(rows_):
        got = {}
        for r in rows_:
            got.setdefault(r.query_id, set()).add(r.candidate_id)
        return sum(len(got.get(q, set()) & exact[q]) for q in exact) / (3 * len(exact))

    cells, codebook = sim.ivfpq_train(df, n_cells=4, n_codes=4, n_iter=3)
    store = TableStore(spark, str(tmp_path / "trained"))
    sim.ivfpq_index_build(
        store, df, n_subspaces=4, cells=cells, codebook=codebook
    )
    trained = sim.ivfpq_index_search(
        store, queries, k=3, n_probe=1, n_subspaces=4
    ).collect()

    det_store = TableStore(spark, str(tmp_path / "det"))
    sim.ivfpq_index_build(det_store, df, n_cells=4, n_codes=4, n_subspaces=4)
    det = sim.ivfpq_index_search(
        det_store, queries, k=3, n_probe=1, n_subspaces=4
    ).collect()

    assert recall(trained) >= recall(det)
    assert recall(trained) >= 0.9
    # trained at-rest == trained in-flight: same geometry, same plan shape
    in_flight = sim.ivfpq_topk(
        df, queries, k=3, n_probe=1, n_subspaces=4, cells=cells, codebook=codebook
    ).collect()
    assert sorted(map(tuple, trained)) == sorted(map(tuple, in_flight))
    # determinism: retraining yields bit-identical geometry
    cells2, codebook2 = sim.ivfpq_train(df, n_cells=4, n_codes=4, n_iter=3)
    assert sorted(map(tuple, cells.collect())) == sorted(map(tuple, cells2.collect()))
    assert sorted(map(tuple, codebook.collect())) == sorted(
        map(tuple, codebook2.collect())
    )
    # half-provided geometry refuses
    with pytest.raises(ValueError, match="both"):
        sim.ivfpq_topk(df, queries, cells=cells)


def test_ivfpq_index_roundtrip_matches_in_flight(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    store = TableStore(spark, str(tmp_path))
    similarity.ivfpq_index_build(store, emb, n_cells=8, n_codes=8, n_subspaces=4)
    queries = emb.filter(F.col("vec_id") < 8)
    at_rest = similarity.ivfpq_index_search(
        store, queries, k=3, n_probe=2, n_subspaces=4
    ).collect()
    in_flight = similarity.ivfpq_topk(
        emb, queries, k=3, n_cells=8, n_probe=2, n_subspaces=4, n_codes=8
    ).collect()
    assert sorted(map(tuple, at_rest)) == sorted(map(tuple, in_flight))
    assert len(at_rest) > 0


def test_ivfpq_index_search_scans_only_probed_cells(spark, tmp_path):
    import re as _re

    from aave_etl_spark.io.table_store import TableStore

    emb = spark.createDataFrame(
        [(i, [float((i * 13) % 7), float((i * 5) % 11), 1.0, 2.0]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    store = TableStore(spark, str(tmp_path))
    similarity.ivfpq_index_build(store, emb, n_cells=8, n_codes=4, n_subspaces=2)
    one_query = emb.filter(F.col("vec_id") == 20)
    out = similarity.ivfpq_index_search(
        store, one_query, k=3, n_probe=2, n_subspaces=2
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"cell_id#\d+ IN(?:SET)? \(?([\d, ]+)\)?", p)
    assert m, f"no partition IN/INSET filter in plan:\n{p[:2000]}"
    assert len([v for v in m.group(1).split(",") if v.strip()]) == 2
    assert out.count() == 3
    # empty query set: typed empty, no IN () predicate constructed
    none = similarity.ivfpq_index_search(
        store, emb.filter(F.col("vec_id") < 0), k=3, n_probe=2, n_subspaces=2
    )
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == [
        "query_id", "candidate_id", "cell_id", "approx_d2", "rank",
    ]


# ---------------------------------------------------------------------------
# SCD Type-2 snapshots.
# ---------------------------------------------------------------------------
def test_scd2_snapshot_versions_and_intervals(spark):
    from aave_etl_spark.operators.scd import scd2_as_of, scd2_snapshot

    log = spark.createDataFrame(
        [
            # entity 1: A -> A (no-op, collapses) -> B -> A again
            (1, 10, "A"),
            (1, 20, "A"),
            (1, 30, "B"),
            (1, 40, "A"),
            # entity 2: NULL attr first (kept), then NULL again (no-op),
            # then a value
            (2, 10, None),
            (2, 20, None),
            (2, 30, "X"),
        ],
        "k long, ts long, attr string",
    )
    dim = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts").collect()
    got = {
        (r.k, r.version): (r.attr, r.effective_from, r.effective_to, r.is_current)
        for r in dim
    }
    assert got == {
        (1, 1): ("A", 10, 30, False),
        (1, 2): ("B", 30, 40, False),
        (1, 3): ("A", 40, None, True),
        (2, 1): (None, 10, 30, False),
        (2, 2): ("X", 30, None, True),
    }
    # half-open as-of contract: at ts=30 the NEW version is in force
    dim_df = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts")
    at30 = {r.k: r.attr for r in scd2_as_of(dim_df, 30).collect()}
    assert at30 == {1: "B", 2: "X"}
    at10 = {r.k: r.attr for r in scd2_as_of(dim_df, 10).collect()}
    assert at10 == {1: "A", 2: None}


def test_scd2_snapshot_tie_break_and_validation(spark):
    import pytest

    from aave_etl_spark.operators.scd import scd2_snapshot

    # same-timestamp changes order deterministically by the seq column
    log = spark.createDataFrame(
        [(1, 10, 2, "B"), (1, 10, 1, "A")], "k long, ts long, seq long, attr string"
    )
    rows = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts", seq_cols=["seq"]).collect()
    assert [(r.version, r.attr) for r in sorted(rows, key=lambda r: r.version)] == [
        (1, "A"),
        (2, "B"),
    ]
    with pytest.raises(ValueError, match="key_cols and attr_cols"):
        scd2_snapshot(log, [], ["attr"])


def test_knn_classify_majority_vote_and_ties(spark):
    from aave_etl_spark.operators.similarity import knn_classify

    # 2-D geometry around query [1,0]: neighbor ranks by cosine are
    # 1 > 2 > 3 > 4 > 5 >> 6; labels interleave so k flips the vote
    rows = [
        (0, [1.0, 0.0], 9),      # the query (label ignored on query side)
        (1, [0.99, 0.1], 1),
        (2, [0.98, 0.12], 1),
        (3, [0.97, 0.15], 2),
        (4, [0.9, 0.3], 2),
        (5, [0.88, 0.35], 2),
        (6, [-1.0, 0.0], 1),     # far: never in the top-5
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    # k=5: labels {1,1,2,2,2} -> 2 wins with 3 votes
    out = knn_classify(emb, emb.filter("vec_id = 0"), k=5).collect()
    assert len(out) == 1
    assert (out[0].pred_label, out[0].n_votes) == (2, 3)
    # k=4: labels {1,1,2,2} tie -> smallest label wins
    out2 = knn_classify(emb, emb.filter("vec_id = 0"), k=4).collect()
    assert len(out2) == 1 and (out2[0].pred_label, out2[0].n_votes) == (1, 2)
    # UNLABELED (NULL) corpus rows must not vote at all: with labels
    # {1,1,NULL,NULL} at k=4 pred is 1, and even when NULLs hold an
    # outright plurality — {1,1,NULL,NULL,NULL} at k=5 — the labeled
    # neighbors still decide (seed-set propagation on a mostly-unlabeled
    # corpus must never predict NULL)
    nulled = spark.createDataFrame(
        [(i, v, None if lbl == 2 else lbl) for i, v, lbl in rows],
        "vec_id long, embedding array<double>, label int",
    )
    out3 = knn_classify(nulled, nulled.filter("vec_id = 0"), k=4).collect()
    assert len(out3) == 1 and (out3[0].pred_label, out3[0].n_votes) == (1, 2)
    out4 = knn_classify(nulled, nulled.filter("vec_id = 0"), k=5).collect()
    assert len(out4) == 1 and (out4[0].pred_label, out4[0].n_votes) == (1, 2)


def test_hll_sketches_merge_losslessly_and_estimate_accurately(spark):
    """Per-(lang, bucket) HLL sketches union up to per-lang estimates that
    (a) EQUAL the direct per-lang sketch estimate — the merge adds zero
    approximation — and (b) sit within the published error bound of the
    exact distinct count."""
    from aave_etl_spark.operators.sketch import (
        hll_estimate,
        hll_merge_estimate,
        hll_sketch_by_group,
    )

    df = spark.range(0, 60_000).select(
        (F.col("id") % 3).alias("lang"),
        (F.col("id") % 7).alias("bucket"),
        # ~20k distinct values per lang, overlapping across buckets
        F.concat(F.lit("v"), (F.col("id") % 20_011).cast("string")).alias("v"),
    )
    fine = hll_sketch_by_group(df, ["lang", "bucket"], "v")
    merged = {r.lang: r.est_distinct for r in hll_merge_estimate(fine, ["lang"]).collect()}
    direct = {
        r.lang: r.est_distinct
        for r in hll_sketch_by_group(df, ["lang"], "v").select("lang", hll_estimate()).collect()
    }
    assert merged == direct  # union of states == state of union
    exact = {
        r.lang: r.x
        for r in df.groupBy("lang").agg(F.countDistinct("v").alias("x")).collect()
    }
    for lang, est in merged.items():
        assert abs(est - exact[lang]) / exact[lang] < 0.05, (lang, est, exact[lang])
    # determinism: the estimate depends only on the value multiset
    again = {
        r.lang: r.est_distinct
        for r in hll_merge_estimate(fine.repartition(7), ["lang"]).collect()
    }
    assert again == merged


def test_kmv_merge_equals_direct_sketch(spark):
    """k-min of a union lives inside the per-part k-mins, so merging
    per-(lang, bucket) KMV sketches must equal the direct per-lang
    estimate EXACTLY — including the exact-fallback regime below k."""
    from aave_etl_spark.operators.sketch import (
        kmv_distinct,
        kmv_merge_estimate,
        kmv_sketch_by_group,
    )

    df = spark.range(0, 5_000).select(
        (F.col("id") % 2).alias("lang"),
        (F.col("id") % 5).alias("bucket"),
        F.concat(F.lit("v"), (F.col("id") % 997).cast("string")).alias("v"),
    )
    # small-lang arm: below k -> exact fallback through the merge too
    small = spark.createDataFrame(
        [(9, b, f"s{i}") for b in range(2) for i in range(4)],
        "lang long, bucket long, v string",
    )
    full = df.unionByName(small)
    merged = {
        r.lang: r.est_distinct
        for r in kmv_merge_estimate(
            kmv_sketch_by_group(full, ["lang", "bucket"], "v"), ["lang"]
        ).collect()
    }
    direct = {r.lang: r.est_distinct for r in kmv_distinct(full, ["lang"], "v").collect()}
    assert merged == direct
    assert merged[9] == 4.0  # exact below k
    # merging with a k LARGER than the build k would be silently biased —
    # the kmv_k sidecar column makes it raise at execution (the guard is
    # lazy: plan-building must stay free; F.raise_error surfaces as a
    # SparkRuntimeException, the repo-wide guard discipline)
    import pytest

    with pytest.raises(Exception, match="build k"):
        kmv_merge_estimate(
            kmv_sketch_by_group(full, ["lang", "bucket"], "v", k=16), ["lang"], k=32
        ).collect()


def test_knn_vote_composes_with_ivf_arm(spark):
    """The vote logic is arm-agnostic: on a well-clustered fixture the
    IVF search feeding knn_vote yields the same predictions as the exact
    cosine arm — the swap the 100 TB path performs against the at-rest
    indexes."""
    import numpy as np

    from aave_etl_spark.operators.similarity import (
        ivf_topk,
        knn_classify,
        knn_vote,
    )

    rng = np.random.default_rng(7)
    rows = []
    # two tight clusters of 20 vectors each, labels follow the cluster
    for i in range(40):
        c = i % 2
        base = np.array([3.0, 0.0] if c == 0 else [0.0, 3.0])
        rows.append((i, (base + rng.normal(0, 0.05, 2)).tolist(), c + 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = emb.filter("vec_id < 4")
    labels = emb.selectExpr("vec_id AS candidate_id", "label AS _lbl")
    ivf_arm = ivf_topk(emb, queries, k=5, n_cells=4, n_probe=2)
    via_ivf = {
        r.query_id: r.pred_label for r in knn_vote(ivf_arm, labels).collect()
    }
    exact = {
        r.query_id: r.pred_label for r in knn_classify(emb, queries, k=5).collect()
    }
    assert via_ivf == exact and len(exact) == 4
    # and the labels are the cluster identities
    assert all(via_ivf[q] == (q % 2) + 1 for q in via_ivf)


def test_bm25_max_df_caps_stop_terms_and_pushes_down(spark, tmp_path):
    """max_df drops stop-term postings BEFORE the hits join: scores equal
    the uncapped retrieve over a corpus whose stop terms were never there,
    and against the at-rest index the df predicate reaches the parquet
    scan (PushedFilters) — hot-term row groups are skipped, not read."""
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.text import (
        bm25_index_build,
        bm25_index_search,
        bm25_retrieve,
    )

    # 'the' appears in every doc (df=6, a stop term); content terms are rare
    df = spark.createDataFrame(
        [
            (1, "the zebra common"),
            (2, "the zebra common filler"),
            (3, "the filler other"),
            (4, "the other unrelated"),
            (5, "the words unrelated"),
            (6, "the zebra"),
        ],
        "doc_id long, text string",
    )
    capped = bm25_retrieve(df, df.filter("doc_id = 1"), k=10, max_df=5).collect()
    # 'the' (df=6 > 5) contributes nothing: doc 4/5 share only 'the' with
    # the query and must be absent entirely
    got = {r.candidate_id for r in capped}
    assert got == {2, 6}
    uncapped = {
        r.candidate_id
        for r in bm25_retrieve(df, df.filter("doc_id = 1"), k=10).collect()
    }
    assert uncapped == {2, 3, 4, 5, 6}  # everything matches via 'the'
    # at-rest: identical results AND the df filter is pushed to the scan
    store = TableStore(spark, str(tmp_path))
    bm25_index_build(store, df, "bm25_cap_idx")
    at_rest = bm25_index_search(
        store, df.filter("doc_id = 1"), "bm25_cap_idx", k=10, max_df=5
    )
    assert sorted(map(tuple, at_rest.collect())) == sorted(map(tuple, capped))
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(df,5)" in plan, plan


def test_hybrid_rrf_atrest_composition_matches_inflight(spark):
    """The at-rest hybrid retrieval composition — rrf_fuse over
    bm25_index_search × ivfpq_index_search, the shape SCALE.md names as
    the 100 TB path — equals the fusion of the arms' IN-FLIGHT twins
    exactly: each at-rest arm is a bitwise twin of its in-flight form, so
    the fused (query, candidate, score, rank) sets must match row-for-row."""
    from tests.conftest import SF_SMOKE

    from aave_etl_spark.operators import similarity, text
    from aave_etl_spark.queries.llm import llm_hybrid_rrf_atrest

    at_rest = sorted(map(tuple, llm_hybrid_rrf_atrest(spark, SF_SMOKE).collect()))
    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    dense = similarity.ivfpq_topk(
        emb, emb.filter("vec_id < 8"), k=10,
        n_cells=8, n_probe=2, n_subspaces=4, n_codes=8,
    )
    sparse = text.bm25_retrieve(docs, docs.filter("doc_id < 8"), k=10)
    in_flight = sorted(map(tuple, similarity.rrf_fuse(dense, sparse, k=5).collect()))
    assert at_rest == in_flight
    assert len(at_rest) > 0


def test_topk_sketch_merge_bounds_contain_truth(spark):
    """Mergeable heavy hitters: [count_lb, count_ub] always contains the
    true count; values present in every part's top-m come back EXACT; with
    m large enough to never truncate, the merged top-k IS the exact top-k."""
    import random

    from aave_etl_spark.operators.sketch import topk_merge, topk_sketch_by_group

    rng = random.Random(11)
    rows = []
    # zipf-ish: value v_i appears ~ 600/i times, scattered over 5 parts
    for i in range(1, 40):
        for _ in range(600 // i):
            rows.append(("g", rng.randint(0, 4), f"v{i:02d}"))
    df = spark.createDataFrame(rows, "g string, part int, w string")
    truth = {
        r.w: r.c
        for r in df.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    fine = topk_sketch_by_group(df, ["g", "part"], "w", m=8)
    got = topk_merge(fine, ["g"], k=10).collect()
    assert len(got) == 10
    for r in got:
        assert r.count_lb <= truth[r.value] <= r.count_ub, (r, truth[r.value])
        if r.exact:
            assert r.count_lb == truth[r.value] == r.count_ub
    # the heaviest values survive every part's top-8 -> exact at the top
    assert got[0].value == "v01" and got[0].exact and got[0].count_lb == 600
    # untruncated sketches (m >= distinct values) merge to the exact top-k
    wide = topk_sketch_by_group(df, ["g", "part"], "w", m=100)
    exact_topk = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    merged = [
        (r.value, r.count_lb)
        for r in topk_merge(wide, ["g"], k=10).orderBy("rank").collect()
    ]
    assert merged == exact_topk
    assert all(r.exact for r in topk_merge(wide, ["g"], k=10).collect())
    # bounded-shuffle pin: the m+1 row_number cut compiles to a
    # WindowGroupLimit, so a huge vocabulary pre-trims per map partition
    plan = fine._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_scd2_point_in_time_enrichment_asof_equals_interval(spark):
    """The two point-in-time enrichment paths must agree: facts enriched
    via asof_join against the SCD2 dimension's effective_from == facts
    joined by half-open interval containment (from <= ts < to). Pins the
    SCD2 interval contract to the as-of semantics with two independent
    operators — the fact-to-dimension temporal join every warehouse runs."""
    from datetime import datetime

    from aave_etl_spark.operators.asof import asof_join
    from aave_etl_spark.operators.scd import scd2_snapshot

    T = lambda d: datetime(2024, 1, d)  # noqa: E731
    log = spark.createDataFrame(
        [
            (1, "A", T(1)), (1, "A", T(3)), (1, "B", T(5)),  # no-op at d3
            (2, "X", T(2)), (2, "Y", T(4)),
        ],
        "k long, attr string, ts timestamp",
    )
    dim = scd2_snapshot(log, ["k"], ["attr"], ts_col="ts")
    facts = spark.createDataFrame(
        [
            (1, T(1), 10.0),   # exactly at a version start: that version
            (1, T(4), 11.0),   # between versions
            (1, T(9), 12.0),   # after the last: current version
            (2, T(1), 20.0),   # before any version: NULL
            (2, T(4), 21.0),   # exactly at the switch: the NEW version
        ],
        "k long, ts timestamp, x double",
    )
    via_asof = {
        (r.k, r.ts, r.x): r.asof_attr
        for r in asof_join(
            facts,
            dim.selectExpr("k", "effective_from AS ts", "attr"),
            ["k"],
            "ts",
            ["attr"],
        ).collect()
    }
    via_interval = {
        (r.k, r.ts, r.x): r.attr
        for r in facts.join(
            dim,
            (facts.k == dim.k)
            & (dim.effective_from <= facts.ts)
            & (dim.effective_to.isNull() | (facts.ts < dim.effective_to)),
            "left",
        )
        .select(facts.k, facts.ts, facts.x, dim.attr)
        .collect()
    }
    assert via_asof == via_interval and len(via_asof) == 5
    assert via_asof[(1, T(1), 10.0)] == "A"
    assert via_asof[(1, T(9), 12.0)] == "B"
    assert via_asof[(2, T(1), 20.0)] is None
    assert via_asof[(2, T(4), 21.0)] == "Y"


def test_rowsample_quantile_sketch_merge_equals_direct(spark):
    """The mergeable row-sample quantile sketch: pooling per-part bottom-k
    samples and re-taking the bottom-k equals sketching the concatenated
    rows directly — EXACTLY (same hash race); below-k groups are exact
    quantiles; merging at k larger than the build k raises."""
    import pytest
    from pyspark.sql.utils import CapturedException

    from aave_etl_spark.operators.sketch import (
        rowsample_merge_quantiles,
        rowsample_sketch_by_group,
    )

    rows = [(i, "g", float((i * 37) % 1000)) for i in range(500)]
    rows += [(1000 + i, "tiny", float(i)) for i in range(5)]  # below k: exact
    df = spark.createDataFrame(rows, "rid long, g string, v double")
    parts = df.withColumn("part", F.col("rid") % 7)
    fine = rowsample_sketch_by_group(parts, ["g", "part"], "rid", "v", k=32)
    merged = sorted(
        map(tuple, rowsample_merge_quantiles(fine, ["g"], k=32).collect())
    )
    direct_sk = rowsample_sketch_by_group(df, ["g"], "rid", "v", k=32)
    direct = sorted(
        map(tuple, rowsample_merge_quantiles(direct_sk, ["g"], k=32).collect())
    )
    assert merged == direct and len(merged) == 2
    by_g = {t[0]: t for t in merged}
    assert by_g["g"][1] == 32  # n_sample capped at k
    # tiny group: sample is the WHOLE group, so quantiles are exact
    assert by_g["tiny"][1] == 5
    assert by_g["tiny"][2] == 2.0 and by_g["tiny"][3] == pytest.approx(3.6)
    # merge k > build k is a silent-bias trap: must raise
    with pytest.raises(CapturedException, match="build k"):
        rowsample_merge_quantiles(fine, ["g"], k=64).collect()


def test_weighted_sample_k_is_weight_proportional_and_deterministic(spark):
    """Efraimidis-Spirakis A-ES: heavier rows win proportionally more
    often across independent salts; draws are deterministic per salt;
    NULL/non-positive weights never win; the global form returns exactly
    k with a TakeOrdered plan (no full sort, no corpus-wide window)."""
    from aave_etl_spark.operators.sampling import weighted_sample_k

    rows = [(i, 100.0 if i < 10 else 1.0) for i in range(110)]
    rows += [(900, None), (901, 0.0), (902, -5.0)]  # can never win
    df = spark.createDataFrame(rows, "doc_id long, w double")
    heavy_wins = 0
    for s in range(8):
        got = {
            r.doc_id
            for r in weighted_sample_k(df, k=10, weight_col="w", salt=f"s{s}").collect()
        }
        assert len(got) == 10 and got.isdisjoint({900, 901, 902})
        heavy_wins += len(got & set(range(10)))
    # 10 heavy rows at weight 100 vs 100 light at weight 1: heavy holds
    # ~10/11 of total mass, so heavy wins should dominate (>=6/10 per draw
    # on average; across 8 salts demand a clear majority, not a coin flip)
    assert heavy_wins >= 48, heavy_wins
    # determinism: same salt, same draw, any partitioning
    a = sorted(map(tuple, weighted_sample_k(df, k=10, weight_col="w").collect()))
    b = sorted(
        map(tuple, weighted_sample_k(df.repartition(7), k=10, weight_col="w").collect())
    )
    assert a == b
    # grouped form: exactly k per group, ranks 1..k
    gdf = df.withColumn("g", (F.col("doc_id") % 2).cast("string"))
    gout = weighted_sample_k(gdf, k=3, weight_col="w", group_cols=["g"]).collect()
    per = {}
    for r in gout:
        per.setdefault(r.g, []).append(r.sample_rank)
    assert all(sorted(v) == [1, 2, 3] for v in per.values())
    # global plan: TakeOrdered (distributed per-partition top-k), no Sort-all
    plan = (
        weighted_sample_k(df, k=10, weight_col="w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_k_is_scale_free_in_weights(spark):
    """The max-normalization contract: scaling every weight by a positive
    constant leaves the draw BIT-IDENTICAL (keys divide by the group max
    before the 9dp rounding), so heavy absolute weights (~1e12) can no
    longer collapse keys to 0.000000000 and degrade the draw to
    ascending id — the ADVICE r9 failure mode."""
    from aave_etl_spark.operators.sampling import weighted_sample_k

    def draw(res):  # compare the DRAW (ids, keys, ranks), not the raw w
        return sorted((r.doc_id, r.sample_key, r.sample_rank) for r in res)

    rows = [(i, float(1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    big = df.withColumn("w", F.col("w") * F.lit(1e12))
    a = draw(weighted_sample_k(df, k=20, weight_col="w").collect())
    b = draw(weighted_sample_k(big, k=20, weight_col="w").collect())
    assert a == b
    # grouped form too (per-group max normalizer, NULL-safe join back)
    g = df.withColumn("g", (F.col("doc_id") % 3).cast("string"))
    gbig = big.withColumn("g", (F.col("doc_id") % 3).cast("string"))
    ga = draw(weighted_sample_k(g, k=4, weight_col="w", group_cols=["g"]).collect())
    gb = draw(weighted_sample_k(gbig, k=4, weight_col="w", group_cols=["g"]).collect())
    assert ga == gb
    # NULL group keeps its draws (eqNullSafe normalizer join)
    gn = df.withColumn(
        "g", F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(F.lit("x"))
    )
    got = weighted_sample_k(gn, k=4, weight_col="w", group_cols=["g"]).collect()
    assert sum(1 for r in got if r.g is None) == 4


def test_temperature_mixture_upweights_low_resource_and_caps_rates(spark):
    from aave_etl_spark.operators.sampling import temperature_mixture

    df = spark.createDataFrame(
        [("en", 9000), ("fr", 900), ("sw", 100)], "lang string, n_chars long"
    )
    out = {r.lang: r for r in temperature_mixture(df, budget=2000.0).collect()}
    # shares sum to 1, alpha<1 lifts the tail above its raw share
    assert abs(sum(r.mix_share for r in out.values()) - 1.0) < 1e-5
    assert out["sw"].mix_share > 100 / 10000  # raw share 1%
    assert out["en"].mix_share < 9000 / 10000  # raw share 90%
    # ordering preserved (alpha > 0 is monotone in mass)
    assert out["en"].mix_share > out["fr"].mix_share > out["sw"].mix_share
    # budget rates: expected = mass * rate, capped at full take
    for r in out.values():
        assert 0 < r.sample_rate <= 1.0
        assert abs(r.expected_units - round(r.n_units * r.sample_rate, 4)) < 0.01
    # alpha=1 is exactly proportional
    prop = {r.lang: r.mix_share for r in temperature_mixture(df, alpha=1.0).collect()}
    assert abs(prop["en"] - 0.9) < 1e-6


def test_line_dedup_global_cuts_cross_doc_boilerplate_keeps_first(spark):
    from aave_etl_spark.operators.dedup import line_dedup_global

    boiler = "subscribe to our newsletter for all the updates"
    docs = spark.createDataFrame(
        [
            (1, f"unique opening sentence one\n{boiler}\nclosing remark number one"),
            (2, f"{boiler}\nunique second document body text"),
            (3, "no duplicates here at all\nok"),  # 'ok' < min_chars: exempt
            (4, "no duplicates here at all\nok"),  # long line dups doc 3's
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup_global(docs).collect()}
    # doc 1 holds the first occurrence of the boilerplate; doc 2 loses it
    assert out[1].n_kept == 3 and boiler in out[1].clean_text
    assert out[2].n_kept == 1 and boiler not in out[2].clean_text
    assert out[2].clean_text == "unique second document body text"
    # cross-doc long-line dup cut in doc 4, short 'ok' exempt in BOTH
    assert out[3].n_kept == 2
    assert out[4].clean_text == "ok" and out[4].n_kept == 1
    # n_lines counts pre-cut non-empty lines
    assert (out[1].n_lines, out[2].n_lines, out[4].n_lines) == (3, 2, 2)
    # rebuild preserves original line order
    assert out[1].clean_text.split("\n")[0] == "unique opening sentence one"
    # empty / whitespace-only docs keep their row (no silent corpus loss)
    empties = spark.createDataFrame(
        [(1, "hello there world wide"), (2, ""), (3, "\n \n")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup_global(empties).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[2].clean_text, got[2].n_lines, got[2].n_kept) == ("", 0, 0)
    assert (got[3].clean_text, got[3].n_lines, got[3].n_kept) == ("", 0, 0)


def test_line_dedup_global_agg_form_equals_window_form_and_skew_immune(spark):
    """Property: the skew-immune groupBy(line_hash).agg(min(struct)) + join
    first-occurrence (what line_dedup_global ships) is row-for-row equal to
    the literal row_number-window form on a HOSTILE corpus — one boilerplate
    line recurring in most documents (the window form funnels every copy of
    that line into a single reducer task at scale; the agg form combines
    map-side). Also pins the plan: no Window operator anywhere."""
    import random

    from pyspark.sql.window import Window as W

    from aave_etl_spark.operators.dedup import line_dedup_global

    rng = random.Random(9)
    banner = "accept all cookies to continue reading this site"
    footer = "copyright example corporation all rights reserved"
    rows = []
    for d in range(120):
        body = [f"unique sentence {d} token {rng.randint(0, 9999)}"]
        if d % 10 != 3:
            body.insert(rng.randint(0, len(body)), banner)  # hot: ~90% of docs
        if d % 4 == 0:
            body.append(footer)
        if d % 7 == 0:
            body.append("ok")  # short, exempt
        rng.shuffle(body)
        rows.append((d, "\n".join(body)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = line_dedup_global(docs)

    # literal window twin (the r8 form the rewrite replaced)
    min_chars = 15
    lines = (
        docs.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col("text"), "\\n")).alias("_ln", "_line"),
        )
        .withColumn("_line", F.trim("_line"))
        .filter(F.length("_line") > 0)
    )
    w = W.partitionBy(F.md5(F.col("_line"))).orderBy("doc_id", "_ln")
    flagged = lines.withColumn("_rn", F.row_number().over(w))
    keep = (F.length("_line") < min_chars) | (F.col("_rn") == 1)
    twin_agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(keep, F.struct("_ln", "_line")))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    twin = (
        docs.select("doc_id")
        .distinct()
        .join(twin_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )
    got = sorted(out.collect())
    exp = sorted(twin.collect())
    assert got == exp
    # the hot banner survives exactly once across the whole corpus
    n_banner = sum(r.clean_text.split("\n").count(banner) for r in got)
    assert n_banner == 1
    # plan pin: first-occurrence is an aggregate+join, NOT a window —
    # no Window operator may appear anywhere in the shipped plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_ivfpq_index_append_frozen_geometry_and_idempotent(spark, tmp_path):
    """ivfpq_index_append encodes the batch under the STORED geometry:
    the incremental index equals a from-scratch build of the union under
    the same (cells, codebook); a byte-identical re-append dynamic-
    overwrites its own (cell, day) slices so the row count stays fixed;
    a mismatched n_subspaces is rejected against the meta sidecar."""
    import pytest as _pytest

    from aave_etl_spark.io.table_store import TableStore

    mk = lambda lo, hi, day: spark.createDataFrame(
        [
            (i, [float((i * 13 + d) % 7) for d in range(8)], day)
            for i in range(lo, hi)
        ],
        "vec_id long, embedding array<double>, day string",
    ).withColumn("day", F.to_date("day"))
    d1 = mk(0, 40, "2024-01-01")
    d2 = mk(100, 130, "2024-01-02")

    store = TableStore(spark, str(tmp_path / "inc"))
    similarity.ivfpq_index_build(
        store, d1, name="pq", n_cells=4, n_codes=4, n_subspaces=2,
        carry_cols=("day",),
    )
    similarity.ivfpq_index_append(
        store, d2, name="pq", n_subspaces=2, carry_cols=("day",)
    )
    inc = {
        (r.day, r.vec_id, r.cell_id, tuple(r.codes))
        for r in store.read("pq").collect()
    }
    assert len(inc) == 70

    # from-scratch build of the union under the SAME stored geometry
    scratch = TableStore(spark, str(tmp_path / "scratch"))
    similarity.ivfpq_index_build(
        scratch,
        d1.unionByName(d2),
        name="pq",
        n_subspaces=2,
        cells=store.read("pq_cells"),
        codebook=store.read("pq_codebook"),
        carry_cols=("day",),
    )
    full = {
        (r.day, r.vec_id, r.cell_id, tuple(r.codes))
        for r in scratch.read("pq").collect()
    }
    assert full == inc

    # idempotence: re-appending the same day leaves the table fixed
    similarity.ivfpq_index_append(
        store, d2, name="pq", n_subspaces=2, carry_cols=("day",)
    )
    assert {
        (r.day, r.vec_id, r.cell_id, tuple(r.codes))
        for r in store.read("pq").collect()
    } == inc

    # PQ-split drift is rejected loudly
    with _pytest.raises(ValueError, match="n_subspaces"):
        similarity.ivfpq_index_append(
            store, d2, name="pq", n_subspaces=4, carry_cols=("day",)
        )
    # missing index is rejected loudly
    with _pytest.raises(ValueError, match="not found"):
        similarity.ivfpq_index_append(
            TableStore(spark, str(tmp_path / "empty")), d2, name="pq",
            n_subspaces=2,
        )


def test_ivf_index_append_day_scope_prunes_at_file_listing(spark, tmp_path):
    """An extra_where day predicate on a carry-partitioned IVF index
    reaches the PARTITION filters (file-listing pruning), and the
    prior-day-scoped search never returns same-day rows — the
    embeddings pipeline's backfill discipline, asserted at the plan."""
    from aave_etl_spark.io.table_store import TableStore

    mk = lambda lo, hi, day: spark.createDataFrame(
        [(i, [float((i * 13) % 7), float((i * 5) % 11), 1.0], day) for i in range(lo, hi)],
        "vec_id long, embedding array<double>, day string",
    ).withColumn("day", F.to_date("day"))
    d1, d2 = mk(0, 32, "2024-01-01"), mk(100, 120, "2024-01-02")

    store = TableStore(spark, str(tmp_path))
    similarity.ivf_index_build(store, d1, n_cells=8, carry_cols=("day",))
    similarity.ivf_index_append(store, d2, carry_cols=("day",))

    q = mk(500, 502, "2024-01-02").drop("day")
    out = similarity.ivf_index_search(
        store, q, k=50, n_probe=8, extra_where="day < DATE '2024-01-02'"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:400], plan[:3000]
    # only day-1 candidates survive the scoped scan
    assert {r.candidate_id for r in out.collect()} <= set(range(32))
    unscoped = similarity.ivf_index_search(store, q, k=50, n_probe=8)
    assert {r.candidate_id for r in unscoped.collect()} & set(range(100, 120))
