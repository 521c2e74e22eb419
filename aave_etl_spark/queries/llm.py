"""Training-data pipeline queries over `documents` / `embeddings`.

These are the beyond-reference operators (BASELINE.json north star):
dedup (exact / minhash-LSH / simhash / n-gram Jaccard), similarity search,
text analysis, and multimodal binary plumbing. Every SQL-expressible one
carries a DuckDB oracle implementing the *same deterministic algorithm*
(md5-based hashing — engine-portable, seed-free).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aave_etl_spark.operators import dedup, similarity, text
from aave_etl_spark.queries.registry import register, t
from aave_etl_spark.localframe import local_df

# DuckDB needs the 'g' flag to replace-all; Spark's regexp_replace already
# does. Shared normalizer snippets:
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


@register(
    "llm_dedup_exact",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=f"""
    SELECT md5({_NORM}) AS digest,
           min(doc_id) AS keeper_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY md5({_NORM})
    """,
    doc="LLM dedup: exact content-digest groupBy (hash-groupBy dedup)",
)
def llm_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(t(spark, sf_dir, "documents"))


@register(
    "llm_fingerprint",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint,
           CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size
    FROM fp
    """,
    doc="LLM text analysis: order-invariant bag-of-words fingerprint + dup-group size",
)
def llm_fingerprint(spark, sf_dir):
    fp = text.fingerprint(t(spark, sf_dir, "documents"))
    w = Window.partitionBy("fingerprint")
    return fp.select("doc_id", "fingerprint", F.count(F.lit(1)).over(w).alias("group_size"))


@register(
    "llm_ngram_topk",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g
      FROM toks, UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS u(g)
    )
    SELECT g AS ngram, CAST(count(*) AS BIGINT) AS doc_freq,
           CAST(row_number() OVER (ORDER BY count(*) DESC, g) AS BIGINT) AS rank
    FROM grams GROUP BY g
    QUALIFY row_number() OVER (ORDER BY count(*) DESC, g) <= 20
    """,
    doc="LLM text analysis: corpus top-20 bigrams by document frequency (vocabulary stats)",
)
def llm_ngram_topk(spark, sf_dir):
    return text.ngram_doc_freq_topk(t(spark, sf_dir, "documents"), n=2, k=20)


@register(
    "llm_token_stats",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH base AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform(toks, x -> CAST(len(x) AS DOUBLE))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS avg_token_len,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS n_bpe_tokens
    FROM base
    """,
    doc="LLM text analysis: whitespace + BPE-ish regex token counting",
)
def llm_token_stats(spark, sf_dir):
    return text.token_stats(t(spark, sf_dir, "documents"))


@register(
    "llm_quality_features",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH base AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
           (CAST(length(text) AS DOUBLE)
              - CAST(length(regexp_replace(text, '[.,!?;:''"-]', '', 'g')) AS DOUBLE))
             / CAST(length(text) AS DOUBLE) AS punct_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
    FROM base
    """,
    doc="LLM text analysis: quality features (length/punct/stopword/distinct ratios)",
)
def llm_quality_features(spark, sf_dir):
    return text.quality_features(t(spark, sf_dir, "documents"))


@register(
    "llm_language_id",
    oracle=f"""
    WITH base AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS DOUBLE) / len(toks) AS score_en,
        CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS DOUBLE) / len(toks) AS score_fr,
        CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS DOUBLE) / len(toks) AS score_de,
        CAST(len(list_filter(toks, x -> x IN ('el','la','y','los'))) AS DOUBLE) / len(toks) AS score_es
      FROM base
    ),
    guessed AS (
      SELECT doc_id, lang,
        CASE
          WHEN greatest(score_en, score_fr, score_de, score_es) <= 0.0 THEN 'und'
          WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
          WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
          WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
          ELSE 'es'
        END AS lang_guess
      FROM scored
    )
    SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
    FROM guessed GROUP BY lang, lang_guess
    """,
    doc="LLM text analysis: marker-token language-ID heuristic, confusion counts",
)
def llm_language_id(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    guessed = text.language_id(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return guessed.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n_docs"))


# shared MinHash-LSH derivation CTEs (candidate generation); reused by the
# candidates query and the candidates→exact-Jaccard verified pipeline
_MH_CTES = f"""
    norm AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       for i in range(1, len(toks) - 1)]) AS shingle
        FROM norm WHERE len(toks) >= 3
      )
    ),
    mh AS (
      SELECT doc_id, h,
             min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
      FROM shingles CROSS JOIN (SELECT unnest(range(0, 8)) AS h) hs
      GROUP BY doc_id, h
    ),
    bands AS (
      SELECT doc_id, CAST(floor(h / 2) AS INT) AS band,
             md5(string_agg(CAST(h AS VARCHAR) || ':' || minhash, '|'
                            ORDER BY CAST(h AS VARCHAR) || ':' || minhash)) AS band_key
      FROM mh GROUP BY doc_id, CAST(floor(h / 2) AS INT)
    )
"""


@register(
    "llm_minhash_lsh",
    oracle=f"""
    WITH {_MH_CTES}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
    """,
    doc="LLM dedup: MinHash(md5)+LSH banding candidate pairs (shingle→minhash→band→bucket join)",
)
def llm_minhash_lsh(spark, sf_dir):
    sh = dedup.word_shingles(t(spark, sf_dir, "documents"), n=3)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    return dedup.lsh_candidate_pairs(sigs, rows_per_band=2)


@register(
    "llm_ngram_jaccard",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    shingles_all AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       for i in range(1, len(toks) - 1)]) AS shingle
        FROM norm WHERE len(toks) >= 3
      )
    ),
    -- df-based pruning (skew guard): drop shingles shared by > 50 docs so a
    -- hot boilerplate shingle cannot fan out quadratically in the blocking
    -- join; sizes and intersections use the same pruned universe
    keep AS (SELECT shingle FROM shingles_all GROUP BY shingle HAVING count(*) <= 50),
    shingles AS (SELECT s.doc_id, s.shingle FROM shingles_all s JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.doc_id
    JOIN sizes sb ON i.id_b = sb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.2
    """,
    doc=(
        "LLM dedup: n-gram Jaccard with shingle-equality blocking join +"
        " df-based hot-shingle pruning (fan-out bounded by cap^2 per shingle)"
    ),
)
def llm_ngram_jaccard(spark, sf_dir):
    sh = dedup.word_shingles(t(spark, sf_dir, "documents"), n=3)
    return dedup.jaccard_pairs(sh, threshold=0.2, max_shingle_df=50)


@register(
    "llm_span_dedup",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    w AS (
      SELECT doc_id, md5(array_to_string(l[i:i+7], ' ')) AS h
      FROM d, unnest(range(1, len(l) - 6)) AS r(i)
      WHERE len(l) >= 8
    ),
    g AS (SELECT h, count(*) AS c FROM w GROUP BY h),
    pd AS (
      SELECT doc_id, count(*) AS nw,
             sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS nd
      FROM w JOIN g USING (h) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(nw, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_windows,
           CASE WHEN nw IS NULL THEN 0.0 ELSE round(nd / nw, 6) END AS dup_fraction
    FROM d LEFT JOIN pd USING (doc_id)
    """,
    doc=(
        "LLM dedup: substring-level duplicated-span fraction (Lee et al. 2022"
        " suffix-array dedup re-shaped as an 8-token window-hash groupBy —"
        " O(total tokens) through every exchange, immune to boilerplate skew)"
    ),
)
def llm_span_dedup(spark, sf_dir):
    return dedup.span_duplicates(t(spark, sf_dir, "documents"), n=8)


@register(
    "llm_span_rewrite",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS l FROM documents WHERE doc_id % 4 = 0
    ),
    w AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(l[i:i+7], ' ')) AS h
      FROM d, unnest(range(1, len(l) - 6)) AS r(i)
      WHERE len(l) >= 8
    ),
    dup AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
    fdoc AS (SELECT h, min(doc_id) AS fdoc FROM w GROUP BY h),
    fpos AS (
      SELECT w.h, fdoc.fdoc, min(w.pos) AS fpos
      FROM w JOIN fdoc ON w.h = fdoc.h AND w.doc_id = fdoc.fdoc
      GROUP BY w.h, fdoc.fdoc
    ),
    flagged AS (
      SELECT w.doc_id, w.pos
      FROM w JOIN dup USING (h) JOIN fpos ON w.h = fpos.h
      WHERE NOT (w.doc_id = fpos.fdoc AND w.pos = fpos.fpos)
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS tp
      FROM flagged, unnest(range(0, 8)) AS r(j)
    ),
    tok AS (
      SELECT doc_id, i - 1 AS tp, l[i] AS tok
      FROM d, unnest(range(1, len(l) + 1)) AS r(i)
    ),
    kept AS (
      SELECT t.doc_id, t.tp, t.tok
      FROM tok t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp
    ),
    reb AS (
      SELECT doc_id, count(*) AS nk,
             string_agg(tok, ' ' ORDER BY tp) AS txt
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(l) AS BIGINT) AS n_tokens,
           CAST(len(l) - coalesce(nk, 0) AS BIGINT) AS n_removed,
           coalesce(txt, '') AS text_deduped
    FROM d LEFT JOIN reb USING (doc_id)
    """,
    doc=(
        "LLM dedup: the REMOVAL half of span dedup (Lee et al. 2022 'except"
        " one') — duplicated 8-token windows cut at every non-canonical"
        " (doc, offset), docs rewritten from the surviving token positions;"
        " certified over the deterministic doc_id%4 slice (the full-corpus"
        " pass is the llm_span_dedup part's measured cost, same exchanges)"
    ),
)
def llm_span_rewrite(spark, sf_dir):
    return dedup.span_dedup_rewrite(
        t(spark, sf_dir, "documents").filter("doc_id % 4 = 0"), n=8
    )


@register(
    "llm_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    th AS (
      SELECT doc_id, CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS th FROM tok
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (th >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bs
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc="LLM dedup: frequency-weighted 16-bit SimHash signature",
)
def llm_simhash(spark, sf_dir):
    return dedup.simhash(t(spark, sf_dir, "documents"), bits=16)


_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS candidate_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.candidate_id,
             round(list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))),
                   6) AS cos_sim
      FROM c CROSS JOIN q
      WHERE c.candidate_id <> q.query_id
    )
    SELECT query_id, candidate_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, candidate_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, candidate_id) <= 3
    """


@register(
    "llm_cosine_topk",
    oracle=_TOPK_ORACLE,
    doc="LLM similarity: brute-force cosine top-k ANN baseline (broadcast query set)",
)
def llm_cosine_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.cosine_topk(emb, queries, k=3)


_MARGIN_COS = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "llm_margin_topk",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, c.vec_id AS candidate_id,
             {_MARGIN_COS.format(a="q.qe", b="c.e")} AS cos_sim
      FROM v c CROSS JOIN q WHERE c.vec_id != q.query_id
    ),
    aq AS (
      SELECT query_id, avg(cos_sim) AS a_q FROM (
        SELECT query_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, candidate_id) AS r
        FROM scored) s WHERE r <= 4 GROUP BY query_id
    ),
    ac AS (
      SELECT candidate_id, avg(cos_sim) AS a_c FROM (
        SELECT candidate_id, cos_sim,
               row_number() OVER (PARTITION BY candidate_id
                                  ORDER BY cos_sim DESC, query_id) AS r
        FROM scored) s WHERE r <= 4 GROUP BY candidate_id
    ),
    fw AS (
      SELECT query_id, candidate_id, cos_sim FROM (
        SELECT scored.*,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, candidate_id) AS r
        FROM scored) s WHERE r <= 3
    ),
    margined AS (
      SELECT fw.query_id, fw.candidate_id, fw.cos_sim,
             round(fw.cos_sim / ((aq.a_q + ac.a_c) / 2.0), 6) AS margin
      FROM fw JOIN aq USING (query_id) JOIN ac USING (candidate_id)
    )
    SELECT query_id, candidate_id, cos_sim, margin,
      CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY margin DESC, candidate_id) AS BIGINT) AS rank
    FROM margined
    """,
    doc=(
        "LLM similarity: margin-based candidate re-ranking (Artetxe &"
        " Schwenk 2019, CCMatrix bitext-mining criterion) — cosine"
        " normalized by both endpoints' k-NN neighborhood means, one"
        " broadcast pair scan feeding both direction's windows"
    ),
)
def llm_margin_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # cardinality known by construction (≤ 8 ids) — vouch instead of
    # paying the guard's eager probe count on every bench/cert build
    return similarity.margin_topk(
        emb, queries, k=3, knn=4, broadcast_queries=True
    )


def _srp_bucket_expr(n_planes: int = 8, var: str = "e") -> str:
    """The SRP bucket id of vector column ``var`` as one SQL expression —
    DuckDB mirror of the plane derivation (operators/similarity.py
    `_srp_signs`/`srp_buckets`): the ±1 sign for (plane p, dim i) is the
    parity of the integer formed by the first 15 hex chars of md5('p:i')
    — i.e. whether the 15th hex digit is odd. DuckDB's 1-based lambda
    index maps to Spark's 0-based sequence via i-1."""
    sign = (
        "CASE WHEN strpos('13579bdf', "
        "substring(md5('{p}:' || CAST(i - 1 AS VARCHAR)), 15, 1)) > 0 "
        "THEN 1.0 ELSE -1.0 END"
    )
    projs = [
        f"list_sum(list_transform({var}, (x, i) -> x * {sign.format(p=p)}))"
        for p in range(n_planes)
    ]
    return " + ".join(
        f"CASE WHEN {proj} > 0 THEN {2 ** p} ELSE 0 END" for p, proj in enumerate(projs)
    )


def _srp_oracle(n_planes: int = 8, min_cos: float = 0.0) -> str:
    """Full SRP bucketed-pairs oracle over the embeddings table (see
    `_srp_bucket_expr` for the plane derivation)."""
    bucket = _srp_bucket_expr(n_planes)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    b AS (SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket FROM v),
    pairs AS (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             round(list_dot_product(a.e, b2.e)
                   / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b2.e, b2.e))),
                   6) AS cos_sim
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {min_cos}
    """


@register(
    "llm_srp_bucket_pairs",
    oracle=_srp_oracle(n_planes=8, min_cos=0.0),
    doc="LLM similarity: SRP-LSH bucketed near-neighbor pairs (scale path for ANN)",
)
def llm_srp_bucket_pairs(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return similarity.bucketed_cosine_pairs(emb, n_planes=8, min_cos=0.0)


@register(
    "llm_binary_payload",
    export=False,  # driver slot held by its family head (pivot_family):
    # demoted in round 12 to free the exported slot corpus_state_family
    # (the time_rollup_family split) takes — the registry holds the line
    # at exactly 50 exported heads
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="Multimodal plumbing: opaque binary column + typed metadata (byte_len, digest)",
)
def llm_binary_payload(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    withmeta = docs.withColumn("byte_len", F.length("payload").cast("long")).withColumn(
        "content_md5", F.md5("payload")
    )
    return withmeta.select("doc_id", "byte_len", "content_md5")


def _media_oracle(dim: int = 8) -> str:
    """DuckDB mirror of multimodal._fake_decode: feature i is byte i of
    md5(payload).digest() / 255 — reconstructed from the md5 hex string
    (byte i = 16*hex[2i] + hex[2i+1]); feat_mean/feat_std are the same
    left-to-right double arithmetic the Python stub runs."""
    hexv = "(strpos('0123456789abcdef', substring(h, {c}, 1)) - 1)"
    feats = [
        f"({hexv.format(c=2 * i + 1)} * 16.0 + {hexv.format(c=2 * i + 2)}) / 255.0"
        for i in range(dim)
    ]
    v = "[" + ", ".join(feats) + "]"
    return f"""
    WITH d AS (
      SELECT doc_id AS media_id, 'image' AS media_type,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
             md5(text) AS h
      FROM documents
    ),
    f AS (SELECT media_id, media_type, byte_len, {v} AS v FROM d)
    SELECT media_id, media_type, byte_len,
           list_sum(v) / {dim} AS feat_mean,
           sqrt(list_sum(list_transform(v,
               x -> (x - list_sum(v) / {dim}) * (x - list_sum(v) / {dim}))) / {dim})
             AS feat_std,
           CAST({dim} AS BIGINT) AS feat_dim
    FROM f
    """


@register(
    "llm_media_features",
    oracle=_media_oracle(dim=8),
    doc="Multimodal: Arrow-batched mapInPandas feature extraction over binary payloads (decode stubbed; md5-arithmetic stub mirrored in SQL)",
)
def llm_media_features(spark, sf_dir):
    from aave_etl_spark.operators import multimodal

    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return multimodal.decode_image_features(docs)


@register(
    "llm_frame_sample",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, (n_chars % 30) + 1 AS duration_s, 24 AS fps
      FROM documents
    ),
    s AS (
      SELECT media_id, fps, duration_s * fps AS nf, i AS sample_pos
      FROM m, unnest(range(0, 4)) AS r(i)
    ),
    f AS (
      SELECT media_id, fps, sample_pos,
             CAST(floor(sample_pos * (nf - 1) / 3.0) AS BIGINT) AS frame_idx
      FROM s
    )
    SELECT media_id,
           CAST(sample_pos AS BIGINT) AS sample_pos,
           frame_idx,
           round(CAST(frame_idx AS DOUBLE) / fps, 6) AS ts_s,
           md5(CAST(media_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR))
             AS frame_digest
    FROM f
    """,
    doc=(
        "Multimodal: fixed-budget uniform video frame sampling — metadata-only"
        " sequence+explode (payloads untouched), m evenly-spaced frame indices"
        " + timestamps + the deterministic digest a decode stage joins on"
    ),
)
def llm_frame_sample(spark, sf_dir):
    from aave_etl_spark.operators import multimodal

    media = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        ((F.col("n_chars") % 30) + 1).alias("duration_s"),
        F.lit(24).alias("fps"),
    )
    return multimodal.uniform_frame_sample(media, m=4)


@register(
    "llm_cosine_near_dup",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                   6) AS cos_sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.35
    """,
    doc=(
        "LLM dedup: embedding-cosine near-duplicate pairs, exact, via block-matrix"
        " products (each row ships once per partner block, not once per pair;"
        " the SRP-bucketed llm_srp_bucket_pairs remains the sub-quadratic path)"
    ),
)
def llm_cosine_near_dup(spark, sf_dir):
    return similarity.blocked_cosine_pairs(t(spark, sf_dir, "embeddings"), threshold=0.35)


_IVF_COS = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


_IVF_ORACLE = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cell_id, e AS ce FROM v WHERE vec_id < 16),
    assigned AS (
      SELECT candidate_id, cell_id, cv FROM (
        SELECT v.vec_id AS candidate_id, v.e AS cv, cent.cell_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_IVF_COS.format(a="v.e", b="cent.ce")} DESC, cent.cell_id) AS rn
        FROM v CROSS JOIN cent)
      WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cell_id, qv FROM (
        SELECT v.vec_id AS query_id, v.e AS qv, cent.cell_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_IVF_COS.format(a="v.e", b="cent.ce")} DESC, cent.cell_id) AS rn
        FROM v CROSS JOIN cent WHERE v.vec_id < 8)
      WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.candidate_id,
             {_IVF_COS.format(a="p.qv", b="a.cv")} AS cos_sim
      FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.candidate_id <> p.query_id
    )
    SELECT query_id, candidate_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, candidate_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, candidate_id) <= 3
    """


@register(
    "llm_ivf_topk",
    oracle=_IVF_ORACLE,
    doc=(
        "LLM similarity: IVF-flat approximate top-k — deterministic coarse"
        " quantizer (first-16 centroids; k-means slots into the same plan),"
        " broadcast centroid assignment (no shuffle over the corpus),"
        " 4-probe cell join, per-query top-3. The hash-gated scale path"
        " complementing the exact llm_cosine_topk baseline"
    ),
)
def llm_ivf_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.ivf_topk(emb, queries, k=3, n_cells=16, n_probe=4)


@register(
    "llm_ann_recall",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH truth AS ({_TOPK_ORACLE}),
    approx AS ({_IVF_ORACLE}),
    hits AS (
      SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM truth t JOIN approx a
        ON t.query_id = a.query_id AND t.candidate_id = a.candidate_id
      GROUP BY t.query_id
    ),
    q AS (SELECT DISTINCT query_id FROM truth)
    SELECT q.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 3.0, 6) AS recall_at_3
    FROM q LEFT JOIN hits h USING (query_id)
    """,
    doc=(
        "LLM similarity: ANN index-quality measurement — per-query recall@3"
        " of the IVF multi-probe index against the brute-force ground truth"
        " (the join every index rollout gates on before swapping paths)"
    ),
)
def llm_ann_recall(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    truth = similarity.cosine_topk(emb, queries, k=3).select("query_id", "candidate_id")
    approx = similarity.ivf_topk(emb, queries, k=3, n_cells=16, n_probe=4).select(
        "query_id", "candidate_id"
    )
    hits = (
        truth.join(approx, ["query_id", "candidate_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    qs = truth.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("_h", F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(F.col("_h").cast("double"), F.lit(0.0)) / F.lit(3.0), 6).alias(
            "recall_at_3"
        ),
    )


@register(
    "llm_semantic_dedup",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cell_id, e AS ce FROM v WHERE vec_id < 16),
    assigned AS (
      SELECT vec_id, cell_id, e FROM (
        SELECT v.vec_id, v.e, cent.cell_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_IVF_COS.format(a="v.e", b="cent.ce")} DESC, cent.cell_id) AS rn
        FROM v CROSS JOIN cent)
      WHERE rn = 1
    ),
    sizes AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n_cell
              FROM assigned GROUP BY cell_id),
    -- cell_cap sub-split twin (similarity.py semantic_dedup): parts =
    -- ceil(n/1024), sub = md5(id) hex prefix mod parts (1 part below cap)
    parted AS (
      SELECT a.vec_id, a.cell_id, a.e, s.n_cell,
             CAST(('0x' || substring(md5(CAST(a.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % GREATEST(CAST(1 AS BIGINT), CAST(ceil(s.n_cell / 1024.0) AS BIGINT))
               AS sub_cell
      FROM assigned a JOIN sizes s USING (cell_id)
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_IVF_COS.format(a="a.e", b="b.e")} AS cos_sim
      FROM parted a JOIN parted b
        ON a.cell_id = b.cell_id AND a.sub_cell = b.sub_cell
       AND a.vec_id < b.vec_id
    ),
    dropped AS (SELECT DISTINCT id_b FROM pairs WHERE cos_sim >= 0.35)
    SELECT a.vec_id, a.cell_id, a.n_cell, (d.id_b IS NULL) AS kept
    FROM parted a
    LEFT JOIN dropped d ON a.vec_id = d.id_b
    """,
    doc=(
        "LLM dedup: SemDeDup semantic near-dup pruning — broadcast-argmax"
        " cluster assignment (map-only over the corpus), within-cell exact"
        " cosine pairs, drop-if-similar-to-any-smaller-id keeper rule"
    ),
)
def llm_semantic_dedup(spark, sf_dir):
    return similarity.semantic_dedup(
        t(spark, sf_dir, "embeddings"), eps=0.35, n_cells=16
    )


@register(
    "llm_embed_quantize",
    export=False,  # driver slot held by its family head (emb_quantize_family)
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    s AS (
      SELECT vec_id, e,
             CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS qscale
      FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v)
    ),
    q AS (
      SELECT vec_id, e, qscale,
             list_transform(e, x -> round(x * qscale, 0)) AS qv
      FROM s
    ),
    err AS (
      SELECT vec_id, qscale,
             list_transform(range(1, len(e) + 1),
                            i -> abs(e[i] - CASE WHEN qscale > 0 THEN qv[i] / qscale ELSE 0.0 END)) AS errs
      FROM q
    )
    SELECT vec_id, round(qscale, 6) AS qscale,
           round(list_max(errs), 6) AS max_abs_err,
           round(list_sum(errs) / len(errs), 6) AS mean_abs_err
    FROM err
    """,
    doc=(
        "LLM similarity: symmetric int8 embedding quantization with per-vector"
        " dequantization scale; the query gates the round-trip reconstruction"
        " error (max/mean abs) per vector"
    ),
)
def llm_embed_quantize(spark, sf_dir):
    q = similarity.quantize_embeddings(t(spark, sf_dir, "embeddings"))
    deq = F.zip_with(
        F.col("embedding"),
        F.col("qvec"),
        lambda x, v: F.abs(
            x.cast("double")
            - F.when(F.col("qscale") > 0, v.cast("double") / F.col("qscale")).otherwise(
                F.lit(0.0)
            )
        ),
    )
    withe = q.select("vec_id", "qscale", deq.alias("errs"))
    return withe.select(
        "vec_id",
        F.round(F.col("qscale"), 6).alias("qscale"),
        F.round(F.array_max("errs"), 6).alias("max_abs_err"),
        F.round(
            F.aggregate(F.col("errs"), F.lit(0.0), lambda acc, x: acc + x)
            / F.size("errs"),
            6,
        ).alias("mean_abs_err"),
    )


@register(
    "llm_kmv_distinct",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle="""
    WITH h AS (SELECT DISTINCT lang, md5(text) AS h FROM documents),
    rn AS (SELECT lang, h,
                  row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
           FROM h),
    kth AS (
      SELECT lang,
             15 / (CAST('0x' || substring(h, 1, 15) AS BIGINT)
                   / 1152921504606846976.0) AS est
      FROM rn WHERE rn = 16
    ),
    exact AS (SELECT lang, CAST(count(*) AS BIGINT) AS exact_distinct
              FROM h GROUP BY lang)
    SELECT e.lang,
           round(coalesce(k.est, CAST(e.exact_distinct AS DOUBLE)), 6)
             AS est_distinct,
           e.exact_distinct
    FROM exact e LEFT JOIN kth k USING (lang)
    """,
    doc=(
        "LLM corpus stats: KMV (k-minimum-values) distinct-text sketch per"
        " language — deterministic md5 bottom-k estimator, bit-identical on"
        " both engines, exact below k (operators/sketch.py)"
    ),
)
def llm_kmv_distinct(spark, sf_dir):
    from aave_etl_spark.operators.sketch import kmv_distinct

    return kmv_distinct(t(spark, sf_dir, "documents"), ["lang"], "text", k=16)


# Shared by the in-flight KMV rollup (llm_kmv_merge) and its at-rest twin
# (llm_kmv_atrest): the store hop changes no values, so one oracle
# certifies both — the llm_hh_atrest pattern applied to the distinct-count
# sketch.
_KMV_MERGE_ORACLE = """
    WITH h AS (SELECT DISTINCT lang, source, md5(text) AS h FROM documents),
    topk AS (
      SELECT lang, source, h FROM (
        SELECT lang, source, h,
               row_number() OVER (PARTITION BY lang, source ORDER BY h) AS rn
        FROM h) WHERE rn <= 16
    ),
    u AS (SELECT DISTINCT lang, h FROM topk),
    kth AS (
      SELECT lang,
             15 / (CAST('0x' || substring(h, 1, 15) AS BIGINT)
                   / 1152921504606846976.0) AS est
      FROM (SELECT lang, h,
                   row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
            FROM u) WHERE rn = 16
    ),
    n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY lang)
    SELECT n.lang,
           round(coalesce(k.est, CAST(n.n AS DOUBLE)), 6) AS est_distinct
    FROM n LEFT JOIN kth k USING (lang)
    """


def _kmv_fine_sketches(spark, sf_dir):
    """The per-(lang, source) KMV states both rollup twins build."""
    from aave_etl_spark.operators.sketch import kmv_sketch_by_group

    return kmv_sketch_by_group(
        t(spark, sf_dir, "documents"), ["lang", "source"], "text", k=16
    )


@register(
    "llm_kmv_merge",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_KMV_MERGE_ORACLE,
    doc=(
        "LLM corpus stats: MERGEABLE KMV — per-(lang, source) bottom-k"
        " sketches union up to per-lang estimates (k-min of a union lives"
        " inside the per-part k-mins, so merge == direct EXACTLY); the"
        " engine-portable pre-aggregated-sketch-table pattern: store"
        " per-slice sketches once, answer any coarser distinct-count"
        " rollup from kilobyte states without rescanning the corpus"
    ),
)
def llm_kmv_merge(spark, sf_dir):
    from aave_etl_spark.operators.sketch import kmv_merge_estimate

    return kmv_merge_estimate(_kmv_fine_sketches(spark, sf_dir), ["lang"], k=16)


@register(
    "llm_kmv_atrest",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_KMV_MERGE_ORACLE,  # identical output contract to llm_kmv_merge
    doc=(
        "LLM corpus stats: the AT-REST KMV rollup — per-(lang, source)"
        " bottom-k states PERSISTED through the TableStore (build-once/"
        "roll-many, completion-marker discipline) and the distinct-count"
        " merge reads the stored kilobyte states, never the corpus;"
        " results identical to the in-flight llm_kmv_merge by construction"
        " — the store hop proven value-neutral under the shared oracle"
    ),
)
def llm_kmv_atrest(spark, sf_dir):
    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.sketch import kmv_merge_estimate

    store = TableStore(
        spark, session_scratch_dir(spark, "aave_etl_spark_kmv", corpus_key(sf_dir))
    )
    if not (store.is_complete("kmv_day") and store.exists("kmv_day")):
        store.clear_complete("kmv_day")
        if not store.write(_kmv_fine_sketches(spark, sf_dir), "kmv_day"):
            # empty corpus → write() lands nothing: serve the in-flight
            # twin's (empty) result rather than stamping a marker for a
            # table that does not exist
            return kmv_merge_estimate(_kmv_fine_sketches(spark, sf_dir), ["lang"], k=16)
        store.mark_complete("kmv_day")
    return kmv_merge_estimate(store.read("kmv_day"), ["lang"], k=16)


# Shared by the in-flight rollup (llm_topk_merge) and its at-rest twin
# (llm_hh_atrest): the store hop changes no values, so one oracle
# certifies both — any divergence is a storage bug, exactly what the
# at-rest certification exists to catch.
_TOPK_MERGE_ORACLE = f"""
    WITH tok AS (
      SELECT lang, doc_id % 4 AS shard, unnest({_TOKS}) AS w FROM documents
    ),
    cnt AS (
      SELECT lang, shard, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT lang, shard, w, c,
             row_number() OVER (PARTITION BY lang, shard
                                ORDER BY c DESC, w) AS rn
      FROM cnt
    ),
    parts AS (
      SELECT lang, shard,
             coalesce(max(CASE WHEN rn > 16 THEN c END), 0) AS rest_max
      FROM ranked GROUP BY 1, 2
    ),
    tot AS (SELECT lang, sum(rest_max) AS all_rest FROM parts GROUP BY 1),
    pv AS (
      SELECT k.lang, k.w AS value,
             CAST(sum(k.c) AS BIGINT) AS count_lb,
             sum(p.rest_max) AS present_rest
      FROM ranked k
      JOIN parts p ON p.lang = k.lang AND p.shard = k.shard
      WHERE k.rn <= 16
      GROUP BY 1, 2
    ),
    b AS (
      SELECT pv.lang, pv.value, pv.count_lb,
             CAST(pv.count_lb + t.all_rest - pv.present_rest AS BIGINT)
               AS count_ub
      FROM pv JOIN tot t ON t.lang = pv.lang
    )
    SELECT lang, value, count_lb, count_ub,
           (count_ub = count_lb) AS exact,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY count_lb DESC, value) AS BIGINT)
             AS rank
    FROM b
    QUALIFY row_number() OVER (PARTITION BY lang
                               ORDER BY count_lb DESC, value) <= 5
    """


def _hh_fine_sketches(spark, sf_dir):
    """The per-(lang, shard) word summaries both rollup twins build."""
    from aave_etl_spark.operators.sketch import topk_sketch_by_group

    docs = t(spark, sf_dir, "documents").withColumn("shard", F.col("doc_id") % 4)
    toks = docs.select("lang", "shard", F.explode(text.tokens("text")).alias("w"))
    return topk_sketch_by_group(toks, ["lang", "shard"], "w", m=16)


@register(
    "llm_topk_merge",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_TOPK_MERGE_ORACLE,
    doc=(
        "LLM corpus stats: MERGEABLE heavy hitters — per-(lang, shard)"
        " exact top-16 word counts with a rest_max undercount bound"
        " (deterministic, unlike arrival-order Misra-Gries), pooled to"
        " per-lang top-5 with honest [lb, ub] bounds; values present in"
        " every part come back EXACT — store per-slice summaries once,"
        " answer any coarser top-k from m-row states"
    ),
)
def llm_topk_merge(spark, sf_dir):
    from aave_etl_spark.operators.sketch import topk_merge

    return topk_merge(_hh_fine_sketches(spark, sf_dir), ["lang"], k=5)


@register(
    "llm_hh_atrest",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_TOPK_MERGE_ORACLE,  # identical output contract to llm_topk_merge
    doc=(
        "LLM corpus stats: the AT-REST heavy-hitters rollup — the"
        " per-(lang, shard) summaries are PERSISTED through the TableStore"
        " (build-once/roll-many, completion-marker discipline) and the"
        " top-k merge reads the stored m-row states, never the corpus;"
        " results identical to the in-flight llm_topk_merge by"
        " construction — the store-once/roll-anywhere sketch-table shape"
        " at driver certification"
    ),
)
def llm_hh_atrest(spark, sf_dir):
    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.sketch import topk_merge

    store = TableStore(
        spark, session_scratch_dir(spark, "aave_etl_spark_hh", corpus_key(sf_dir))
    )
    if not (store.is_complete("hh_day") and store.exists("hh_day")):
        store.clear_complete("hh_day")
        if not store.write(_hh_fine_sketches(spark, sf_dir), "hh_day"):
            # empty corpus → write() lands nothing: serve the in-flight
            # twin's (empty) result rather than stamping a marker for a
            # table that does not exist
            return topk_merge(_hh_fine_sketches(spark, sf_dir), ["lang"], k=5)
        store.mark_complete("hh_day")
    return topk_merge(store.read("hh_day"), ["lang"], k=5)


# Shared by the in-flight row-sample quantile rollup and its at-rest twin
# (llm_rsq_atrest): one oracle, the store hop changes no values.
_RSQ_ORACLE = """
    WITH h AS (
      SELECT lang, doc_id % 4 AS shard,
             md5('rsq:' || CAST(doc_id AS VARCHAR)) AS _h,
             CAST(n_chars AS DOUBLE) AS _v
      FROM documents
    ),
    part AS (
      SELECT lang, shard, _h, _v FROM (
        SELECT lang, shard, _h, _v,
               row_number() OVER (PARTITION BY lang, shard ORDER BY _h) AS rn
        FROM h) WHERE rn <= 16
    ),
    pooled AS (
      SELECT lang, _h, _v FROM (
        SELECT lang, _h, _v,
               row_number() OVER (PARTITION BY lang ORDER BY _h) AS rn
        FROM part) WHERE rn <= 16
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sample,
           round(quantile_cont(_v, 0.5), 6) AS p50,
           round(quantile_cont(_v, 0.9), 6) AS p90
    FROM pooled GROUP BY lang
    """


def _rsq_fine_sketches(spark, sf_dir):
    """The per-(lang, shard) row-sample states both rollup twins build."""
    from aave_etl_spark.operators.sketch import rowsample_sketch_by_group

    docs = t(spark, sf_dir, "documents").withColumn("shard", F.col("doc_id") % 4)
    return rowsample_sketch_by_group(docs, ["lang", "shard"], "doc_id", "n_chars", k=16)


@register(
    "llm_rowsample_quantiles",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_RSQ_ORACLE,
    doc=(
        "LLM corpus stats: MERGEABLE row-sample QUANTILE sketch — the"
        " percentile counterpart of the KMV distinct pair: per-(lang,"
        " shard) bottom-k uniform row samples by deterministic id hash,"
        " pooled to per-lang by re-taking the bottom-k of the union"
        " (merge == direct EXACTLY), quantiles interpolated from the"
        " pooled sample; store per-slice samples once, answer any coarser"
        " percentile rollup from k-row states without rescanning raw data"
    ),
)
def llm_rowsample_quantiles(spark, sf_dir):
    from aave_etl_spark.operators.sketch import rowsample_merge_quantiles

    return rowsample_merge_quantiles(
        _rsq_fine_sketches(spark, sf_dir), ["lang"], qs=(0.5, 0.9), k=16
    )


@register(
    "llm_rsq_atrest",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_RSQ_ORACLE,  # identical output contract to llm_rowsample_quantiles
    doc=(
        "LLM corpus stats: the AT-REST row-sample quantile rollup —"
        " per-(lang, shard) bottom-k sample states PERSISTED through the"
        " TableStore (build-once/roll-many, completion-marker discipline)"
        " and the percentile merge reads the stored k-row states, never"
        " the corpus; results identical to the in-flight twin by"
        " construction — store hop proven value-neutral, shared oracle"
    ),
)
def llm_rsq_atrest(spark, sf_dir):
    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.sketch import rowsample_merge_quantiles

    store = TableStore(
        spark, session_scratch_dir(spark, "aave_etl_spark_rsq", corpus_key(sf_dir))
    )
    if not (store.is_complete("rsq_day") and store.exists("rsq_day")):
        store.clear_complete("rsq_day")
        if not store.write(_rsq_fine_sketches(spark, sf_dir), "rsq_day"):
            return rowsample_merge_quantiles(
                _rsq_fine_sketches(spark, sf_dir), ["lang"], qs=(0.5, 0.9), k=16
            )
        store.mark_complete("rsq_day")
    return rowsample_merge_quantiles(
        store.read("rsq_day"), ["lang"], qs=(0.5, 0.9), k=16
    )


@register(
    "llm_lsh_verified_dups",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH {_MH_CTES},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN shingles a ON a.doc_id = c.id_a
      JOIN shingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.id_a = sa.doc_id
    JOIN sizes sb ON i.id_b = sb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
    """,
    doc=(
        "LLM dedup PIPELINE: MinHash-LSH candidates verified by exact"
        " Jaccard restricted to the candidate set (operators/dedup.py"
        " jaccard_verify) — the two-stage composition a 100 TB dedup runs"
    ),
)
def llm_lsh_verified_dups(spark, sf_dir):
    # consumed 4x (signature chain + verify's sizes/a/b sides): cut the
    # lineage so tokenize+shingle runs once, not four times (guide §5)
    sh = dedup.word_shingles(t(spark, sf_dir, "documents"), n=3).localCheckpoint(
        eager=False
    )
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(sigs, rows_per_band=2)
    return dedup.jaccard_verify(sh, cand, threshold=0.5)


@register(
    "llm_repetition",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    big AS (
      SELECT doc_id,
             [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS grams
      FROM base WHERE len(toks) >= 2
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_bigrams,
           1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
             AS repetition_ratio
    FROM big
    """,
    doc=(
        "LLM quality: Gopher-style within-doc repetition signal"
        " (duplicate-bigram fraction); narrow map, no shuffle"
    ),
)
def llm_repetition(spark, sf_dir):
    return text.repetition_stats(t(spark, sf_dir, "documents"))


@register(
    "llm_doc_chunks",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    w AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
      FROM base WHERE len(toks) > 0
    ),
    c AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM w)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, i*24 + 1, i*24 + 32)) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ')) AS chunk_md5
    FROM c
    """,
    doc=(
        "LLM pipeline: sliding-window context chunking (32-token chunks,"
        " 8-token overlap); one explode, chunk volume linear in tokens"
    ),
)
def llm_doc_chunks(spark, sf_dir):
    return text.chunk_documents(t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8)


@register(
    "llm_dedup_cluster",
    export=False,  # driver slot held by its family head (collect_family)
    oracle=f"""
    WITH RECURSIVE {_MH_CTES},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN shingles a ON a.doc_id = c.id_a
      JOIN shingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    ),
    dup AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.doc_id
      JOIN sizes sb ON i.id_b = sb.doc_id
      WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
    ),
    sym AS (SELECT id_a AS a, id_b AS b FROM dup
            UNION ALL SELECT id_b AS a, id_a AS b FROM dup),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT s.b AS node, r.lbl FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
           CAST(CASE WHEN doc_id = component THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
    FROM comp
    """,
    doc=(
        "LLM dedup PIPELINE, final stage: LSH candidates → exact-Jaccard"
        " verify → connected components (min-label propagation + pointer"
        " jumping, operators/graph.py) → cluster table with the canonical"
        " keeper per transitively-connected dup group. The oracle computes"
        " the same min-reachable-id labels with a recursive CTE"
    ),
)
def llm_dedup_cluster(spark, sf_dir):
    from aave_etl_spark.operators.graph import dedup_clusters

    docs = t(spark, sf_dir, "documents")
    # consumed 4x (signature chain + verify's sizes/a/b sides): cut the
    # lineage so tokenize+shingle runs once, not four times (guide §5)
    sh = dedup.word_shingles(docs, n=3).localCheckpoint(eager=False)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(sigs, rows_per_band=2)
    dups = dedup.jaccard_verify(sh, cand, threshold=0.5)
    return dedup_clusters(dups.select("id_a", "id_b"), docs.select("doc_id"))


# uniform-hash score shared by the sampling oracles (operators/sampling.py
# uniform_hash): first 15 hex chars of md5(salt || ':' || id) / 16^15
_UHASH = (
    "CAST('0x' || substring(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 15)"
    " AS BIGINT) / 1152921504606846976.0"
)


@register(
    "llm_stratified_sample",
    export=False,  # driver slot held by its family head (union_family)
    oracle=f"""
    WITH r AS (
      SELECT lang, doc_id,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY {_UHASH.format(salt="sample")}, doc_id) AS BIGINT) AS sample_rank
      FROM documents
    )
    SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 5
    """,
    doc=(
        "LLM curation: deterministic stratified exact-k sampling — the k"
        " docs with the smallest md5-hash scores per language (reservoir"
        " sampling made reproducible and engine-portable); WindowGroupLimit"
        " bounds the shuffle at k rows per map partition"
    ),
)
def llm_stratified_sample(spark, sf_dir):
    from aave_etl_spark.operators.sampling import stratified_exact_k

    docs = t(spark, sf_dir, "documents").select("lang", "doc_id")
    return stratified_exact_k(docs, ["lang"], k=5).select("lang", "doc_id", "sample_rank")


@register(
    "llm_train_test_split",
    export=False,  # driver slot held by its family head (union_family)
    oracle=f"""
    WITH s AS (
      SELECT lang,
             CASE WHEN {_UHASH.format(salt="split")} < 0.2
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY lang, split
    """,
    doc=(
        "LLM curation: deterministic hash train/test split — a doc's"
        " assignment is a pure function of its id, so eval membership is"
        " stable as the corpus grows (no contamination across versions);"
        " narrow map + one count agg"
    ),
)
def llm_train_test_split(spark, sf_dir):
    from aave_etl_spark.operators.sampling import hash_split

    docs = t(spark, sf_dir, "documents")
    return hash_split(docs, test_frac=0.2).groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "llm_scrub_pii",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, n_urls,
             len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
      FROM s
    )
    SELECT doc_id,
           CAST(n_urls AS BIGINT) AS n_urls,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t2, '[0-9]{6,}')) AS BIGINT) AS n_long_nums,
           md5(regexp_replace(t2, '[0-9]{6,}', '<NUM>', 'g')) AS clean_md5
    FROM s2
    """,
    doc=(
        "LLM curation: PII/URL scrubbing pass — URLs, emails, long digit"
        " runs replaced by typed placeholders with per-doc counts; pure"
        " regexp narrow map, the first pass every pretraining corpus runs"
    ),
)
def llm_scrub_pii(spark, sf_dir):
    return text.scrub_pii(t(spark, sf_dir, "documents"))


@register(
    "llm_bm25_topk",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    sc AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    scored AS (
      SELECT t.doc_id, t.term, t.tf,
             round(ln(1.0 + ((sc.n_docs - d.df) + 0.5) / (d.df + 0.5))
                   * ((CAST(t.tf AS DOUBLE) * 2.2)
                      / (CAST(t.tf AS DOUBLE)
                         + 1.2 * (0.25 + ((0.75 * CAST(l.dl AS DOUBLE)) / sc.avgdl)))),
                   6) AS bm25
      FROM tf t JOIN dl l USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN sc
    ),
    r AS (
      SELECT doc_id, term, tf, bm25,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY bm25 DESC, term) AS BIGINT) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, bm25, rank FROM r WHERE rank <= 3
    """,
    doc=(
        "LLM retrieval: per-doc top-3 BM25 terms — corpus scalars (N,"
        " avgdl) broadcast from a 1-row agg, vocabulary-keyed df join,"
        " WindowGroupLimit-capped per-doc top-k; scores rounded 6dp for"
        " engine-reproducible ranks"
    ),
)
def llm_bm25_topk(spark, sf_dir):
    # rank over the session's at-rest postings store (shared with the
    # index-search / capped / stop-term consumers) instead of re-running
    # the tokenize→tf→df→weight corpus pass per call: the stored table IS
    # bm25_postings' output (weights included, 6dp-rounded), so the ranks
    # are value-identical by construction — the bm25-trio store-prefix
    # sharing the r13 verdict prescribed (guide §5/§6); the (k1, b) the
    # oracle scores with are checked against the index's params sidecar
    store, tbl, _docs = _bm25_index_store(spark, sf_dir)
    return text.bm25_topk_from_postings(text.bm25_index_postings(store, tbl), k=3)


# The sparse-retrieval arm's CTE chain, shared verbatim by the in-flight
# hybrid fusion and the at-rest index search (which must score identically
# by construction): corpus postings with 6dp BM25 weights, query docs'
# distinct terms (qtf=1 query model), summed per-(query, candidate).
_BM25_SPARSE_CTES = f"""tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    sc AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    post AS (
      SELECT t.doc_id, t.term, d.df,
             round(ln(1.0 + ((sc.n_docs - d.df) + 0.5) / (d.df + 0.5))
                   * ((CAST(t.tf AS DOUBLE) * 2.2)
                      / (CAST(t.tf AS DOUBLE)
                         + 1.2 * (0.25 + ((0.75 * CAST(l.dl AS DOUBLE)) / sc.avgdl)))),
                   6) AS bm25
      FROM tf t JOIN dl l USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN sc
    ),
    qterms AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest({_TOKS}) AS term
        FROM documents WHERE doc_id < 8
      )
    ),
    sarm AS (
      SELECT q.query_id, p.doc_id AS candidate_id,
             round(sum(p.bm25), 6) AS bm25_score
      FROM post p JOIN qterms q USING (term)
      WHERE p.doc_id <> q.query_id
      GROUP BY q.query_id, p.doc_id
    )"""


# The RRF fusion oracle fragments, shared VERBATIM by the in-flight
# hybrid (llm_hybrid_rrf) and the at-rest composition
# (llm_hybrid_rrf_atrest): the sparse-arm top-10 rank over `sarm`, and
# the k0=60 reciprocal-rank full-outer fusion + final top-5 over a `dr`
# CTE each query supplies. One copy — the certified twins cannot drift.
_RRF_SR_CTE = """sr AS (
      SELECT query_id, candidate_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY bm25_score DESC, candidate_id) AS r
      FROM sarm
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY bm25_score DESC, candidate_id) <= 10
    )"""

_RRF_FUSE_TAIL = """fused AS (
      SELECT coalesce(dr.query_id, sr.query_id) AS query_id,
             coalesce(dr.candidate_id, sr.candidate_id) AS candidate_id,
             round(coalesce(1.0 / (60 + dr.r), 0.0)
                   + coalesce(1.0 / (60 + sr.r), 0.0), 6) AS rrf_score
      FROM dr FULL OUTER JOIN sr
        ON dr.query_id = sr.query_id AND dr.candidate_id = sr.candidate_id
    )
    SELECT query_id, candidate_id, rrf_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, candidate_id) AS BIGINT) AS rank
    FROM fused
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, candidate_id) <= 5
    """


@register(
    "llm_hybrid_rrf",
    export=False,  # driver slot held by its family head (semi_anti_family)
    oracle=f"""
    WITH {_BM25_SPARSE_CTES},
    {_RRF_SR_CTE},
    dq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 8),
    dc AS (SELECT vec_id AS candidate_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    dscored AS (
      SELECT dq.query_id, dc.candidate_id,
             round(list_dot_product(dq.qv, dc.cv)
                   / (sqrt(list_dot_product(dq.qv, dq.qv)) * sqrt(list_dot_product(dc.cv, dc.cv))),
                   6) AS cos_sim
      FROM dc CROSS JOIN dq
      WHERE dc.candidate_id <> dq.query_id
    ),
    dr AS (
      SELECT query_id, candidate_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, candidate_id) AS r
      FROM dscored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, candidate_id) <= 10
    ),
    {_RRF_FUSE_TAIL}""",
    doc=(
        "LLM retrieval: HYBRID dense+sparse fusion — BM25 query-terms"
        " probe the corpus postings (broadcast query-term set, map-side"
        " join on term) and cosine top-k over embeddings (vec_id == doc_id"
        " correspondence); the two per-query top-10 arms fuse by"
        " reciprocal-rank (Cormack 2009, k0=60) into a top-5 — the"
        " calibration-free hybrid retrieval every RAG/hard-negative-mining"
        " pipeline runs; all scale stays inside the arms, the fusion join"
        " is |queries|-bounded"
    ),
)
def llm_hybrid_rrf(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    dense = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=10)
    # the sparse arm probes the session's shared at-rest postings store
    # (scores identical to the in-flight bm25_retrieve by construction —
    # the stored weights ARE bm25_postings' output, certified by the
    # common oracle) instead of re-running the tokenize→tf→df→weight
    # corpus pass inside this head: the rrf/rrf_atrest store-prefix
    # sharing the r13 verdict prescribed (guide §5/§6). The two parts
    # stay distinct in their DENSE arms (exact cosine vs at-rest IVF-PQ).
    sparse = _bm25_index_arm(spark, sf_dir, k=10)
    return similarity.rrf_fuse(dense, sparse, k=5)


@register(
    "llm_knn_classify",
    export=False,  # driver slot held by its family head (collect_family)
    oracle="""
    WITH dq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 8),
    dc AS (SELECT vec_id AS candidate_id, label,
                  CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT dq.query_id, dc.candidate_id, dc.label,
             round(list_dot_product(dq.qv, dc.cv)
                   / (sqrt(list_dot_product(dq.qv, dq.qv))
                      * sqrt(list_dot_product(dc.cv, dc.cv))), 6) AS cos_sim
      FROM dc CROSS JOIN dq
      WHERE dc.candidate_id <> dq.query_id
    ),
    nn AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, candidate_id) AS r
        FROM scored) WHERE r <= 5
    ),
    votes AS (
      SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_votes
      FROM nn GROUP BY 1, 2
    )
    SELECT query_id, label AS pred_label, n_votes FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label ASC) AS rn
      FROM votes) WHERE rn = 1
    """,
    doc=(
        "LLM curation: k-NN majority-vote label propagation over the"
        " embedding column (cosine top-5 neighbors vote, ties to the"
        " smallest label) — the model-free quality/domain classifier"
        " pattern; vote aggregation is |queries|x k rows regardless of"
        " corpus size"
    ),
)
def llm_knn_classify(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return similarity.knn_classify(emb, emb.filter(F.col("vec_id") < 8), k=5)


@register(
    "llm_bm25_index_search",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH {_BM25_SPARSE_CTES}
    SELECT query_id, candidate_id, bm25_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY bm25_score DESC, candidate_id) AS BIGINT) AS rank
    FROM sarm
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY bm25_score DESC, candidate_id) <= 10
    """,
    doc=(
        "LLM retrieval at scale: BM25 search against an AT-REST"
        " term-bucketed inverted index (build-once/search-many; the"
        " corpus text is never re-scanned at query time, large query"
        " batches join the postings exchange-free) — identical scores to"
        " the in-flight bm25_retrieve by construction"
    ),
)
def llm_bm25_index_search(spark, sf_dir):
    return _bm25_index_arm(spark, sf_dir, k=10)


@register(
    "llm_bm25_capped",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=f"""
    WITH {_BM25_SPARSE_CTES},
    capped AS (
      SELECT q.query_id, p.doc_id AS candidate_id,
             round(sum(p.bm25), 6) AS bm25_score
      FROM post p JOIN qterms q USING (term)
      WHERE p.doc_id <> q.query_id AND p.df <= 300
      GROUP BY q.query_id, p.doc_id
    )
    SELECT query_id, candidate_id, bm25_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY bm25_score DESC, candidate_id) AS BIGINT) AS rank
    FROM capped
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY bm25_score DESC, candidate_id) <= 10
    """,
    doc=(
        "LLM retrieval: BM25 search with a max_df STOP-TERM cap against"
        " the at-rest postings index — terms in more than 300 docs are"
        " excluded from scoring by a predicate ON THE POSTINGS SCAN"
        " (pushed down to the parquet footers: hot-term row groups are"
        " skipped, never read), the standard lossy stop-term handling"
        " that bounds a stop-word query's join at |postings(df<=cap)|"
        " instead of ~|corpus|"
    ),
)
def llm_bm25_capped(spark, sf_dir):
    return _bm25_index_arm(spark, sf_dir, k=10, max_df=300)


def _bm25_index_store(spark, sf_dir):
    """The session's at-rest BM25 index for this corpus, built once
    (marker stamped LAST; interrupted builds rebuild on the next call).
    Returns (store, tbl, docs) — shared by every at-rest sparse consumer
    on the same corpus (plain search, capped search, hybrid fusion,
    stop-term discovery), so the build cost is paid once per session."""
    import re as re_mod

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore

    ck = corpus_key(sf_dir)
    store = TableStore(
        spark, session_scratch_dir(spark, "aave_etl_spark_bm25idx", ck)
    )
    tbl = "bm25_post_idx_" + re_mod.sub(r"[^0-9a-zA-Z]+", "_", ck)
    docs = t(spark, sf_dir, "documents")
    if not (store.is_complete(tbl) and store.exists(tbl)):
        store.clear_complete(tbl)
        text.bm25_index_build(store, docs, tbl)
        store.mark_complete(tbl)
    return store, tbl, docs


def _bm25_index_arm(spark, sf_dir, k, max_df=None):
    """The at-rest sparse arm: build-once/search-many against the
    term-bucketed postings index."""
    store, tbl, docs = _bm25_index_store(spark, sf_dir)
    return text.bm25_index_search(
        store, docs.filter(F.col("doc_id") < 8), tbl, k=k, max_df=max_df
    )


# Shared by the in-flight stop-term discovery (llm_bm25_stopterms) and
# its at-rest twin (llm_bm25_stopterms_atrest): the HH-state store hop
# changes no values, so one oracle certifies both.
_BM25_STOPTERMS_ORACLE = f"""
    WITH {_BM25_SPARSE_CTES},
    hhcnt AS (
      SELECT doc_id % 4 AS shard, term, CAST(count(*) AS BIGINT) AS c
      FROM tf GROUP BY 1, 2
    ),
    hhrk AS (
      SELECT shard, term, c,
             row_number() OVER (PARTITION BY shard ORDER BY c DESC, term) AS rn
      FROM hhcnt
    ),
    hhparts AS (
      SELECT shard, coalesce(max(CASE WHEN rn > 16 THEN c END), 0) AS rest_max
      FROM hhrk GROUP BY 1
    ),
    hhtot AS (SELECT sum(rest_max) AS all_rest FROM hhparts),
    hhpv AS (
      SELECT k.term, CAST(sum(k.c) AS BIGINT) AS count_lb,
             sum(p.rest_max) AS present_rest
      FROM hhrk k JOIN hhparts p ON p.shard = k.shard
      WHERE k.rn <= 16 GROUP BY 1
    ),
    hhb AS (
      SELECT pv.term, pv.count_lb,
             CAST(pv.count_lb + t.all_rest - pv.present_rest AS BIGINT)
               AS count_ub
      FROM hhpv pv CROSS JOIN hhtot t
    ),
    stoplist AS (
      SELECT term, count_lb, count_ub,
             CAST(row_number() OVER (ORDER BY count_lb DESC, term) AS BIGINT)
               AS rank
      FROM hhb
      QUALIFY row_number() OVER (ORDER BY count_lb DESC, term) <= 5
    ),
    cprobe AS (
      SELECT q.query_id, p.doc_id AS candidate_id,
             round(sum(p.bm25), 6) AS bm25_score
      FROM post p JOIN qterms q USING (term)
      WHERE p.doc_id <> q.query_id
        AND p.term NOT IN (SELECT term FROM stoplist)
      GROUP BY 1, 2
    ),
    pranked AS (
      SELECT query_id, candidate_id, bm25_score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY bm25_score DESC, candidate_id)
                  AS BIGINT) AS rank
      FROM cprobe
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY bm25_score DESC, candidate_id) <= 10
    )
    SELECT 'stop' AS part, term AS k1, CAST(NULL AS VARCHAR) AS k2,
           CAST(count_lb AS DOUBLE) AS v1, CAST(count_ub AS DOUBLE) AS v2,
           CAST(rank AS DOUBLE) AS v3
    FROM stoplist
    UNION ALL
    SELECT 'probe', CAST(query_id AS VARCHAR), CAST(candidate_id AS VARCHAR),
           bm25_score, CAST(rank AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM pranked
    """


def _stopterms_result(stop, posts, docs):
    """Anti-join the discovered stop list into the probe and align both
    arms — shared by the in-flight and at-rest discovery twins."""
    from aave_etl_spark.operators.text import _bm25_probe

    clean = posts.join(
        F.broadcast(stop.select(F.col("value").alias("term"))), "term", "left_anti"
    )
    probe = _bm25_probe(clean, docs.filter(F.col("doc_id") < 8), k=10)
    stop_arm = stop.selectExpr(
        "'stop' AS part", "value AS k1", "CAST(NULL AS STRING) AS k2",
        "CAST(count_lb AS DOUBLE) AS v1", "CAST(count_ub AS DOUBLE) AS v2",
        "CAST(rank AS DOUBLE) AS v3",
    )
    probe_arm = probe.selectExpr(
        "'probe' AS part", "CAST(query_id AS STRING) AS k1",
        "CAST(candidate_id AS STRING) AS k2",
        "bm25_score AS v1", "CAST(rank AS DOUBLE) AS v2",
        "CAST(NULL AS DOUBLE) AS v3",
    )
    return stop_arm.unionByName(probe_arm)


@register(
    "llm_bm25_stopterms",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_BM25_STOPTERMS_ORACLE,
    doc=(
        "LLM retrieval: DATA-PLANNED stop terms — the mergeable heavy-"
        "hitters sketch over the at-rest postings' per-shard partial dfs"
        " discovers the corpus's hot terms (top-5 by df lower bound, with"
        " honest [lb, ub]), and the discovered list feeds the BM25 probe"
        " as a postings ANTI-JOIN (lazy and distributed — no hand-picked"
        " max_df literal, no driver-side threshold collect); certifies the"
        " discovered stop list AND the stop-term-free retrieval in one"
        " composition — the planned counterpart of llm_bm25_capped's"
        " fixed cap, the way temperature_mixture plans the mix rates"
    ),
)
def llm_bm25_stopterms(spark, sf_dir):
    from aave_etl_spark.operators.text import discover_stop_terms

    store, tbl, docs = _bm25_index_store(spark, sf_dir)
    posts = store.read_bucketed(tbl)
    return _stopterms_result(
        discover_stop_terms(posts, m=16, k=5, n_shards=4), posts, docs
    )


@register(
    "llm_bm25_stopterms_atrest",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_BM25_STOPTERMS_ORACLE,  # identical contract to the in-flight twin
    doc=(
        "LLM retrieval: the AT-REST stop-term discovery — the per-shard"
        " partial-df heavy-hitter states are PERSISTED through the"
        " TableStore (build-once/roll-many, completion-marker discipline)"
        " and the stop list rolls up from the stored m-row states, never"
        " the postings (the corpus-linear term in the in-flight"
        " discovery's decade row); the pinned list feeds the same"
        " anti-joined probe — results identical to llm_bm25_stopterms by"
        " construction, store hop proven value-neutral under one oracle"
    ),
)
def llm_bm25_stopterms_atrest(spark, sf_dir):
    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.text import (
        discover_stop_terms,
        stop_term_sketches,
        stop_terms_from_sketches,
    )

    store, tbl, docs = _bm25_index_store(spark, sf_dir)
    posts = store.read_bucketed(tbl)
    hh_store = TableStore(
        spark, session_scratch_dir(spark, "aave_etl_spark_stophh", corpus_key(sf_dir))
    )
    if not (hh_store.is_complete("stop_hh") and hh_store.exists("stop_hh")):
        hh_store.clear_complete("stop_hh")
        if not hh_store.write(
            stop_term_sketches(posts, m=16, n_shards=4), "stop_hh"
        ):
            # empty corpus → nothing landed: serve the in-flight twin's
            # (empty) result rather than stamping a marker for a missing
            # table
            return _stopterms_result(
                discover_stop_terms(posts, m=16, k=5, n_shards=4), posts, docs
            )
        hh_store.mark_complete("stop_hh")
    stop = stop_terms_from_sketches(hh_store.read("stop_hh"), k=5)
    return _stopterms_result(stop, posts, docs)


@register(
    "llm_sequence_pack",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT lang, doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    p AS (
      SELECT lang, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS pack_id,
             CAST(0 AS BIGINT) AS pack_offset,
             n_tokens AS cum
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.lang, b.doc_id, b.n_tokens, b.rn,
             CASE WHEN p.cum + b.n_tokens > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.cum + b.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE p.cum END,
             CASE WHEN p.cum + b.n_tokens > 256 THEN b.n_tokens ELSE p.cum + b.n_tokens END
      FROM p JOIN base b ON b.lang = p.lang AND b.rn = p.rn + 1
    )
    SELECT lang, doc_id, n_tokens, pack_id, pack_offset FROM p
    """,
    doc=(
        "LLM training prep: greedy first-fit sequence packing of documents"
        " into 256-token context budgets per language — a running sum with"
        " reset, i.e. a sequential recurrence per group: grouped-map"
        " applyInPandas on Spark, recursive CTE in the oracle; oversized"
        " docs pack alone, nothing is split or dropped"
    ),
)
def llm_sequence_pack(spark, sf_dir):
    from aave_etl_spark.operators.packing import greedy_pack

    docs = t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "lang", "doc_id", F.size(text.tokens("text")).cast("long").alias("n_tokens")
    )
    return greedy_pack(with_tokens, capacity=256)


@register(
    "llm_span_pack",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, {_TOKS} AS l FROM documents WHERE doc_id % 4 = 0
    ),
    w AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(l[i:i+7], ' ')) AS h
      FROM d, unnest(range(1, len(l) - 6)) AS r(i)
      WHERE len(l) >= 8
    ),
    dup AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
    fdoc AS (SELECT h, min(doc_id) AS fdoc FROM w GROUP BY h),
    fpos AS (
      SELECT w.h, fdoc.fdoc, min(w.pos) AS fpos
      FROM w JOIN fdoc ON w.h = fdoc.h AND w.doc_id = fdoc.fdoc
      GROUP BY w.h, fdoc.fdoc
    ),
    flagged AS (
      SELECT w.doc_id, w.pos
      FROM w JOIN dup USING (h) JOIN fpos ON w.h = fpos.h
      WHERE NOT (w.doc_id = fpos.fdoc AND w.pos = fpos.fpos)
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS tp
      FROM flagged, unnest(range(0, 8)) AS r(j)
    ),
    tok AS (
      SELECT doc_id, i - 1 AS tp
      FROM d, unnest(range(1, len(l) + 1)) AS r(i)
    ),
    reb AS (
      SELECT t.doc_id, count(*) AS nk
      FROM tok t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp
      GROUP BY t.doc_id
    ),
    sized AS (
      SELECT doc.lang, r.doc_id, CAST(r.nk AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY doc.lang ORDER BY r.doc_id) AS rn
      FROM reb r JOIN documents doc USING (doc_id)
      WHERE r.nk > 0
    ),
    p AS (
      SELECT lang, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS pack_id,
             CAST(0 AS BIGINT) AS pack_offset,
             n_tokens AS cum
      FROM sized WHERE rn = 1
      UNION ALL
      SELECT b.lang, b.doc_id, b.n_tokens, b.rn,
             CASE WHEN p.cum + b.n_tokens > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.cum + b.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE p.cum END,
             CASE WHEN p.cum + b.n_tokens > 256 THEN b.n_tokens ELSE p.cum + b.n_tokens END
      FROM p JOIN sized b ON b.lang = p.lang AND b.rn = p.rn + 1
    )
    SELECT lang, doc_id, n_tokens, pack_id, pack_offset FROM p
    """,
    doc=(
        "LLM training prep: span-dedup rewrite COMPOSED with the packing"
        " tail — duplicated-window removal, per-doc surviving-token"
        " recount from the rewrite's own (n_tokens - n_removed), docs"
        " rewritten away entirely dropped, then greedy first-fit packing"
        " of the deduplicated corpus into 256-token budgets per language;"
        " certifies the curation-stage op feeding the training-prep"
        " recurrence as one flow (same doc_id%4 slice as llm_span_rewrite)"
    ),
)
def llm_span_pack(spark, sf_dir):
    from aave_etl_spark.operators.packing import greedy_pack

    docs = t(spark, sf_dir, "documents").filter("doc_id % 4 = 0")
    rw = dedup.span_dedup_rewrite(docs, n=8)
    sized = (
        rw.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "lang",
            "doc_id",
            (F.col("n_tokens") - F.col("n_removed")).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    return greedy_pack(sized, capacity=256)


@register(
    "llm_curation_gate",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=f"""
    WITH base AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    feat AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
             (CAST(length(text) AS DOUBLE)
                - CAST(length(regexp_replace(text, '[.,!?;:''"-]', '', 'g')) AS DOUBLE))
               / CAST(length(text) AS DOUBLE) AS punct_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
      FROM base
    ),
    q AS (
      SELECT doc_id,
             round(CASE WHEN n_words < 5 THEN 0.0 ELSE
               least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.3
               + least(stopword_ratio * 10.0, 1.0) * 0.3
               + distinct_ratio * 0.3
               + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.1 END, 6) AS quality
      FROM feat
    ),
    rep AS (
      SELECT doc_id,
             1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
               AS repetition_ratio
      FROM (SELECT doc_id,
                   [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS grams
            FROM base WHERE len(toks) >= 2)
    ),
    scored AS (
      SELECT doc_id,
        CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS DOUBLE) / len(toks) AS score_en,
        CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS DOUBLE) / len(toks) AS score_fr,
        CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS DOUBLE) / len(toks) AS score_de,
        CAST(len(list_filter(toks, x -> x IN ('el','la','y','los'))) AS DOUBLE) / len(toks) AS score_es
      FROM base
    ),
    guessed AS (
      SELECT doc_id,
        CASE
          WHEN greatest(score_en, score_fr, score_de, score_es) <= 0.0 THEN 'und'
          WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
          WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
          WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
          ELSE 'es'
        END AS lang_guess
      FROM scored
    ),
    dup AS (
      SELECT doc_id,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY digest)
                  THEN 1 ELSE 0 END AS dup_keep
      FROM (SELECT doc_id, md5({_NORM}) AS digest FROM documents)
    ),
    flags AS (
      SELECT q.doc_id,
             CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS q_ok,
             CASE WHEN coalesce(r.repetition_ratio, 0.0) <= 0.2 THEN 1 ELSE 0 END AS rep_ok,
             CASE WHEN g.lang_guess <> 'und' THEN 1 ELSE 0 END AS lang_ok,
             d.dup_keep AS dup_ok
      FROM q
      LEFT JOIN rep r USING (doc_id)
      JOIN guessed g USING (doc_id)
      JOIN dup d USING (doc_id)
    )
    SELECT doc_id,
           CAST(q_ok AS BIGINT) AS q_ok,
           CAST(rep_ok AS BIGINT) AS rep_ok,
           CAST(lang_ok AS BIGINT) AS lang_ok,
           CAST(dup_ok AS BIGINT) AS dup_ok,
           CAST(q_ok * rep_ok * lang_ok * dup_ok AS BIGINT) AS kept
    FROM flags
    """,
    doc=(
        "LLM curation PIPELINE gate: the composed per-doc keep/drop"
        " decision — quality score >= 0.5, repetition <= 0.2, confident"
        " language guess, exact-dup keeper — each signal reusing the"
        " certified operator, joined on doc_id (all narrow/one-shuffle"
        " inputs; the gate itself adds only equi-joins on the id)"
    ),
)
def llm_curation_gate(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    q = text.quality_score(docs)
    rep = text.repetition_stats(docs).select("doc_id", "repetition_ratio")
    lid = text.language_id(docs).select("doc_id", "lang_guess")
    withd = docs.select(
        "doc_id", F.md5(dedup.normalize_text("text")).alias("digest")
    )
    keeper = withd.join(
        dedup.exact_duplicates(docs).select("digest", "keeper_id"), "digest"
    ).select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("keeper_id"), F.lit(1)).otherwise(F.lit(0)).alias("dup_ok"),
    )
    flags = (
        q.join(rep, "doc_id", "left")
        .join(lid, "doc_id")
        .join(keeper, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("quality") >= 0.5, F.lit(1)).otherwise(F.lit(0)).alias("q_ok"),
            F.when(F.coalesce(F.col("repetition_ratio"), F.lit(0.0)) <= 0.2, F.lit(1))
            .otherwise(F.lit(0))
            .alias("rep_ok"),
            F.when(F.col("lang_guess") != "und", F.lit(1)).otherwise(F.lit(0)).alias("lang_ok"),
            F.col("dup_ok"),
        )
    )
    return flags.select(
        "doc_id",
        F.col("q_ok").cast("long").alias("q_ok"),
        F.col("rep_ok").cast("long").alias("rep_ok"),
        F.col("lang_ok").cast("long").alias("lang_ok"),
        F.col("dup_ok").cast("long").alias("dup_ok"),
        (F.col("q_ok") * F.col("rep_ok") * F.col("lang_ok") * F.col("dup_ok"))
        .cast("long")
        .alias("kept"),
    )


@register(
    "llm_decontaminate",
    export=False,  # driver slot held by its family head (union_family)
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN {_UHASH.format(salt="split")} < 0.2
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    ),
    norm AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       for i in range(1, len(toks) - 1)]) AS shingle
        FROM norm WHERE len(toks) >= 3
      )
    ),
    train_sh AS (
      SELECT DISTINCT shingle FROM sh JOIN m USING (doc_id) WHERE m.split <> 'test'
    ),
    test_sh AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN m USING (doc_id) WHERE m.split = 'test'
    ),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM test_sh GROUP BY doc_id),
    ov AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
      FROM test_sh t JOIN train_sh USING (shingle) GROUP BY t.doc_id
    )
    SELECT tot.doc_id, tot.n_shingles,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / CAST(tot.n_shingles AS DOUBLE)
             AS contamination_ratio
    FROM tot LEFT JOIN ov USING (doc_id)
    """,
    doc=(
        "LLM curation: train/test DECONTAMINATION — per test doc, the"
        " fraction of its 3-gram shingles appearing anywhere in the train"
        " split. Pair-free by design: the train side collapses to a"
        " distinct shingle set and test shingles semi-join it, so hot"
        " boilerplate shingles cost one row instead of a quadratic fan-out"
    ),
)
def llm_decontaminate(spark, sf_dir):
    from aave_etl_spark.operators.sampling import hash_split

    docs = t(spark, sf_dir, "documents")
    membership = hash_split(docs, test_frac=0.2).select("doc_id", "split")
    sh = dedup.word_shingles(docs, n=3)
    return dedup.cross_split_contamination(sh, membership)


@register(
    "llm_length_percentiles",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle="""
    SELECT lang,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           quantile_cont(n_chars, 0.99) AS p99,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
    doc=(
        "LLM corpus stats: exact per-language length percentiles (the"
        " distribution report behind length-filter thresholds) — Spark's"
        " percentile() and DuckDB's quantile_cont share the same"
        " rank=p*(n-1) linear interpolation, so values match exactly"
    ),
)
def llm_length_percentiles(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5D)").alias("p50"),
        F.expr("percentile(n_chars, 0.9D)").alias("p90"),
        F.expr("percentile(n_chars, 0.99D)").alias("p99"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_MIX_WEIGHTS = [("en", 0.9), ("fr", 0.5), ("de", 0.5), ("es", 0.5), ("zh", 0.2)]


@register(
    "llm_line_dedup",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 4 = 0
               THEN '. Subscribe to our newsletter for updates today'
               ELSE '' END AS text
      FROM documents
    ),
    l0 AS (SELECT doc_id, string_split(text, '. ') AS l FROM planted),
    lines AS (
      SELECT doc_id, i AS ln, trim(l[i]) AS line
      FROM l0, unnest(range(1, len(l) + 1)) AS r(i)
      WHERE length(trim(l[i])) > 0
    ),
    flagged AS (
      SELECT doc_id, ln, line,
             row_number() OVER (PARTITION BY md5(line)
                                ORDER BY doc_id, ln) AS rn
      FROM lines
    ),
    kept AS (SELECT * FROM flagged WHERE length(line) < 15 OR rn = 1),
    reb AS (
      SELECT doc_id, md5(string_agg(line, '. ' ORDER BY ln)) AS clean_md5,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
            FROM lines GROUP BY doc_id)
    SELECT p.doc_id, coalesce(r.clean_md5, md5('')) AS clean_md5,
           coalesce(t.n_lines, 0) AS n_lines, coalesce(r.n_kept, 0) AS n_kept
    FROM planted p
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN reb r USING (doc_id)
    """,
    doc=(
        "LLM curation: GLOBAL line-level exact dedup with document"
        " reconstruction (RefinedWeb boilerplate removal) — a sentence"
        " recurring across documents survives only at its first"
        " (doc, position) occurrence; planted newsletter boilerplate on"
        " every 4th doc exercises the cross-doc cut; one shuffle on the"
        " line hash + per-doc ordered rebuild"
    ),
)
def llm_line_dedup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit(". Subscribe to our newsletter for updates today"),
            ).otherwise(F.lit("")),
        ),
    )
    out = dedup.line_dedup_global(docs, split_re="\\. ", join_str=". ")
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines",
        "n_kept",
    )


@register(
    "llm_mix_plan",
    export=False,  # driver slot held by its family head (union_family)
    oracle="""
    WITH m AS (
      SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS t
      FROM documents GROUP BY lang
    ),
    s AS (SELECT sum(pow(t, 0.7)) AS tp FROM m)
    SELECT lang,
           round(t, 6) AS n_units,
           round(pow(t, 0.7) / s.tp, 6) AS mix_share,
           round(least(1.0, 1000000.0 * (pow(t, 0.7) / s.tp) / t), 6)
             AS sample_rate,
           round(t * least(1.0, 1000000.0 * (pow(t, 0.7) / s.tp) / t), 6)
             AS expected_units
    FROM m CROSS JOIN s
    """,
    doc=(
        "LLM mixing: temperature-scaled mixture plan (mC4/XLM-R, share ∝"
        " mass^0.7 — low-resource languages up-weighted) with per-group"
        " budget sampling rates capped at full take; one group-cardinality"
        " aggregate + a 1-row broadcast, the planning math is free at any"
        " corpus size"
    ),
)
def llm_mix_plan(spark, sf_dir):
    from aave_etl_spark.operators.sampling import temperature_mixture

    return temperature_mixture(
        t(spark, sf_dir, "documents"), alpha=0.7, budget=1_000_000.0
    )


@register(
    "llm_weighted_sample",
    export=False,  # driver slot held by its family head (union_family)
    oracle=f"""
    WITH wm AS (
      SELECT lang, max(CAST(n_chars AS DOUBLE)) AS wmax
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
      GROUP BY lang
    ),
    scored AS (
      SELECT d.lang, doc_id,
             round(-ln((CAST('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15)
                            AS BIGINT) + 0.5) / 1152921504606846976.0)
                   / (CAST(n_chars AS DOUBLE) / wm.wmax), 9) AS sample_key
      FROM documents d JOIN wm ON d.lang IS NOT DISTINCT FROM wm.lang
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT lang, doc_id, sample_key,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY sample_key, doc_id) AS BIGINT)
             AS sample_rank
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY lang
                               ORDER BY sample_key, doc_id) <= 5
    """,
    doc=(
        "LLM sampling: weighted sampling WITHOUT replacement (Efraimidis-"
        "Spirakis 2006) — per-language top-5 by the exponential-clock key"
        " -ln(u)/w' with u from the deterministic id hash and w = n_chars"
        " normalized per group to max(w) (scale-free keys: raw weights"
        " >~1e8 would collapse under the 9dp engine-parity rounding);"
        " weight-proportional draws with no replacement, stable under"
        " corpus growth, one WindowGroupLimit-capped window"
    ),
)
def llm_weighted_sample(spark, sf_dir):
    from aave_etl_spark.operators.sampling import weighted_sample_k

    return weighted_sample_k(
        t(spark, sf_dir, "documents"),
        k=5,
        weight_col="n_chars",
        group_cols=["lang"],
    ).select("lang", "doc_id", "sample_key", "sample_rank")


@register(
    "llm_data_mix",
    export=False,  # driver slot held by its family head (union_family)
    oracle=f"""
    WITH w AS (
      SELECT * FROM (VALUES {", ".join(f"('{g}', {f})" for g, f in _MIX_WEIGHTS)})
        AS t(lang, keep_frac)
    ),
    d AS (
      SELECT d.doc_id, d.lang,
             coalesce(w.keep_frac, 0.0) AS keep_frac,
             {_UHASH.format(salt="mix")} AS u
      FROM documents d LEFT JOIN w ON d.lang IS NOT DISTINCT FROM w.lang
    )
    SELECT lang, CAST(keep_frac AS DOUBLE) AS keep_frac,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN u < keep_frac THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM d GROUP BY lang, keep_frac
    """,
    doc=(
        "LLM curation: domain mixing — per-language target keep rates"
        " applied via the deterministic id hash (broadcast weights join +"
        " narrow filter, no corpus shuffle); the query certifies the"
        " kept-vs-total counts per group"
    ),
)
def llm_data_mix(spark, sf_dir):
    from aave_etl_spark.operators.sampling import mix_corpus

    docs = t(spark, sf_dir, "documents")
    weights = local_df(spark, _MIX_WEIGHTS, "lang string, keep_frac double")
    kept = mix_corpus(docs, weights, group_col="lang")
    tot = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    k = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("_n_kept"))
    return (
        tot.join(k, "lang", "left")
        .join(F.broadcast(weights), "lang", "left")
        .select(
            "lang",
            F.coalesce("keep_frac", F.lit(0.0)).alias("keep_frac"),
            "n_docs",
            F.coalesce("_n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


@register(
    "llm_simhash_near_dup",
    export=False,  # driver slot held by its family head (semi_anti_family)
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    th AS (
      SELECT doc_id, CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS th FROM tok
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (th >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bs
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bits GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, band, (simhash >> CAST(band * 8 AS INT)) & 255 AS band_bits
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bd
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_bits = b.band_bits
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """,
    doc=(
        "LLM dedup: SimHash hamming-radius near-dup JOIN — 32-bit"
        " signatures split into 4 byte-bands; hamming<=3 pairs share at"
        " least one band by pigeonhole (EXACT recall), candidates verified"
        " by popcount(xor). One band-key equi-join, never corpus x corpus"
    ),
)
def llm_simhash_near_dup(spark, sf_dir):
    return dedup.simhash_near_dup_pairs(t(spark, sf_dir, "documents"))


@register(
    "llm_mean_pool",
    export=False,  # driver slot held by its family head (collect_family)
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, vec_id % 8 AS shard
      FROM embeddings
    ),
    g AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_vecs,
             list(e ORDER BY vec_id) AS vs
      FROM v GROUP BY shard
    ),
    m AS (
      SELECT shard, n_vecs,
             list_transform(range(1, len(vs[1]) + 1),
                i -> list_sum(list_transform(vs, v -> v[i])) / CAST(n_vecs AS DOUBLE))
               AS mean_e
      FROM g
    )
    SELECT shard, n_vecs,
           round(sqrt(list_dot_product(mean_e, mean_e)), 6) AS mean_norm,
           round(mean_e[1], 6) AS mean_c0
    FROM m
    """,
    doc=(
        "LLM similarity: deterministic mean-pooling (chunk→doc /"
        " member→centroid) — per-group vectors fold in sorted-id order so"
        " the pooled floats are bit-reproducible across engines; certified"
        " on the pooled vector's norm and first component"
    ),
)
def llm_mean_pool(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").withColumn(
        "shard", F.expr("vec_id % 8")
    )
    pooled = similarity.mean_pool_embeddings(emb, ["shard"])
    me = F.col("mean_embedding")
    return pooled.select(
        "shard",
        "n_vecs",
        F.round(F.sqrt(F.aggregate(me, F.lit(0.0), lambda a, x: a + x * x)), 6).alias("mean_norm"),
        F.round(F.element_at(me, 1), 6).alias("mean_c0"),
    )


@register(
    "llm_quality_topfrac",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH base AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS score
      FROM base
    ),
    r AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS q_rank,
             count(*) OVER (PARTITION BY lang) AS n_group
      FROM scored
    )
    SELECT doc_id, lang, round(score, 6) AS score,
           CAST(q_rank AS BIGINT) AS q_rank,
           CAST(n_group AS BIGINT) AS n_group,
           -- ceil(round(x, 9)) mirrors top_fraction_by_group's IEEE guard
           -- verbatim (required for non-dyadic fracs; harmless at 0.5)
           (q_rank <= ceil(round(n_group * 0.5, 9))) AS kept
    FROM r
    """,
    doc=(
        "LLM curation: per-language quality-percentile gate — keep the top"
        " 50% by distinct-token ratio, exact rank form (the"
        " percentile_approx broadcast-threshold twin is the 100 TB path,"
        " property-tested against this one)"
    ),
)
def llm_quality_topfrac(spark, sf_dir):
    from aave_etl_spark.operators.sampling import top_fraction_by_group

    docs = t(spark, sf_dir, "documents")
    scored = (
        docs.select("doc_id", "lang")
        .join(
            text.quality_features(docs).select(
                "doc_id", F.col("distinct_ratio").alias("score")
            ),
            "doc_id",
        )
    )
    out = top_fraction_by_group(scored, ["lang"], "score", 0.5)
    return out.select(
        "doc_id", "lang", F.round("score", 6).alias("score"), "q_rank", "n_group", "kept"
    )


@register(
    "llm_vocab_coverage",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH tok AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
    freq AS (SELECT lang, token, count(*) AS f FROM tok GROUP BY lang, token),
    ranked AS (
      SELECT lang, f,
             row_number() OVER (PARTITION BY lang ORDER BY f DESC, token) AS r,
             sum(f) OVER (PARTITION BY lang ORDER BY f DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM freq
    ),
    totals AS (
      SELECT lang, CAST(sum(f) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(max(f) AS DOUBLE) AS top1
      FROM freq GROUP BY lang
    ),
    kc AS (
      SELECT r.lang, CAST(min(r.r) AS BIGINT) AS k_cov
      FROM ranked r JOIN totals t2 ON r.lang = t2.lang
      WHERE CAST(r.cum AS DOUBLE) >= 0.9 * CAST(t2.n_tokens AS DOUBLE)
      GROUP BY r.lang
    )
    SELECT t.lang, t.n_tokens, t.vocab_size, kc.k_cov,
           round(t.top1 / CAST(t.n_tokens AS DOUBLE), 6) AS top1_share
    FROM totals t JOIN kc USING (lang)
    """,
    doc=(
        "LLM text analysis: per-language vocabulary coverage curve — the"
        " smallest top-frequency vocab covering 90% of token occurrences"
        " (tokenizer sizing / boilerplate detection); window state bounded"
        " by vocab size, not corpus size"
    ),
)
def llm_vocab_coverage(spark, sf_dir):
    return text.vocab_coverage(t(spark, sf_dir, "documents"), coverage=0.9)


@register(
    "llm_unigram_logprob",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
    total AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM freq),
    scored AS (
      SELECT tok.doc_id, -ln(CAST(freq.tf AS DOUBLE) / total.t) AS nll
      FROM tok JOIN freq USING (token) CROSS JOIN total
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(nll), 6) AS avg_neg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc=(
        "LLM curation: unigram negative-log-likelihood quality proxy"
        " (CCNet-style perplexity filtering with corpus unigram frequencies"
        " as the LM) — corpus total folded into one broadcast row"
    ),
)
def llm_unigram_logprob(spark, sf_dir):
    return text.unigram_logprob(t(spark, sf_dir, "documents"))


@register(
    "llm_stupid_backoff",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH tr AS (SELECT {_TOKS} AS l FROM documents WHERE doc_id % 4 = 0),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT unnest(l) AS w FROM tr) GROUP BY w),
    bi AS (SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT unnest(list_transform(l[1:len(l) - 1],
                        (x, i) -> struct_pack(w1 := x, w2 := l[i + 1]))) AS g
                 FROM tr WHERE len(l) >= 2)
           GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM uni),
    stream AS (
      SELECT doc_id, l2[i] AS cur, CASE WHEN i > 1 THEN l2[i - 1] END AS prev
      FROM (SELECT doc_id, {_TOKS} AS l2 FROM documents WHERE doc_id % 4 = 1) t,
           unnest(range(1, len(l2) + 1)) r(i)
    ),
    sc AS (
      SELECT doc_id,
             CASE WHEN prev IS NULL THEN
                    CASE WHEN cu.tf IS NOT NULL
                         THEN CAST(cu.tf AS DOUBLE) / tot.n
                         ELSE 0.4 / tot.n END
                  WHEN bi.tf IS NOT NULL
                       THEN CAST(bi.tf AS DOUBLE) / CAST(pu.tf AS DOUBLE)
                  ELSE 0.4 * CASE WHEN cu.tf IS NOT NULL
                                  THEN CAST(cu.tf AS DOUBLE) / tot.n
                                  ELSE 0.4 / tot.n END
             END AS s
      FROM stream
      LEFT JOIN uni cu ON stream.cur = cu.w
      LEFT JOIN uni pu ON stream.prev = pu.w
      LEFT JOIN bi ON stream.prev = bi.w1 AND stream.cur = bi.w2
      CROSS JOIN tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(s)), 6) AS avg_neg_logprob
    FROM sc GROUP BY doc_id
    """,
    doc=(
        "LLM curation: stupid-backoff bigram LM scoring (Brants et al."
        " 2007 — the smoothing-free count-ratio LM built for distributed"
        " trillion-token corpora): an LM trained on one disjoint document"
        " slice scores another, so the seen-bigram ratio, the"
        " alpha-backoff to an in-vocab unigram, AND the alpha/N OOV floor"
        " are all exercised — the reference-LM CCNet setup that"
        " unigram_logprob's self-scored proxy cannot express"
    ),
)
def llm_stupid_backoff(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    counts = text.ngram_counts(docs.filter("doc_id % 4 = 0"))
    return text.stupid_backoff_score(docs.filter("doc_id % 4 = 1"), counts)


def _bpe_oracle(n_merges: int) -> str:
    """The BPE cert oracle, one chained CTE stage per merge round: pair
    counts over the delimited symbol strings -> deterministic argmax
    (count desc, left, right) -> literal substring-replace rewrite —
    the exact operator semantics (operators/text.py bpe_learn), k
    stages unrolled because classic BPE is sequential by definition."""
    S = "\x01"
    stages = []
    for k in range(1, n_merges + 1):
        stages.append(
            f"""p{k} AS (
      SELECT l[i] AS lft, l[i + 1] AS rgt, sum(freq) AS c
      FROM (SELECT list_filter(string_split(sym, '{S}'), x -> x <> '') AS l,
                   freq FROM w{k - 1}) t,
           unnest(range(1, len(l))) r(i)
      GROUP BY 1, 2),
    b{k} AS (SELECT lft, rgt, c FROM p{k} ORDER BY c DESC, lft, rgt LIMIT 1),
    w{k} AS (SELECT replace(sym, '{S}' || b{k}.lft || '{S}' || b{k}.rgt || '{S}',
                            '{S}' || b{k}.lft || b{k}.rgt || '{S}') AS sym,
                    w, freq
             FROM w{k - 1} CROSS JOIN b{k})"""
        )
    merge_rows = "\nUNION ALL ".join(
        f"SELECT 'merge' AS part, CAST({k} AS VARCHAR) AS k1, lft AS k2,"
        f" rgt AS k3, lft || rgt AS k4, CAST(c AS DOUBLE) AS v1,"
        f" CAST(NULL AS DOUBLE) AS v2 FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return f"""
    WITH wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKS}) AS w FROM documents WHERE doc_id % 4 = 0)
      GROUP BY w
    ),
    w0 AS (SELECT '{S}' || regexp_replace(w, '(.)', '\\1{S}', 'g') AS sym,
                  w, freq FROM wf),
    {','.join(stages)}
    {merge_rows}
    UNION ALL
    SELECT 'word', w,
           array_to_string(list_filter(string_split(sym, '{S}'), x -> x <> ''), ' '),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(freq AS DOUBLE),
           CAST(len(list_filter(string_split(sym, '{S}'), x -> x <> '')) AS DOUBLE)
    FROM w{n_merges}
    """


@register(
    "llm_bpe_vocab",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=_bpe_oracle(4),
    doc=(
        "LLM tokenization: BPE vocabulary INDUCTION (Sennrich et al."
        " 2016) — 4 merge rounds learned over a document slice (each"
        " round certified: the argmax pair under the deterministic"
        " count-desc/left/right order AND its weighted pair count) plus"
        " the full vocabulary segmented under the learned table in rank"
        " order (final symbol sequences byte-for-byte). The corpus"
        " collapses to the (word, freq) vocab table after ONE scan;"
        " every round is vocab-sized — the 100 TB shape"
    ),
)
def llm_bpe_vocab(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter("doc_id % 4 = 0")
    merges = text.bpe_learn(docs, n_merges=4)
    seg = text.bpe_segment(docs, merges)
    m = merges.selectExpr(
        "'merge' AS part", "CAST(rank AS STRING) AS k1", "left AS k2",
        "right AS k3", "merged AS k4", "CAST(pair_count AS DOUBLE) AS v1",
        "CAST(NULL AS DOUBLE) AS v2",
    )
    wrows = seg.select(
        F.lit("word").alias("part"),
        F.col("word").alias("k1"),
        F.array_join("symbols", " ").alias("k2"),
        F.lit(None).cast("string").alias("k3"),
        F.lit(None).cast("string").alias("k4"),
        F.col("freq").cast("double").alias("v1"),
        F.col("n_symbols").cast("double").alias("v2"),
    )
    return m.unionByName(wrows)


@register(
    "llm_c4_line_filter",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle="""
    -- the synthetic corpus is single-line; derive line structure the same
    -- way on both engines (every ' table ' becomes a sentence boundary)
    -- so kept, dropped AND doc-gate arms all exercise
    WITH d AS (
      SELECT doc_id,
             string_split(replace(text, ' table ', '.' || chr(10) || 'table '),
                          chr(10)) AS ls
      FROM documents
    ),
    k AS (
      SELECT doc_id, ls,
             list_filter(ls, x ->
               regexp_matches(trim(x), '[.!?"]$')
               AND len(string_split(trim(regexp_replace(x, '\\s+', ' ', 'g')), ' ')) >= 3
               AND NOT contains(lower(x), 'lorem ipsum')
               AND NOT contains(lower(x), 'javascript')
               AND NOT contains(lower(x), 'cookie')
               AND NOT contains(lower(x), '{')) AS ks
      FROM d
    )
    SELECT doc_id,
      CAST(len(ls) AS BIGINT) AS n_lines,
      CAST(len(ks) AS BIGINT) AS n_kept_lines,
      -- array_to_string([]) is NULL in DuckDB but '' in Spark's array_join
      CAST(length(coalesce(array_to_string(ks, chr(10)), '')) AS BIGINT) AS clean_chars,
      md5(coalesce(array_to_string(ks, chr(10)), '')) AS clean_md5,
      (len(ks) >= 3) AS doc_kept
    FROM k
    """,
    doc=(
        "LLM curation: C4-style line-level cleaning (terminal punctuation,"
        " min words/line, boilerplate markers) with the >=3-kept-lines doc"
        " gate; clean_md5 keys the post-clean exact dedup"
    ),
)
def llm_c4_line_filter(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").withColumn(
        "text",
        F.expr("replace(text, ' table ', concat('.', chr(10), 'table '))"),
    )
    return text.c4_line_filter(docs)


# 16^15 as a literal for the oracle's md5-uniform scale
_HASH_SPACE_SQL = "1152921504606846976.0"

_DSIR_GUMBEL = (
    "-ln(-ln((CAST(('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15))"
    f" AS BIGINT) + 0.5) / {_HASH_SPACE_SQL}))"
)


@register(
    "llm_dsir_resample",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS l, (lang = 'en') AS is_target FROM documents
    ),
    grams AS (
      SELECT doc_id, is_target,
             unnest(list_concat(
               l,
               CASE WHEN len(l) >= 2
                    THEN list_transform(l[1:len(l) - 1], (x, i) -> x || ' ' || l[i + 1])
                    ELSE CAST([] AS VARCHAR[]) END
             )) AS g
      FROM d
    ),
    doc_buckets AS (
      SELECT doc_id, is_target,
             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 256 AS b,
             CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    tgt AS (SELECT b, sum(c) AS ct FROM doc_buckets WHERE is_target GROUP BY b),
    raw AS (SELECT b, sum(c) AS cr FROM doc_buckets GROUP BY b),
    tots AS (SELECT (SELECT CAST(sum(ct) AS DOUBLE) FROM tgt) AS nt,
                    (SELECT CAST(sum(cr) AS DOUBLE) FROM raw) AS nr),
    ratio AS (
      SELECT raw.b,
             ln((coalesce(tgt.ct, 0) + 1.0) / (tots.nt + 256.0))
             - ln((raw.cr + 1.0) / (tots.nr + 256.0)) AS lr
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tots
    ),
    scored AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, sum(c * lr) AS w
      FROM doc_buckets JOIN ratio USING (b) GROUP BY doc_id
    ),
    keyed AS (
      SELECT doc_id, n_grams, round(w, 6) AS weight,
             round(w / 1.0 + ({_DSIR_GUMBEL}), 6) AS sample_key
      FROM scored
    )
    SELECT doc_id, n_grams, weight, sample_key,
      (row_number() OVER (ORDER BY sample_key DESC, doc_id)
         <= ceil(0.25 * (SELECT count(*) FROM keyed))) AS kept
    FROM keyed
    """,
    doc=(
        "LLM sampling: DSIR importance resampling (Xie et al. 2023) —"
        " hashed unigram+bigram bucket distributions (target vs raw),"
        " Laplace-smoothed log-likelihood-ratio weights, deterministic"
        " Gumbel-top-k resample"
    ),
)
def llm_dsir_resample(spark, sf_dir):
    from aave_etl_spark.operators import sampling

    return sampling.dsir_importance_resample(
        t(spark, sf_dir, "documents"), target_pred="lang = 'en'",
        m=256, keep_frac=0.25,
    )


@register(
    "llm_ivf_index_search",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=_IVF_ORACLE,  # identical output contract to llm_ivf_topk
    doc=(
        "LLM similarity: the AT-REST IVF path — build the index through"
        " TableStore partitioned BY cell_id, then search via a"
        " partition-PRUNED scan of only the probed cells' directories"
        " (n_probe/n_cells of the corpus bytes, enforced by the file"
        " listing); results bitwise-match the in-flight llm_ivf_topk"
    ),
)
def llm_ivf_index_search(spark, sf_dir):
    import os

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore

    emb = t(spark, sf_dir, "embeddings")
    # per-SESSION store root (the session_scratch_dir discipline the ivfpq
    # sibling adopted): concurrent harness processes can never race one
    # another's build/rmtree, and a regenerated fixture at the same path
    # can't serve a prior session's stale index. Keyed additionally by a
    # digest of the FULL resolved sf_dir (not its basename): two corpora
    # whose dirs share a basename must never share a cached index.
    store = TableStore(
        spark,
        session_scratch_dir(spark, "aave_etl_spark_ivf", corpus_key(sf_dir)),
    )
    # build-once, search-many: the at-rest pattern's whole point. The index
    # is keyed by sf_dir, and the corpus at a given sf is immutable, so a
    # present index is current; repeat invocations (bench passes, driver
    # cert) exercise the search path against the materialized layout.
    # gate on the COMPLETION MARKER (cleared first / written last by
    # ivf_index_build): an interrupted first build OR rebuild leaves no
    # marker, so a half-written or cross-run-inconsistent table pair can
    # never be served; the existence checks stay as belt-and-braces
    if not (
        store.is_complete("ivf_index")
        and store.exists("ivf_index")
        and store.exists("ivf_index_centroids")
    ):
        similarity.ivf_index_build(store, emb, n_cells=16)
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.ivf_index_search(store, queries, k=3, n_probe=4)


def _rp_oracle(r: int = 16) -> str:
    """DuckDB mirror of similarity.random_projection: row p of the ±1/sqrt(r)
    matrix reuses the SRP md5-parity sign derivation (`_srp_oracle` docs)."""
    sign = (
        "CASE WHEN strpos('13579bdf', "
        "substring(md5('{p}:' || CAST(i - 1 AS VARCHAR)), 15, 1)) > 0 "
        "THEN 1.0 ELSE -1.0 END"
    )
    projs = ", ".join(
        f"list_sum(list_transform(e, (x, i) -> x * {sign.format(p=p)})) / sqrt({r}.0)"
        for p in range(r)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    p AS (SELECT vec_id, e, [{projs}] AS rp FROM v)
    SELECT vec_id,
           round(sqrt(list_dot_product(e, e)), 6) AS orig_norm,
           round(sqrt(list_dot_product(rp, rp)), 6) AS proj_norm,
           round(sqrt(list_dot_product(rp, rp)) / sqrt(list_dot_product(e, e)), 6)
             AS norm_ratio
    FROM p
    """


@register(
    "llm_rp_project",
    export=False,  # driver slot held by its family head (queries/families.py)
    oracle=_rp_oracle(r=16),
    doc=(
        "LLM similarity: Johnson-Lindenstrauss random projection 64->16 dims"
        " (Achlioptas ±1/sqrt(r) literal matrix, md5-parity derivation shared"
        " with SRP) — shuffle-free narrow map; the query gates per-vector"
        " norm preservation"
    ),
)
def llm_rp_project(spark, sf_dir):
    rp = similarity.random_projection(t(spark, sf_dir, "embeddings"), r=16)
    return rp.select(
        "vec_id",
        F.round("orig_norm", 6).alias("orig_norm"),
        F.round("proj_norm", 6).alias("proj_norm"),
        F.round(F.col("proj_norm") / F.col("orig_norm"), 6).alias("norm_ratio"),
    )


# ---------------------------------------------------------------------------
# The END-TO-END curation pipeline: the canonical ordered chain a training-
# data build runs, composed from the individually-certified stages and
# certified as ONE flow — C4 line-clean (its own order of operations:
# clean first, then dedup on the cleaned text) → exact dedup on clean_md5
# → MinHash-LSH→Jaccard-verify→CC near-dup keeper → quality+language gate
# → DSIR importance resample → domain mixing → greedy sequence packing.
# The oracle is the chained-CTE composition of every stage's certified SQL
# twin; the output certifies per-stage survivor counts AND the final
# packed assignment (which is sensitive to every upstream decision).
# ---------------------------------------------------------------------------
_CT_TOKS = "string_split(trim(regexp_replace(lower(ct), '\\s+', ' ', 'g')), ' ')"

_CURATION_PIPELINE_ORACLE = f"""
WITH RECURSIVE
docs AS (
  SELECT doc_id, lang,
         replace(text, ' table ', '.' || chr(10) || 'table ') AS text
  FROM documents
),
c4 AS MATERIALIZED (
  SELECT doc_id, lang,
         list_filter(string_split(text, chr(10)), x ->
           regexp_matches(trim(x), '[.!?"]$')
           AND len(string_split(trim(regexp_replace(x, '\\s+', ' ', 'g')), ' ')) >= 3
           AND NOT contains(lower(x), 'lorem ipsum')
           AND NOT contains(lower(x), 'javascript')
           AND NOT contains(lower(x), 'cookie')
           AND NOT contains(lower(x), '{{')) AS ks
  FROM docs
),
c4k AS MATERIALIZED (
  SELECT doc_id, lang, coalesce(array_to_string(ks, chr(10)), '') AS ct
  FROM c4 WHERE len(ks) >= 3
),
ex AS MATERIALIZED (
  SELECT doc_id, lang, ct FROM (
    SELECT c4k.*, min(doc_id) OVER (PARTITION BY md5(ct)) AS k0 FROM c4k
  ) WHERE doc_id = k0
),
mnorm AS MATERIALIZED (SELECT doc_id, {_CT_TOKS} AS toks FROM ex),
mshingles AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]) AS shingle
    FROM mnorm WHERE len(toks) >= 3
  )
),
mmh AS MATERIALIZED (
  SELECT doc_id, h,
         min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
  FROM mshingles CROSS JOIN (SELECT unnest(range(0, 8)) AS h) hs
  GROUP BY doc_id, h
),
mbands AS MATERIALIZED (
  SELECT doc_id, CAST(floor(h / 2) AS INT) AS band,
         md5(string_agg(CAST(h AS VARCHAR) || ':' || minhash, '|'
                        ORDER BY CAST(h AS VARCHAR) || ':' || minhash)) AS band_key
  FROM mmh GROUP BY doc_id, CAST(floor(h / 2) AS INT)
),
mcand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM mbands a JOIN mbands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
msizes AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM mshingles GROUP BY doc_id),
minter AS MATERIALIZED (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM mcand c
  JOIN mshingles a ON a.doc_id = c.id_a
  JOIN mshingles b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
mdup AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM minter i
  JOIN msizes sa ON i.id_a = sa.doc_id
  JOIN msizes sb ON i.id_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
),
msym AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mdup
         UNION ALL SELECT id_b AS a, id_a AS b FROM mdup),
reach AS (
  SELECT doc_id AS node, doc_id AS lbl FROM ex
  UNION
  SELECT s.b AS node, r.lbl FROM reach r JOIN msym s ON s.a = r.node
),
comp AS MATERIALIZED (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
surv3 AS MATERIALIZED (
  SELECT ex.doc_id, ex.lang, ex.ct
  FROM ex JOIN comp ON ex.doc_id = comp.doc_id
  WHERE comp.doc_id = comp.component
),
gbase AS MATERIALIZED (SELECT doc_id, ct, {_CT_TOKS} AS toks FROM surv3),
gfeat AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         (CAST(length(ct) AS DOUBLE)
            - CAST(length(regexp_replace(ct, '[.,!?;:''"-]', '', 'g')) AS DOUBLE))
           / CAST(length(ct) AS DOUBLE) AS punct_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
  FROM gbase
),
gq AS MATERIALIZED (
  SELECT doc_id,
         round(CASE WHEN n_words < 5 THEN 0.0 ELSE
           least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.3
           + least(stopword_ratio * 10.0, 1.0) * 0.3
           + distinct_ratio * 0.3
           + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.1 END, 6) AS quality
  FROM gfeat
),
gscored AS MATERIALIZED (
  SELECT doc_id,
    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS DOUBLE) / len(toks) AS score_en,
    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS DOUBLE) / len(toks) AS score_fr,
    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS DOUBLE) / len(toks) AS score_de,
    CAST(len(list_filter(toks, x -> x IN ('el','la','y','los'))) AS DOUBLE) / len(toks) AS score_es
  FROM gbase
),
gguessed AS MATERIALIZED (
  SELECT doc_id,
    CASE
      WHEN greatest(score_en, score_fr, score_de, score_es) <= 0.0 THEN 'und'
      WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
      WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
      WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
      ELSE 'es'
    END AS lang_guess
  FROM gscored
),
surv4 AS MATERIALIZED (
  SELECT surv3.doc_id, surv3.lang, surv3.ct
  FROM surv3
  JOIN gq ON surv3.doc_id = gq.doc_id
  JOIN gguessed ON surv3.doc_id = gguessed.doc_id
  WHERE gq.quality >= 0.5 AND gguessed.lang_guess <> 'und'
),
dnorm AS MATERIALIZED (SELECT doc_id, (lang = 'en') AS is_target, {_CT_TOKS} AS l FROM surv4),
dgrams AS MATERIALIZED (
  SELECT doc_id, is_target,
         unnest(list_concat(
           l,
           CASE WHEN len(l) >= 2
                THEN list_transform(l[1:len(l) - 1], (x, i) -> x || ' ' || l[i + 1])
                ELSE CAST([] AS VARCHAR[]) END
         )) AS g
  FROM dnorm
),
dbuck AS MATERIALIZED (
  SELECT doc_id, is_target,
         CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 64 AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM dgrams GROUP BY 1, 2, 3
),
dtgt AS MATERIALIZED (SELECT b, sum(c) AS ctt FROM dbuck WHERE is_target GROUP BY b),
draw AS MATERIALIZED (SELECT b, sum(c) AS cr FROM dbuck GROUP BY b),
dtots AS MATERIALIZED (SELECT (SELECT CAST(sum(ctt) AS DOUBLE) FROM dtgt) AS nt,
                 (SELECT CAST(sum(cr) AS DOUBLE) FROM draw) AS nr),
dratio AS MATERIALIZED (
  SELECT draw.b,
         ln((coalesce(dtgt.ctt, 0) + 1.0) / (dtots.nt + 64.0))
         - ln((draw.cr + 1.0) / (dtots.nr + 64.0)) AS lr
  FROM draw LEFT JOIN dtgt USING (b) CROSS JOIN dtots
),
dkeyed AS MATERIALIZED (
  SELECT doc_id,
         round(sum(c * lr) / 1.0 + ({_DSIR_GUMBEL}), 6) AS sample_key
  FROM dbuck JOIN dratio USING (b) GROUP BY doc_id
),
dkept AS MATERIALIZED (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rk,
           (SELECT count(*) FROM dkeyed) AS n
    FROM dkeyed
  ) WHERE rk <= ceil(0.5 * n)
),
surv5 AS MATERIALIZED (SELECT surv4.* FROM surv4 JOIN dkept ON surv4.doc_id = dkept.doc_id),
mixw AS MATERIALIZED (
  SELECT * FROM (VALUES ('en', 0.9), ('fr', 0.5), ('de', 0.5), ('es', 0.5), ('zh', 0.2))
    AS t(lang, keep_frac)
),
surv6 AS MATERIALIZED (
  SELECT surv5.doc_id, surv5.lang, surv5.ct
  FROM surv5 LEFT JOIN mixw ON surv5.lang IS NOT DISTINCT FROM mixw.lang
  WHERE {_UHASH.format(salt="mix")} < coalesce(keep_frac, 0.0)
),
pbase AS MATERIALIZED (
  SELECT lang, doc_id,
         CAST(len({_CT_TOKS}) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM surv6
),
p AS (
  SELECT lang, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id,
         CAST(0 AS BIGINT) AS pack_offset,
         n_tokens AS cum
  FROM pbase WHERE rn = 1
  UNION ALL
  SELECT b.lang, b.doc_id, b.n_tokens, b.rn,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN pp.pack_id + 1 ELSE pp.pack_id END,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE pp.cum END,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN b.n_tokens ELSE pp.cum + b.n_tokens END
  FROM p pp JOIN pbase b ON b.lang = pp.lang AND b.rn = pp.rn + 1
)
SELECT 'stage' AS part, 'c4' AS k1, CAST(NULL AS VARCHAR) AS k2,
       CAST((SELECT count(*) FROM c4k) AS DOUBLE) AS v1,
       CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3
UNION ALL
SELECT 'stage', 'exact', NULL, CAST((SELECT count(*) FROM ex) AS DOUBLE), NULL, NULL
UNION ALL
SELECT 'stage', 'neardup', NULL, CAST((SELECT count(*) FROM surv3) AS DOUBLE), NULL, NULL
UNION ALL
SELECT 'stage', 'gate', NULL, CAST((SELECT count(*) FROM surv4) AS DOUBLE), NULL, NULL
UNION ALL
SELECT 'stage', 'dsir', NULL, CAST((SELECT count(*) FROM surv5) AS DOUBLE), NULL, NULL
UNION ALL
SELECT 'stage', 'mix', NULL, CAST((SELECT count(*) FROM surv6) AS DOUBLE), NULL, NULL
UNION ALL
SELECT 'packed', lang, CAST(doc_id AS VARCHAR),
       CAST(n_tokens AS DOUBLE), CAST(pack_id AS DOUBLE), CAST(pack_offset AS DOUBLE)
FROM p
"""


# The pipeline CTE chain through surv5 (the DSIR survivors), reused by the
# temperature-planned mixing twin below — split at the static-mix CTE.
_CURATION_CTES_TO_SURV5 = _CURATION_PIPELINE_ORACLE.split(",\nmixw AS MATERIALIZED")[0]
if not _CURATION_CTES_TO_SURV5.rstrip().endswith(
    "surv5 AS MATERIALIZED (SELECT surv4.* FROM surv4 JOIN dkept"
    " ON surv4.doc_id = dkept.doc_id)"
):
    # explicit raise, not assert: python -O would strip an assert and let a
    # drifted split marker surface as an opaque DuckDB parse error instead
    raise RuntimeError("curation oracle split drifted — fix the split marker")

# The planned-mix CTE chain (core chain + temperature plan + planned-rate
# mix), shared by the tempmix certification and the weighted-draw twin
# that extends it further.
_TEMPMIX_CTES = (
    _CURATION_CTES_TO_SURV5
    + f""",
tm AS MATERIALIZED (
  SELECT lang, sum(CAST(length(ct) AS DOUBLE)) AS t FROM surv5 GROUP BY lang
),
ts AS MATERIALIZED (SELECT sum(pow(t, 0.7)) AS tp FROM tm),
tplan AS MATERIALIZED (
  SELECT lang,
         round(t, 6) AS n_units,
         round(pow(t, 0.7) / ts.tp, 6) AS mix_share,
         round(CASE WHEN t > 0
               THEN least(1.0, 10000.0 * (pow(t, 0.7) / ts.tp) / t)
               ELSE 0.0 END, 6) AS sample_rate
  FROM tm CROSS JOIN ts
),
tsurv AS MATERIALIZED (
  SELECT surv5.doc_id, surv5.lang, surv5.ct
  FROM surv5 LEFT JOIN tplan ON surv5.lang IS NOT DISTINCT FROM tplan.lang
  WHERE {_UHASH.format(salt="mix")} < coalesce(sample_rate, 0.0)
)"""
)

_CURATION_TEMPMIX_ORACLE = (
    _TEMPMIX_CTES
    + """
SELECT 'plan' AS part, lang AS k1,
       n_units AS v1, mix_share AS v2, sample_rate AS v3
FROM tplan
UNION ALL
SELECT 'mixed', lang, CAST(count(*) AS DOUBLE), NULL, NULL
FROM tsurv GROUP BY lang
"""
)

# The weighted-budget-draw tail: Efraimidis–Spirakis A-ES over the
# planned-mix survivors, weight = the gate stage's 6dp quality score
# normalized to its global max (sampling.weighted_sample_k's scale-free
# contract), then greedy first-fit packing of the DRAWN corpus — the
# final token-budgeted training set. Mirrors mix_and_pack(sample_k=32).
_CURATION_WDRAW_ORACLE = (
    _TEMPMIX_CTES
    + f""",
wbase AS MATERIALIZED (
  SELECT t.doc_id, t.lang, t.ct, gq.quality
  FROM tsurv t JOIN gq ON t.doc_id = gq.doc_id
  WHERE gq.quality IS NOT NULL AND gq.quality > 0
),
wmaxq AS MATERIALIZED (SELECT max(quality) AS wm FROM wbase),
wkey AS MATERIALIZED (
  SELECT doc_id, lang, ct,
         round(-ln((CAST('0x' || substring(md5('wdraw:' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) + 0.5) / 1152921504606846976.0)
               / (quality / wmaxq.wm), 9) AS sample_key
  FROM wbase CROSS JOIN wmaxq
),
wdrawn AS MATERIALIZED (
  SELECT doc_id, lang, ct, sample_key,
         CAST(row_number() OVER (ORDER BY sample_key, doc_id) AS BIGINT)
           AS sample_rank
  FROM wkey
  QUALIFY row_number() OVER (ORDER BY sample_key, doc_id) <= 32
),
wpbase AS MATERIALIZED (
  SELECT lang, doc_id, CAST(len({_CT_TOKS}) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM wdrawn
),
wp AS (
  SELECT lang, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id,
         CAST(0 AS BIGINT) AS pack_offset,
         n_tokens AS cum
  FROM wpbase WHERE rn = 1
  UNION ALL
  SELECT b.lang, b.doc_id, b.n_tokens, b.rn,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN pp.pack_id + 1 ELSE pp.pack_id END,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE pp.cum END,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN b.n_tokens ELSE pp.cum + b.n_tokens END
  FROM wp pp JOIN wpbase b ON b.lang = pp.lang AND b.rn = pp.rn + 1
)
SELECT 'draw' AS part, lang AS k1, CAST(doc_id AS VARCHAR) AS k2,
       sample_key AS v1, CAST(sample_rank AS DOUBLE) AS v2,
       CAST(NULL AS DOUBLE) AS v3
FROM wdrawn
UNION ALL
SELECT 'packed', lang, CAST(doc_id AS VARCHAR),
       CAST(n_tokens AS DOUBLE), CAST(pack_id AS DOUBLE), CAST(pack_offset AS DOUBLE)
FROM wp
"""
)


# ---------------------------------------------------------------------------
# CHAIN-ONCE / CERTIFY-MANY: the three curation certifications (static mix,
# planned temperature mix, weighted budget draw) differ only in their
# stage-6/7 TAIL — the expensive stage-1..5 chain (C4 → exact dedup →
# LSH/Jaccard/CC near-dup → quality/lang gate → DSIR) is byte-identical
# across them. Each used to re-run the whole chain (r9 bench: ~6.5 s of
# duplicated certified work PER tail inside one family head); now the
# checkpointed core is built once per (session, corpus) and every tail
# reads the same materialized stage frames — the same build-once/
# read-many discipline as the at-rest sketch/index certifications
# (llm_hh_atrest, llm_stream_ingest). Value-neutral by construction: the
# tails consume the identical frames the per-tail chains produced.
# ---------------------------------------------------------------------------
_CURATION_CORE_CACHE: dict[tuple[str, str], dict] = {}


def _shared_curation_core(spark, sf_dir):
    """One cached checkpointed stage-1..5 chain per (session, corpus).

    Contract (shared with every at-rest store in this module): the corpus
    under ``sf_dir`` is immutable within a Spark session — regenerating
    the parquet in place mid-session would serve stale checkpointed
    stages, exactly as it would serve a stale hh/kmv/bm25 store. The
    cache holds ONE corpus (cleared on miss): alternating corpora
    query-by-query re-pays the chain per switch, which certification and
    bench never do."""
    import os as _os

    from aave_etl_spark.plans.curation import curate_core

    key = (spark.sparkContext.applicationId, _os.path.realpath(sf_dir))
    if key not in _CURATION_CORE_CACHE:
        _CURATION_CORE_CACHE.clear()  # hold ONE corpus chain per session
        docs = t(spark, sf_dir, "documents").withColumn(
            "text",
            F.expr("replace(text, ' table ', concat('.', chr(10), 'table '))"),
        )
        _CURATION_CORE_CACHE[key] = curate_core(docs)
    return _CURATION_CORE_CACHE[key]


@register(
    "llm_curation_tempmix",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_CURATION_TEMPMIX_ORACLE,
    doc=(
        "LLM curation: the PLANNED-mix pipeline shape — temperature"
        " mixture rates (share ∝ char-mass^0.7, budget 10k chars) planned"
        " FROM the gated corpus itself (DSIR survivors) and fed straight"
        " into the deterministic-hash domain mixer; certifies both the"
        " plan rows and the per-language mixed survivor counts against the"
        " chained-CTE oracle of the full upstream pipeline (stages 1-5"
        " shared with the static-mix and weighted-draw certifications —"
        " chain-once/certify-many)"
    ),
)
def llm_curation_tempmix(spark, sf_dir):
    from aave_etl_spark.plans.curation import mix_and_pack

    core = _shared_curation_core(spark, sf_dir)
    stages = mix_and_pack(core, spark, mix_temperature=0.7, mix_budget=10000.0)
    plan = stages["mix_plan"].selectExpr(
        "'plan' AS part", "lang AS k1",
        "n_units AS v1", "mix_share AS v2", "sample_rate AS v3",
    )
    mixed = (
        stages["mix"]
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("v1"))
        .selectExpr(
            "'mixed' AS part", "lang AS k1", "v1",
            "CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3",
        )
    )
    return plan.unionByName(mixed)


@register(
    "llm_curation_pipeline",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_CURATION_PIPELINE_ORACLE,
    doc=(
        "LLM curation PIPELINE end-to-end: C4 line-clean -> exact dedup on"
        " clean_md5 -> MinHash-LSH/Jaccard/CC near-dup keeper -> quality +"
        " language gate -> DSIR importance resample -> domain mixing ->"
        " greedy sequence packing, certified as one flow (per-stage"
        " survivor counts + the final packed assignment) against the"
        " chained-CTE composition of every stage's certified oracle;"
        " stages 1-5 shared with the planned-mix and weighted-draw"
        " certifications (chain-once/certify-many)"
    ),
)
def llm_curation_pipeline(spark, sf_dir):
    from functools import reduce

    from aave_etl_spark.plans.curation import mix_and_pack

    core = _shared_curation_core(spark, sf_dir)
    stages = {**core, **mix_and_pack(core, spark)}  # static DEFAULT_MIX tail

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).cast("double").alias("v1")).selectExpr(
            "'stage' AS part", f"'{name}' AS k1", "CAST(NULL AS STRING) AS k2",
            "v1", "CAST(NULL AS DOUBLE) AS v2", "CAST(NULL AS DOUBLE) AS v3",
        )

    arms = [
        cnt(stages[name], name)
        for name in ("c4", "exact", "neardup", "gate", "dsir", "mix")
    ] + [
        stages["packed"].selectExpr(
            "'packed' AS part", "lang AS k1", "CAST(doc_id AS STRING) AS k2",
            "CAST(n_tokens AS DOUBLE) AS v1", "CAST(pack_id AS DOUBLE) AS v2",
            "CAST(pack_offset AS DOUBLE) AS v3",
        ),
    ]
    return reduce(lambda a, b: a.unionByName(b), arms)


@register(
    "llm_curation_wdraw",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=_CURATION_WDRAW_ORACLE,
    doc=(
        "LLM curation: the QUALITY-WEIGHTED budget draw wired into the"
        " pipeline — plan (temperature mixture) -> mix -> Efraimidis-"
        "Spirakis draw of exactly 32 docs weight-proportional to the gate"
        " stage's quality score (carried through the chain; scale-free"
        " max-normalized clock keys) -> greedy packing of the DRAWN"
        " corpus; certifies the drawn set (keys + ranks) AND its packed"
        " assignment against the chained-CTE oracle — the production"
        " sampling story: curate to a token budget, weighted by quality"
    ),
)
def llm_curation_wdraw(spark, sf_dir):
    from aave_etl_spark.plans.curation import mix_and_pack

    core = _shared_curation_core(spark, sf_dir)
    stages = mix_and_pack(
        core, spark, mix_temperature=0.7, mix_budget=10000.0, sample_k=32
    )
    drawn = stages["draw"].selectExpr(
        "'draw' AS part", "lang AS k1", "CAST(doc_id AS STRING) AS k2",
        "sample_key AS v1", "CAST(sample_rank AS DOUBLE) AS v2",
        "CAST(NULL AS DOUBLE) AS v3",
    )
    packed = stages["packed"].selectExpr(
        "'packed' AS part", "lang AS k1", "CAST(doc_id AS STRING) AS k2",
        "CAST(n_tokens AS DOUBLE) AS v1", "CAST(pack_id AS DOUBLE) AS v2",
        "CAST(pack_offset AS DOUBLE) AS v3",
    )
    return drawn.unionByName(packed)


# ---------------------------------------------------------------------------
# §2.10 streaming, certified AT REST: the availableNow incremental corpus
# ingest (streaming/micro_batch.py incremental_corpus_ingest) was pytest-
# only by construction; this query runs the REAL streaming machinery —
# file-source readStream, availableNow trigger, foreachBatch content-level
# dedup, checkpointed restart draining only the files that landed since —
# and certifies the table the stream leaves behind. The landing input is
# pre-deduplicated to one doc per content digest (min doc_id) so the
# within-batch dropDuplicates pick is deterministic; batch 2 adds replicas
# of batch-1 content under fresh ids, which the corpus anti-join must
# drop. Final at-rest corpus == one row per distinct digest with its
# min-doc_id representative — exactly the oracle's group-by.
# ---------------------------------------------------------------------------
@register(
    "llm_stream_ingest",
    export=False,  # driver slot held by its family head (time_rollup_family)
    oracle=f"""
    WITH d AS (SELECT doc_id, md5({_NORM}) AS digest FROM documents),
    keep AS (SELECT digest, min(doc_id) AS doc_id FROM d GROUP BY digest)
    SELECT doc_id, digest FROM keep
    """,
    doc=(
        "streaming ingest certified at rest: two availableNow drains of a"
        " file-source stream through foreachBatch content dedup (batch-2"
        " replicas dropped by the corpus anti-join), reading back the"
        " appended store table the stream produced"
    ),
)
def llm_stream_ingest(spark, sf_dir):
    import os
    import shutil

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.operators.dedup import normalize_text
    from aave_etl_spark.streaming.micro_batch import (
        incremental_corpus_ingest,
        stream_lake_table,
    )

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir

    # per-session root (applicationId) — the reset+drain+read sequence is
    # not concurrency-safe across processes, so the root is never shared;
    # the helper also sweeps dead sessions' roots (corpus + landing +
    # checkpoint add up) so /tmp stays bounded across harness runs
    root = session_scratch_dir(
        spark, "aave_etl_spark_stream_ingest", corpus_key(sf_dir)
    )
    landing = os.path.join(root, "landing")
    ckpt = os.path.join(root, "ckpt")
    store = TableStore(spark, os.path.join(root, "warehouse"))
    # drain-once / read-many (the at-rest IVF discipline): the FIRST
    # invocation in a session runs the real streaming machinery end-to-end
    # and stamps a completion marker LAST; repeat invocations (bench
    # passes, driver cert re-runs) certify the AT-REST table the stream
    # left behind — which is exactly the claim this query makes. An
    # interrupted drain leaves no marker, so the next call resets and
    # re-drains from scratch.
    if store.is_complete("corpus") and store.exists("corpus"):
        return store.read("corpus").select("doc_id", "digest")
    store.clear_complete("corpus")  # marker first (protocol order)
    shutil.rmtree(root, ignore_errors=True)

    docs = t(spark, sf_dir, "documents")
    keep = (
        docs.withColumn("digest", F.md5(normalize_text("text")))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", "text")
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    # batch 1: even-parity representatives
    keep.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(landing)
    q1 = incremental_corpus_ingest(
        store, stream_lake_table(spark, landing, schema), ckpt
    )
    # awaitTermination returns False on timeout — a drain still in flight.
    # Proceeding would start a second query on the same checkpoint (Spark
    # raises) or, worse, let mark_complete stamp a corpus a live query is
    # still appending to. Fail loudly instead; no marker is stamped, so
    # the next invocation resets and re-drains from scratch.
    if not q1.awaitTermination(300):
        q1.stop()
        raise RuntimeError("stream_ingest: drain 1 did not finish in 300s")
    # batch 2: odd-parity representatives + replicas of batch-1 content
    # under fresh ids (must be anti-joined away against the at-rest corpus)
    batch2 = keep.filter(F.col("doc_id") % 2 == 1).unionByName(
        keep.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
        )
    )
    batch2.write.mode("append").parquet(landing)
    q2 = incremental_corpus_ingest(
        store, stream_lake_table(spark, landing, schema), ckpt
    )
    if not q2.awaitTermination(300):
        q2.stop()
        raise RuntimeError("stream_ingest: drain 2 did not finish in 300s")
    store.mark_complete("corpus")  # stamped LAST: both drains landed
    return store.read("corpus").select("doc_id", "digest")


# ---------------------------------------------------------------------------
# The DAILY TRAINING-CORPUS pipeline (plans/corpus_pipeline.py) certified
# END-TO-END through the orchestration layer: two days of batches where
# day 2 plants exact replicas of day-1 content (fresh ids, +10M) and
# near-dup variants (one trailer sentence appended, +20M); day 2's clean
# asset must drop the replicas via the at-rest digest anti-join and the
# variants via minhash_index_match → exact-Jaccard verify against the
# at-rest band index day 1's state asset built. The oracle chains the
# certified fragments: digest-min exact dedup, the MinHash/LSH banding
# CTEs (cross-side new×corpus), the quality/language gate, the recursive
# greedy pack, and the per-(day, lang) stats rollup.
# ---------------------------------------------------------------------------
# the landing → within-batch exact → cross-corpus exact → cross-corpus
# near-dup chain, factored so every corpus-state certification (the run
# itself, the DSIR distribution state, the stop-term state) derives its
# expected CLEAN corpus from the same CTEs
_CORPUS_CLEAN_CTES = f"""b1 AS (
  SELECT doc_id, lang, text, CAST('2024-01-01' AS DATE) AS day
  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
),
b2 AS (
  SELECT doc_id, lang, text, CAST('2024-01-02' AS DATE) AS day
  FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 10000000, lang, text, CAST('2024-01-02' AS DATE)
  FROM documents WHERE doc_id % 4 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 20000000, lang,
         text || ' shared boilerplate trailer appended here',
         CAST('2024-01-02' AS DATE)
  FROM documents WHERE doc_id % 4 = 2 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 30000000, lang,
         text || ' same day paraphrase trailer appended',
         CAST('2024-01-02' AS DATE)
  FROM documents WHERE doc_id % 8 = 1 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 40000000, lang,
         'crossday opener unique' || CAST(doc_id AS VARCHAR)
           || ' tokens lead ' || array_to_string(({_TOKS})[1:8], ' ')
           || ' trail unique' || CAST(doc_id AS VARCHAR) || ' closing words',
         CAST('2024-01-02' AS DATE)
  FROM documents
  WHERE doc_id % 16 = 2 AND text IS NOT NULL AND len({_TOKS}) >= 8
),
c1e AS MATERIALIZED (
  SELECT day, doc_id, lang, text FROM (
    SELECT b1.*, min(doc_id) OVER (PARTITION BY md5({_NORM})) AS k0 FROM b1
  ) WHERE doc_id = k0
),
d2w AS MATERIALIZED (
  SELECT day, doc_id, lang, text FROM (
    SELECT b2.*, min(doc_id) OVER (PARTITION BY md5({_NORM})) AS k0 FROM b2
  ) WHERE doc_id = k0
),
wnorm AS (
  SELECT day, doc_id, {_TOKS} AS toks FROM (
    SELECT day, doc_id, text FROM c1e
    UNION ALL SELECT day, doc_id, text FROM d2w) u
),
wsh AS MATERIALIZED (
  SELECT DISTINCT day, doc_id, shingle FROM (
    SELECT day, doc_id,
           unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]) AS shingle
    FROM wnorm WHERE len(toks) >= 3)
),
wmh AS MATERIALIZED (
  SELECT day, doc_id, h,
         min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
  FROM wsh CROSS JOIN (SELECT unnest(range(0, 8)) AS h) hs
  GROUP BY day, doc_id, h
),
wbk AS MATERIALIZED (
  SELECT day, doc_id, CAST(floor(h / 2) AS INT) AS band,
         md5(string_agg(CAST(h AS VARCHAR) || ':' || minhash, '|'
                        ORDER BY CAST(h AS VARCHAR) || ':' || minhash)) AS band_key
  FROM wmh GROUP BY day, doc_id, CAST(floor(h / 2) AS INT)
),
wcand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM wbk a JOIN wbk b
    ON a.day = b.day AND a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
wsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM wsh GROUP BY doc_id),
winter AS MATERIALIZED (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM wcand p
  JOIN wsh a ON a.doc_id = p.id_a
  JOIN wsh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b
),
wdup AS MATERIALIZED (
  SELECT DISTINCT i.id_b AS doc_id
  FROM winter i
  JOIN wsz sa ON i.id_a = sa.doc_id
  JOIN wsz sb ON i.id_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE)
        / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
),
c1 AS MATERIALIZED (
  SELECT * FROM c1e WHERE doc_id NOT IN (SELECT doc_id FROM wdup)
),
s1t AS MATERIALIZED (SELECT day, doc_id, lang, text, {_TOKS} AS l FROM c1),
s1w AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(l[i:i+7], ' ')) AS h
  FROM s1t, unnest(range(1, len(l) - 6)) r(i) WHERE len(l) >= 8
),
s1dup AS (SELECT h FROM s1w GROUP BY h HAVING count(*) > 1),
s1fd AS (SELECT h, min(doc_id) AS fdoc FROM s1w GROUP BY h),
s1fp AS (
  SELECT w.h, f.fdoc, min(w.pos) AS fpos
  FROM s1w w JOIN s1fd f ON w.h = f.h AND w.doc_id = f.fdoc
  GROUP BY w.h, f.fdoc
),
s1fl AS (
  SELECT w.doc_id, w.pos
  FROM s1w w JOIN s1dup USING (h) JOIN s1fp p ON w.h = p.h
  WHERE NOT (w.doc_id = p.fdoc AND w.pos = p.fpos)
),
s1cov AS (
  SELECT DISTINCT doc_id, pos + j AS tp FROM s1fl, unnest(range(0, 8)) r(j)
),
s1tok AS (
  SELECT doc_id, i - 1 AS tp, l[i] AS tok
  FROM s1t, unnest(range(1, len(l) + 1)) r(i)
),
s1reb AS (
  SELECT doc_id, count(*) AS nk, string_agg(tok, ' ' ORDER BY tp) AS txt
  FROM (SELECT t.doc_id, t.tp, t.tok FROM s1tok t
        ANTI JOIN s1cov c ON t.doc_id = c.doc_id AND t.tp = c.tp)
  GROUP BY doc_id
),
c1r AS MATERIALIZED (
  SELECT t.day, t.doc_id, t.lang,
         CASE WHEN len(l) - coalesce(r.nk, 0) > 0
              THEN coalesce(r.txt, '') ELSE t.text END AS text
  FROM s1t t LEFT JOIN s1reb r USING (doc_id)
),
sp1 AS MATERIALIZED (
  SELECT DISTINCT md5(array_to_string(l[i:i+7], ' ')) AS h
  FROM (SELECT {_TOKS} AS l FROM c1r) t, unnest(range(1, len(l) - 6)) r(i)
  WHERE len(l) >= 8
),
d2n AS MATERIALIZED (
  SELECT * FROM d2w WHERE doc_id NOT IN (SELECT doc_id FROM wdup)
),
d2x AS MATERIALIZED (
  SELECT * FROM d2n
  WHERE md5({_NORM}) NOT IN (SELECT md5({_NORM}) FROM c1r)
),
cnorm AS (
  SELECT 'new' AS side, doc_id, {_TOKS} AS toks FROM d2x
  UNION ALL
  SELECT 'corpus', doc_id, {_TOKS} FROM c1r
),
csh AS MATERIALIZED (
  SELECT DISTINCT side, doc_id, shingle FROM (
    SELECT side, doc_id,
           unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]) AS shingle
    FROM cnorm WHERE len(toks) >= 3
  )
),
cmh AS MATERIALIZED (
  SELECT side, doc_id, h,
         min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
  FROM csh CROSS JOIN (SELECT unnest(range(0, 8)) AS h) hs
  GROUP BY side, doc_id, h
),
cb AS MATERIALIZED (
  SELECT side, doc_id, CAST(floor(h / 2) AS INT) AS band,
         md5(string_agg(CAST(h AS VARCHAR) || ':' || minhash, '|'
                        ORDER BY CAST(h AS VARCHAR) || ':' || minhash)) AS band_key
  FROM cmh GROUP BY side, doc_id, CAST(floor(h / 2) AS INT)
),
ccand AS MATERIALIZED (
  SELECT DISTINCT n.doc_id AS id_a, c.doc_id AS id_b
  FROM cb n JOIN cb c ON n.band_key = c.band_key
  WHERE n.side = 'new' AND c.side = 'corpus' AND n.doc_id <> c.doc_id
),
csz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM csh GROUP BY doc_id),
cinter AS MATERIALIZED (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM ccand p
  JOIN csh a ON a.doc_id = p.id_a
  JOIN csh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b
),
cdup AS MATERIALIZED (
  SELECT DISTINCT i.id_a AS doc_id
  FROM cinter i
  JOIN csz sa ON i.id_a = sa.doc_id
  JOIN csz sb ON i.id_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE)
        / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.5
),
c2 AS MATERIALIZED (
  SELECT * FROM d2x WHERE doc_id NOT IN (SELECT doc_id FROM cdup)
),
s2t AS MATERIALIZED (SELECT day, doc_id, lang, text, {_TOKS} AS l FROM c2),
s2w AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(l[i:i+7], ' ')) AS h
  FROM s2t, unnest(range(1, len(l) - 6)) r(i) WHERE len(l) >= 8
),
s2dup AS (SELECT h FROM s2w GROUP BY h HAVING count(*) > 1),
s2fd AS (SELECT h, min(doc_id) AS fdoc FROM s2w GROUP BY h),
s2fp AS (
  SELECT w.h, f.fdoc, min(w.pos) AS fpos
  FROM s2w w JOIN s2fd f ON w.h = f.h AND w.doc_id = f.fdoc
  GROUP BY w.h, f.fdoc
),
s2fl AS (
  SELECT w.doc_id, w.pos
  FROM s2w w JOIN s2dup USING (h) JOIN s2fp p ON w.h = p.h
  WHERE NOT (w.doc_id = p.fdoc AND w.pos = p.fpos)
  UNION
  SELECT w.doc_id, w.pos FROM s2w w JOIN sp1 USING (h)
),
s2cov AS (
  SELECT DISTINCT doc_id, pos + j AS tp FROM s2fl, unnest(range(0, 8)) r(j)
),
s2tok AS (
  SELECT doc_id, i - 1 AS tp, l[i] AS tok
  FROM s2t, unnest(range(1, len(l) + 1)) r(i)
),
s2reb AS (
  SELECT doc_id, count(*) AS nk, string_agg(tok, ' ' ORDER BY tp) AS txt
  FROM (SELECT t.doc_id, t.tp, t.tok FROM s2tok t
        ANTI JOIN s2cov c ON t.doc_id = c.doc_id AND t.tp = c.tp)
  GROUP BY doc_id
),
c2r AS MATERIALIZED (
  SELECT t.day, t.doc_id, t.lang,
         CASE WHEN len(l) - coalesce(r.nk, 0) > 0
              THEN coalesce(r.txt, '') ELSE t.text END AS text
  FROM s2t t LEFT JOIN s2reb r USING (doc_id)
),
cclean AS MATERIALIZED (SELECT * FROM c1r UNION ALL SELECT * FROM c2r),
evsh AS MATERIALIZED (
  SELECT DISTINCT md5(shingle) AS sd FROM (
    SELECT unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]) AS shingle
    FROM (SELECT {_TOKS} AS toks FROM documents
          WHERE doc_id % 16 = 0 AND text IS NOT NULL)
    WHERE len(toks) >= 3)
),
clsh AS MATERIALIZED (
  SELECT DISTINCT day, doc_id, shingle FROM (
    SELECT day, doc_id,
           unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]) AS shingle
    FROM (SELECT day, doc_id, {_TOKS} AS toks FROM cclean)
    WHERE len(toks) >= 3)
),
ccont AS MATERIALIZED (
  SELECT day, doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(coalesce(sum(CASE WHEN sd IN (SELECT sd FROM evsh)
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_overlap
  FROM (SELECT day, doc_id, md5(shingle) AS sd FROM clsh)
  GROUP BY day, doc_id
),
cflag AS MATERIALIZED (
  SELECT doc_id FROM ccont
  WHERE CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.2
)"""

_CORPUS_PACK_CTES = f"""pgbase AS (SELECT day, doc_id, lang, text, {_TOKS} AS toks FROM cclean),
pgfeat AS MATERIALIZED (
  SELECT day, doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(len(list_filter(toks, x -> x IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         (CAST(length(text) AS DOUBLE)
            - CAST(length(regexp_replace(text, '[.,!?;:''"-]', '', 'g')) AS DOUBLE))
           / CAST(length(text) AS DOUBLE) AS punct_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
  FROM pgbase
),
pgq AS (
  SELECT day, doc_id, lang,
         round(CASE WHEN n_words < 5 THEN 0.0 ELSE
           least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.3
           + least(stopword_ratio * 10.0, 1.0) * 0.3
           + distinct_ratio * 0.3
           + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.1 END, 6) AS quality,
         n_words
  FROM pgfeat
),
pgscore AS (
  SELECT day, doc_id,
    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS DOUBLE) / len(toks) AS score_en,
    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS DOUBLE) / len(toks) AS score_fr,
    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS DOUBLE) / len(toks) AS score_de,
    CAST(len(list_filter(toks, x -> x IN ('el','la','y','los'))) AS DOUBLE) / len(toks) AS score_es
  FROM pgbase
),
pgguess AS (
  SELECT day, doc_id,
    CASE
      WHEN greatest(score_en, score_fr, score_de, score_es) <= 0.0 THEN 'und'
      WHEN score_en = greatest(score_en, score_fr, score_de, score_es) THEN 'en'
      WHEN score_fr = greatest(score_en, score_fr, score_de, score_es) THEN 'fr'
      WHEN score_de = greatest(score_en, score_fr, score_de, score_es) THEN 'de'
      ELSE 'es'
    END AS lang_guess
  FROM pgscore
),
pgated AS MATERIALIZED (
  SELECT q.day, q.doc_id, q.lang, CAST(q.n_words AS BIGINT) AS n_tokens
  FROM pgq q JOIN pgguess g ON q.day = g.day AND q.doc_id = g.doc_id
  WHERE q.quality >= 0.5 AND g.lang_guess <> 'und'
    AND q.doc_id NOT IN (SELECT doc_id FROM cflag)
),
ppb AS MATERIALIZED (
  SELECT day, lang, doc_id, n_tokens,
         row_number() OVER (PARTITION BY day, lang ORDER BY doc_id) AS rn
  FROM pgated
),
pp AS (
  SELECT day, lang, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id,
         CAST(0 AS BIGINT) AS pack_offset,
         n_tokens AS cum
  FROM ppb WHERE rn = 1
  UNION ALL
  SELECT b.day, b.lang, b.doc_id, b.n_tokens, b.rn,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN pp.pack_id + 1 ELSE pp.pack_id END,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE pp.cum END,
         CASE WHEN pp.cum + b.n_tokens > 256 THEN b.n_tokens ELSE pp.cum + b.n_tokens END
  FROM pp JOIN ppb b ON b.day = pp.day AND b.lang = pp.lang AND b.rn = pp.rn + 1
)"""

_CORPUS_RUN_ORACLE = f"""
WITH RECURSIVE
{_CORPUS_CLEAN_CTES},
{_CORPUS_PACK_CTES}
SELECT 'clean' AS part, CAST(day AS VARCHAR) AS k1,
       CAST(doc_id AS VARCHAR) AS k2, CAST(NULL AS VARCHAR) AS k3,
       CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS DOUBLE) AS v3
FROM cclean
UNION ALL
SELECT 'packed', CAST(day AS VARCHAR), lang, CAST(doc_id AS VARCHAR),
       CAST(n_tokens AS DOUBLE), CAST(pack_id AS DOUBLE),
       CAST(pack_offset AS DOUBLE)
FROM pp
UNION ALL
SELECT 'stats', CAST(day AS VARCHAR), lang, NULL,
       CAST(count(*) AS DOUBLE), CAST(sum(n_tokens) AS DOUBLE),
       CAST(max(pack_id) + 1 AS DOUBLE)
FROM pp GROUP BY day, lang
"""


def _corpus_run_store(spark, sf_dir):
    """Run the 2-day corpus pipeline (plans/corpus_pipeline.py) through
    the orchestration layer into a session-scoped scratch store ONCE per
    (session, corpus), and return the store — shared by every corpus-state
    certification (the e2e run, the DSIR distribution state, the stop-term
    state), so the driver pays the build exactly once per round."""
    import shutil

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans.corpus_pipeline import corpus_pipeline_graph
    from aave_etl_spark.plans.orchestration import run_day

    root = session_scratch_dir(spark, "aave_etl_spark_corpus_run", corpus_key(sf_dir))
    store = TableStore(spark, root)
    done = store.is_complete("corpus_packed") and all(
        store.exists(n)
        for n in (
            "corpus_packed",
            "corpus_clean",
            "corpus_stats",
            "corpus_dsir_state",
            "corpus_postings_hh",
            "corpus_stopterms",
            "corpus_eval_shingles",
            "corpus_contam",
            "corpus_shards",
            "corpus_lm_state",
            "corpus_lm_quality",
        )
    )
    if not done:
        # run-once/read-many: reset the whole scratch root (the state
        # tables chain across days, so a partial prior run must not leak)
        store.clear_complete("corpus_packed")
        shutil.rmtree(root, ignore_errors=True)
        base = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        d1 = base.filter("doc_id % 2 = 0").withColumn(
            "day", F.to_date(F.lit("2024-01-01"))
        )
        d2 = (
            base.filter("doc_id % 2 = 1")
            .unionByName(
                base.filter("doc_id % 4 = 0").select(
                    (F.col("doc_id") + 10_000_000).alias("doc_id"), "lang", "text"
                )
            )
            .unionByName(
                base.filter("doc_id % 4 = 2").select(
                    (F.col("doc_id") + 20_000_000).alias("doc_id"),
                    "lang",
                    F.concat(
                        "text", F.lit(" shared boilerplate trailer appended here")
                    ).alias("text"),
                )
            )
            .unionByName(
                # SAME-DAY paraphrase near-dups of day-2's own odd docs:
                # the within-batch banding pass must keep only the lower
                # (original) id of every pair whose bands collide and whose
                # exact Jaccard verifies (round 12)
                base.filter("doc_id % 8 = 1").select(
                    (F.col("doc_id") + 30_000_000).alias("doc_id"),
                    "lang",
                    F.concat(
                        "text", F.lit(" same day paraphrase trailer appended")
                    ).alias("text"),
                )
            )
            .unionByName(
                # CROSS-DAY boilerplate (round 13): one 8-token span lifted
                # verbatim from a day-1 doc inside otherwise-unique text —
                # far below doc-level Jaccard, so only the span rung (the
                # at-rest corpus_spans state) cuts it; keeper = the day-1
                # occurrence
                base.filter("doc_id % 16 = 2")
                .filter(
                    F.size(F.split(dedup.normalize_text("text"), " ")) >= 8
                )
                .select(
                    (F.col("doc_id") + 40_000_000).alias("doc_id"),
                    "lang",
                    F.concat(
                        F.lit("crossday opener unique"),
                        F.col("doc_id").cast("string"),
                        F.lit(" tokens lead "),
                        F.concat_ws(
                            " ",
                            F.slice(
                                F.split(dedup.normalize_text("text"), " "),
                                1,
                                8,
                            ),
                        ),
                        F.lit(" trail unique"),
                        F.col("doc_id").cast("string"),
                        F.lit(" closing words"),
                    ).alias("text"),
                )
            )
            .withColumn("day", F.to_date(F.lit("2024-01-02")))
        )
        landing = d1.unionByName(d2)
        # the eval set the decontamination gate protects: every %16 doc —
        # their day-1 originals are fully contaminated (ratio 1.0) and
        # must be barred from gating/packing on both engines
        bench = base.filter("doc_id % 16 = 0").select("doc_id", "text")
        graph = corpus_pipeline_graph()
        for day in ("2024-01-01", "2024-01-02"):
            run_day(
                spark,
                store,
                graph,
                day,
                markets=[],
                resources={"landing": landing, "benchmarks": bench},
            )
        store.mark_complete("corpus_packed")
    return store


@register(
    "llm_corpus_pipeline_run",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=_CORPUS_RUN_ORACLE,
    doc=(
        "the DAILY training-corpus pipeline run END-TO-END through the"
        " orchestration layer (plans/corpus_pipeline.py): two days of"
        " batches — day 2 plants exact replicas and near-dup variants of"
        " day-1 content under fresh ids — flow landing -> within-batch +"
        " cross-corpus dedup (at-rest digest anti-join; minhash index"
        " match -> exact-Jaccard verify against the band index day 1"
        " built) -> quality/language gate -> per-(day, lang) greedy"
        " packing -> stats rollup, every table read back FROM THE STORE"
        " and certified against one chained-CTE oracle — entry point 1"
        " for the LLM-data side, the financial events pipeline's twin"
    ),
)
def llm_corpus_pipeline_run(spark, sf_dir):
    store = _corpus_run_store(spark, sf_dir)
    clean = store.read("corpus_clean").selectExpr(
        "'clean' AS part", "CAST(day AS STRING) AS k1",
        "CAST(doc_id AS STRING) AS k2", "CAST(NULL AS STRING) AS k3",
        "CAST(NULL AS DOUBLE) AS v1", "CAST(NULL AS DOUBLE) AS v2",
        "CAST(NULL AS DOUBLE) AS v3",
    )
    packed = store.read("corpus_packed").selectExpr(
        "'packed' AS part", "CAST(day AS STRING) AS k1", "lang AS k2",
        "CAST(doc_id AS STRING) AS k3",
        "CAST(n_tokens AS DOUBLE) AS v1", "CAST(pack_id AS DOUBLE) AS v2",
        "CAST(pack_offset AS DOUBLE) AS v3",
    )
    stats = store.read("corpus_stats").selectExpr(
        "'stats' AS part", "CAST(day AS STRING) AS k1", "lang AS k2",
        "CAST(NULL AS STRING) AS k3",
        "CAST(n_docs AS DOUBLE) AS v1", "CAST(sum_tokens AS DOUBLE) AS v2",
        "CAST(n_packs AS DOUBLE) AS v3",
    )
    return clean.unionByName(packed).unionByName(stats)


@register(
    "llm_corpus_span_state",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH {_CORPUS_CLEAN_CTES},
    spw AS (
      SELECT t.day, t.doc_id, i - 1 AS pos,
             md5(array_to_string(l[i:i+7], ' ')) AS h
      FROM (SELECT day, doc_id, {_TOKS} AS l FROM cclean) t,
           unnest(range(1, len(l) - 6)) r(i)
      WHERE len(l) >= 8
    ),
    spcanon AS (
      SELECT h, day, doc_id, pos FROM (
        SELECT h, day, doc_id, pos,
               row_number() OVER (PARTITION BY h
                                  ORDER BY day, doc_id, pos) AS rn
        FROM spw) WHERE rn = 1
    )
    SELECT 'docs' AS part, CAST(day AS VARCHAR) AS k1,
           CAST(doc_id AS VARCHAR) AS k2, text AS k3,
           CAST(NULL AS DOUBLE) AS v1
    FROM cclean
    UNION ALL
    SELECT 'spans', h, CAST(day AS VARCHAR), CAST(doc_id AS VARCHAR),
           CAST(pos AS DOUBLE)
    FROM spcanon
    """,
    doc=(
        "LLM corpus state: the SPAN rung's at-rest state (round 13) —"
        " corpus_docs' stored TEXT BYTES after the pipeline's span-level"
        " rewrite (cross-day boilerplate cut, the stored day-1 keeper"
        " winning; planted +40M docs lift one 8-token span verbatim from"
        " day-1 docs inside otherwise-unique text) plus the corpus_spans"
        " canonical-occurrence table itself, certified equal to a"
        " from-scratch day-aware first-occurrence derivation over the"
        " accumulated rewritten corpus — which is exactly the"
        " incremental append==rebuild contract (dedup.span_index_append"
        " keeps stored keepers; carry-led ordering makes the maintenance"
        " rebuild reproduce them)"
    ),
)
def llm_corpus_span_state(spark, sf_dir):
    store = _corpus_run_store(spark, sf_dir)
    docs = store.read("corpus_docs").selectExpr(
        "'docs' AS part", "CAST(day AS STRING) AS k1",
        "CAST(doc_id AS STRING) AS k2", "text AS k3",
        "CAST(NULL AS DOUBLE) AS v1",
    )
    spans = store.read("corpus_spans").selectExpr(
        "'spans' AS part", "_h AS k1", "CAST(day AS STRING) AS k2",
        "CAST(doc_id AS STRING) AS k3", "CAST(pos AS DOUBLE) AS v1",
    )
    return docs.unionByName(spans)


# the from-scratch LM-quality recomputation over the accumulated clean
# corpus (per-day gram counts, day-1 reference LM, day-2 stupid-backoff
# scores, per-lang percent-rank buckets) — shared by the llm_corpus_lm
# state cert and the llm_corpus_lm_keep tail-drop cert
_CORPUS_LM_CTES = """lml AS (SELECT day, {toks} AS l FROM cclean),
    lmg AS (
      SELECT day, unnest(list_concat(
        list_transform(l, x -> struct_pack(w1 := x, w2 := CAST(NULL AS VARCHAR))),
        CASE WHEN len(l) >= 2
             THEN list_transform(l[1:len(l) - 1],
                                 (x, i) -> struct_pack(w1 := x, w2 := l[i + 1]))
             ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[]) END
      )) AS g FROM lml
    ),
    lmc AS (
      SELECT day, g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS tf
      FROM lmg GROUP BY 1, 2, 3
    ),
    lmuni AS (SELECT w1, sum(tf) AS tf FROM lmc
              WHERE day = DATE '2024-01-01' AND w2 IS NULL GROUP BY w1),
    lmbi AS (SELECT w1, w2, sum(tf) AS tf FROM lmc
             WHERE day = DATE '2024-01-01' AND w2 IS NOT NULL GROUP BY w1, w2),
    lmtot AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM lmuni),
    lmstream AS (
      SELECT day, doc_id, lang, l2[i] AS cur,
             CASE WHEN i > 1 THEN l2[i - 1] END AS prev
      FROM (SELECT day, doc_id, lang, {toks} AS l2 FROM cclean
            WHERE day = DATE '2024-01-02') t,
           unnest(range(1, len(l2) + 1)) r(i)
    ),
    lmsc AS (
      SELECT day, doc_id, lang,
             CASE WHEN prev IS NULL THEN
                    CASE WHEN cu.tf IS NOT NULL
                         THEN CAST(cu.tf AS DOUBLE) / lmtot.n
                         ELSE 0.4 / lmtot.n END
                  WHEN bi.tf IS NOT NULL
                       THEN CAST(bi.tf AS DOUBLE) / CAST(pu.tf AS DOUBLE)
                  ELSE 0.4 * CASE WHEN cu.tf IS NOT NULL
                                  THEN CAST(cu.tf AS DOUBLE) / lmtot.n
                                  ELSE 0.4 / lmtot.n END
             END AS s
      FROM lmstream
      LEFT JOIN lmuni cu ON lmstream.cur = cu.w1
      LEFT JOIN lmuni pu ON lmstream.prev = pu.w1
      LEFT JOIN lmbi bi ON lmstream.prev = bi.w1 AND lmstream.cur = bi.w2
      CROSS JOIN lmtot
    ),
    lmdoc AS (
      SELECT day, doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(-ln(s)), 6) AS nll
      FROM lmsc GROUP BY 1, 2, 3
    ),
    lmq AS (
      SELECT day, doc_id, n_tokens, nll,
             CASE WHEN pr < 0.3 THEN 'head'
                  WHEN pr < 0.6 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM (SELECT *, percent_rank() OVER (PARTITION BY lang
                                           ORDER BY nll, doc_id) AS pr
            FROM lmdoc)
    )""".format(toks=_TOKS)


@register(
    "llm_corpus_lm",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH {_CORPUS_CLEAN_CTES},
    {_CORPUS_LM_CTES}
    SELECT 'counts' AS part, CAST(day AS VARCHAR) AS k1, w1 AS k2, w2 AS k3,
           CAST(tf AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM lmc
    UNION ALL
    SELECT 'quality', CAST(day AS VARCHAR), CAST(doc_id AS VARCHAR), bucket,
           CAST(n_tokens AS DOUBLE), nll
    FROM lmq
    """,
    doc=(
        "LLM corpus state: the ROLLING REFERENCE LM (round 13) — the"
        " per-day stupid-backoff count state (corpus_lm_state: unigram +"
        " bigram tf over each day's clean slice, additive across days)"
        " plus day 2's CCNet-style quality rows (corpus_lm_quality:"
        " stupid-backoff NLL of every day-2 survivor scored against the"
        " DAY-1 LM — strictly-prior-day state, so unseen-bigram and OOV"
        " backoff branches are real — bucketed head/middle/tail at the"
        " 0.3/0.6 percent-ranks per language), both read back FROM THE"
        " STORE and certified against a from-scratch DuckDB derivation"
        " over the accumulated clean corpus (Brants et al. 2007; Wenzek"
        " et al. 2020)"
    ),
)
def llm_corpus_lm(spark, sf_dir):
    store = _corpus_run_store(spark, sf_dir)
    counts = store.read("corpus_lm_state").selectExpr(
        "'counts' AS part", "CAST(day AS STRING) AS k1", "w1 AS k2",
        "w2 AS k3", "CAST(tf AS DOUBLE) AS v1", "CAST(NULL AS DOUBLE) AS v2",
    )
    qual = store.read("corpus_lm_quality").selectExpr(
        "'quality' AS part", "CAST(day AS STRING) AS k1",
        "CAST(doc_id AS STRING) AS k2", "bucket AS k3",
        "CAST(n_tokens AS DOUBLE) AS v1", "avg_neg_logprob AS v2",
    )
    return counts.unionByName(qual)


@register(
    "llm_corpus_lm_keep",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH RECURSIVE
    {_CORPUS_CLEAN_CTES},
    {_CORPUS_PACK_CTES},
    {_CORPUS_LM_CTES}
    SELECT g.doc_id, q.bucket, (q.bucket <> 'tail') AS kept
    FROM (SELECT doc_id FROM pgated WHERE day = DATE '2024-01-02') g
    JOIN lmq q ON g.doc_id = q.doc_id
    """,
    doc=(
        "LLM corpus state: the LM quality bucket made ACTIONABLE (round"
        " 13) — the CCNet keep (pretrain on head+middle, discard the"
        " tail) computed entirely from STORED state (the day's gated ids"
        " + the corpus_lm_quality buckets scored against the"
        " strictly-prior-day rolling reference LM), certified hash-equal"
        " to a from-scratch gate + stupid-backoff + percent-rank-bucket"
        " derivation over the accumulated clean corpus — the"
        " `lm_tail_drop` resource wires the same anti-join into"
        " _corpus_gated's selection (plans/corpus_pipeline.py,"
        " pytest-gated in tests/test_orchestration.py)"
    ),
)
def llm_corpus_lm_keep(spark, sf_dir):
    store = _corpus_run_store(spark, sf_dir)
    gated = store.read(
        "corpus_gated", where="day = DATE '2024-01-02'"
    ).select("doc_id")
    buckets = store.read(
        "corpus_lm_quality", where="day = DATE '2024-01-02'"
    ).select("doc_id", "bucket")
    return gated.join(buckets, "doc_id").select(
        "doc_id", "bucket", (F.col("bucket") != "tail").alias("kept")
    )


# ---------------------------------------------------------------------------
# Incremental DSIR state (plans/corpus_pipeline.py corpus_dsir_state):
# per-day hashed-ngram bucket counts are MERGEABLE (sums commute), so
# importance-weighting a day's batch against the rolled-up stored states
# must hash-match weighting it against a from-scratch rescan of the
# accumulated corpus — the hh/kmv/rsq at-rest pattern applied to DSIR.
# The oracle recomputes everything from first principles over the shared
# clean-chain CTEs; the Spark arm reads ONLY the stored per-day states
# (plus the day-2 batch text it would hold in hand anyway).
# ---------------------------------------------------------------------------
# the from-scratch DSIR recomputation over the accumulated clean corpus
# (buckets, target/raw distributions, Laplace-smoothed log-ratio) — shared
# by the state cert and the round-12 gate-resample cert
_CORPUS_DSIR_CTES = f"""dl AS (SELECT doc_id, day, lang, {_TOKS} AS l FROM cclean),
    dgrams AS (
      SELECT doc_id, day, lang,
             unnest(list_concat(
               l,
               CASE WHEN len(l) >= 2
                    THEN list_transform(l[1:len(l) - 1], (x, i) -> x || ' ' || l[i + 1])
                    ELSE CAST([] AS VARCHAR[]) END
             )) AS g
      FROM dl
    ),
    db AS (
      SELECT doc_id, day, lang,
             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 64 AS b,
             CAST(count(*) AS BIGINT) AS c
      FROM dgrams GROUP BY 1, 2, 3, 4
    ),
    dtgt AS (SELECT b, sum(c) AS ct FROM db WHERE lang = 'en' GROUP BY b),
    draw AS (SELECT b, sum(c) AS cr FROM db GROUP BY b),
    dtots AS (SELECT (SELECT CAST(sum(ct) AS DOUBLE) FROM dtgt) AS nt,
                     (SELECT CAST(sum(cr) AS DOUBLE) FROM draw) AS nr),
    dratio AS (
      SELECT draw.b,
             ln((coalesce(dtgt.ct, 0) + 1.0) / (dtots.nt + 64.0))
             - ln((draw.cr + 1.0) / (dtots.nr + 64.0)) AS lr
      FROM draw LEFT JOIN dtgt USING (b) CROSS JOIN dtots
    )"""


@register(
    "llm_corpus_dsir_state",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH RECURSIVE
    {_CORPUS_CLEAN_CTES},
    {_CORPUS_DSIR_CTES}
    SELECT db.doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           round(sum(c * lr), 6) AS weight
    FROM db JOIN dratio USING (b)
    WHERE db.day = DATE '2024-01-02'
    GROUP BY db.doc_id
    """,
    doc=(
        "LLM corpus state: the daily pipeline's INCREMENTAL DSIR"
        " distribution state — per-day hashed-ngram bucket counts"
        " persisted through the TableStore, rolled up (m-row sums) into"
        " the corpus-so-far target/raw distributions, and day 2's batch"
        " importance-weighted against the rollup; certified equal to a"
        " from-scratch rescan of the accumulated corpus (counts are"
        " mergeable by construction), so the gate is distribution-aware"
        " while reading kilobytes of state instead of the corpus"
    ),
)
def llm_corpus_dsir_state(spark, sf_dir):
    from aave_etl_spark.operators import sampling
    from aave_etl_spark.plans.corpus_pipeline import DSIR_M

    store = _corpus_run_store(spark, sf_dir)
    state = store.read("corpus_dsir_state", where="day <= DATE '2024-01-02'")
    dist = state.groupBy(F.col("b").alias("_b")).agg(
        F.sum("n_target").alias("_ct"), F.sum("n_raw").alias("_cr")
    )
    ratio = sampling.dsir_log_ratio(
        dist.select("_b", "_ct"), dist.select("_b", "_cr"), DSIR_M
    )
    # the day's per-doc buckets come from the STORED corpus_doc_buckets
    # asset (the one gram explode the pipeline ran), so this cert covers
    # the materialized per-doc state too — the oracle recomputes the
    # buckets from raw text, proving the stored frame == a fresh explode
    day2 = store.read(
        "corpus_doc_buckets", where="day = DATE '2024-01-02'"
    ).select("doc_id", F.col("b").alias("_b"), F.col("c").alias("_c"))
    return sampling.dsir_scores(day2, ratio).select(
        "doc_id", "n_grams", F.round("_w", 6).alias("weight")
    )


@register(
    "llm_corpus_dsir_resample",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH RECURSIVE
    {_CORPUS_CLEAN_CTES},
    {_CORPUS_PACK_CTES},
    {_CORPUS_DSIR_CTES},
    rsc AS (
      SELECT db.doc_id, CAST(sum(c) AS BIGINT) AS n_grams, sum(c * lr) AS w
      FROM db JOIN dratio USING (b)
      WHERE db.day = DATE '2024-01-02'
        AND db.doc_id IN (SELECT doc_id FROM pgated
                          WHERE day = DATE '2024-01-02')
      GROUP BY db.doc_id
    ),
    rkeyed AS (
      SELECT doc_id, n_grams, round(w, 6) AS weight,
             round(w / 1.0 + ({_DSIR_GUMBEL}), 6) AS sample_key
      FROM rsc
    )
    SELECT doc_id, n_grams, weight, sample_key,
      (row_number() OVER (ORDER BY sample_key DESC, doc_id)
         <= ceil(0.5 * (SELECT count(*) FROM rkeyed))) AS kept
    FROM rkeyed
    """,
    doc=(
        "LLM corpus state: the gate's DSIR weight made ACTIONABLE (round"
        " 12) — importance RESAMPLING of a day's gate survivors against"
        " the corpus-so-far distribution, computed entirely from STORED"
        " state (rolled-up per-day bucket counts + the materialized"
        " per-doc buckets + the stored gated ids) with the deterministic"
        " Gumbel-top-k keep (ceil(frac*N) largest keys, sampling without"
        " replacement proportional to exp(weight/T)); certified"
        " hash-equal to a from-scratch DSIR resample over the accumulated"
        " corpus — the `dsir_keep_frac` resource wires the same keep into"
        " _corpus_gated's selection (plans/corpus_pipeline.py,"
        " pytest-gated in tests/test_orchestration.py)"
    ),
)
def llm_corpus_dsir_resample(spark, sf_dir):
    from aave_etl_spark.operators import sampling
    from aave_etl_spark.plans.corpus_pipeline import DSIR_M, DSIR_TEMPERATURE

    store = _corpus_run_store(spark, sf_dir)
    state = store.read("corpus_dsir_state", where="day <= DATE '2024-01-02'")
    dist = state.groupBy(F.col("b").alias("_b")).agg(
        F.sum("n_target").alias("_ct"), F.sum("n_raw").alias("_cr")
    )
    ratio = sampling.dsir_log_ratio(
        dist.select("_b", "_ct"), dist.select("_b", "_cr"), DSIR_M
    )
    day2 = store.read(
        "corpus_doc_buckets", where="day = DATE '2024-01-02'"
    ).select("doc_id", F.col("b").alias("_b"), F.col("c").alias("_c"))
    gated = store.read(
        "corpus_gated", where="day = DATE '2024-01-02'"
    ).select("doc_id")
    scored = sampling.dsir_scores(day2, ratio).join(gated, "doc_id", "left_semi")
    keyed = scored.select(
        "doc_id",
        "n_grams",
        F.round("_w", 6).alias("weight"),
        sampling.dsir_sample_key(
            F.col("_w"), F.col("doc_id"), DSIR_TEMPERATURE
        ).alias("sample_key"),
    )
    total = F.broadcast(keyed.agg(F.count(F.lit(1)).cast("double").alias("_n")))
    return (
        sampling.global_desc_rank(keyed, "sample_key", "doc_id")
        .crossJoin(total)
        .select(
            "doc_id",
            "n_grams",
            "weight",
            "sample_key",
            (F.col("_rk") <= F.ceil(F.lit(0.5) * F.col("_n"))).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Stop-term state as a pipeline ASSET (plans/corpus_pipeline.py
# corpus_postings_hh / corpus_stopterms): the per-(day, shard) df heavy-
# hitter sketches the daily run persists roll up — at rest, via the
# orchestrated store — to the corpus's data-planned stop list with honest
# [lb, ub] bounds. The oracle rebuilds the same per-shard partial states
# and merge from the clean-chain CTEs; the Spark arm reads the stored
# rollup TABLE the pipeline maintains.
# ---------------------------------------------------------------------------
@register(
    "llm_corpus_stopterms",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH RECURSIVE
    {_CORPUS_CLEAN_CTES},
    ptoks AS (
      SELECT CAST(day AS VARCHAR) || ':' || CAST(doc_id % 2 AS VARCHAR)
               AS shard,
             unnest(list_distinct({_TOKS})) AS term
      FROM cclean
    ),
    scnt AS (
      SELECT shard, term, CAST(count(*) AS BIGINT) AS c
      FROM ptoks GROUP BY 1, 2
    ),
    srk AS (
      SELECT shard, term, c,
             row_number() OVER (PARTITION BY shard ORDER BY c DESC, term) AS rn
      FROM scnt
    ),
    sparts AS (
      SELECT shard, coalesce(max(CASE WHEN rn > 16 THEN c END), 0) AS rest_max
      FROM srk GROUP BY 1
    ),
    stot AS (SELECT sum(rest_max) AS all_rest FROM sparts),
    spv AS (
      SELECT k.term, CAST(sum(k.c) AS BIGINT) AS count_lb,
             sum(p.rest_max) AS present_rest
      FROM srk k JOIN sparts p ON p.shard = k.shard
      WHERE k.rn <= 16 GROUP BY 1
    ),
    sb AS (
      SELECT pv.term AS value, pv.count_lb,
             CAST(pv.count_lb + t.all_rest - pv.present_rest AS BIGINT)
               AS count_ub
      FROM spv pv CROSS JOIN stot t
    )
    SELECT value, count_lb, count_ub, (count_ub = count_lb) AS exact,
           CAST(row_number() OVER (ORDER BY count_lb DESC, value) AS BIGINT)
             AS rank
    FROM sb
    QUALIFY row_number() OVER (ORDER BY count_lb DESC, value) <= 5
    """,
    doc=(
        "LLM corpus state: the daily pipeline's stop-term/postings state"
        " — per-(day, shard) document-frequency heavy-hitter sketches"
        " maintained as a day-partitioned pipeline asset, rolled up AT"
        " REST through the orchestrated store into the corpus stop list"
        " (top-5 by df lower bound, honest [lb, ub] + exact flag);"
        " retrieval over the growing corpus plans its stop terms from"
        " kilobytes of state, never rescanning postings or text"
    ),
)
def llm_corpus_stopterms(spark, sf_dir):
    store = _corpus_run_store(spark, sf_dir)
    return store.read("corpus_stopterms").select(
        "value", "count_lb", "count_ub", "exact", "rank"
    )


# ---------------------------------------------------------------------------
# Retrieval over the GROWING corpus, self-planning: the pipeline's
# maintained state tables compose end-to-end — postings from the stored
# corpus_docs, the stored corpus_stopterms list anti-joined in, BM25
# probe ranked. Nothing is hand-configured: the stop list came from the
# per-day df sketches the daily run maintains. The oracle rebuilds the
# whole chain (clean corpus → postings → per-(day, shard) HH stop list →
# stop-free probe) from first principles.
# ---------------------------------------------------------------------------
@register(
    "llm_corpus_retrieval",
    export=False,  # driver slot held by its family head (semi_anti_family)
    oracle=f"""
    WITH RECURSIVE
    {_CORPUS_CLEAN_CTES},
    tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM cclean),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    sc AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    post AS (
      SELECT t.doc_id, t.term,
             round(ln(1.0 + ((sc.n_docs - d.df) + 0.5) / (d.df + 0.5))
                   * ((CAST(t.tf AS DOUBLE) * 2.2)
                      / (CAST(t.tf AS DOUBLE)
                         + 1.2 * (0.25 + ((0.75 * CAST(l.dl AS DOUBLE)) / sc.avgdl)))),
                   6) AS bm25
      FROM tf t JOIN dl l USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN sc
    ),
    ptoks AS (
      SELECT CAST(day AS VARCHAR) || ':' || CAST(doc_id % 2 AS VARCHAR)
               AS shard,
             unnest(list_distinct({_TOKS})) AS term
      FROM cclean
    ),
    scnt AS (
      SELECT shard, term, CAST(count(*) AS BIGINT) AS c
      FROM ptoks GROUP BY 1, 2
    ),
    srk AS (
      SELECT shard, term, c,
             row_number() OVER (PARTITION BY shard ORDER BY c DESC, term) AS rn
      FROM scnt
    ),
    stoplist AS (
      SELECT term FROM (
        SELECT k.term, CAST(sum(k.c) AS BIGINT) AS count_lb
        FROM srk k WHERE k.rn <= 16 GROUP BY 1
      )
      QUALIFY row_number() OVER (ORDER BY count_lb DESC, term) <= 5
    ),
    qterms AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT doc_id AS query_id, unnest({_TOKS}) AS term
        FROM cclean WHERE doc_id < 8
      )
    ),
    cprobe AS (
      SELECT q.query_id, p.doc_id AS candidate_id,
             round(sum(p.bm25), 6) AS bm25_score
      FROM post p JOIN qterms q USING (term)
      WHERE p.doc_id <> q.query_id
        AND p.term NOT IN (SELECT term FROM stoplist)
      GROUP BY 1, 2
    )
    SELECT query_id, candidate_id, bm25_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY bm25_score DESC, candidate_id)
                AS BIGINT) AS rank
    FROM cprobe
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY bm25_score DESC, candidate_id) <= 10
    """,
    doc=(
        "LLM retrieval over the GROWING corpus, self-planning end-to-end:"
        " BM25 postings built from the daily pipeline's stored corpus_docs,"
        " the stored corpus_stopterms asset (rolled up from the per-day df"
        " sketches the run maintains) anti-joined into the probe, top-10"
        " per query — no hand-picked stop list or max_df literal anywhere;"
        " the composition the state assets exist for, certified against a"
        " from-first-principles oracle over the same clean chain"
    ),
)
def llm_corpus_retrieval(spark, sf_dir):
    from aave_etl_spark.operators.text import _bm25_probe, bm25_postings

    store = _corpus_run_store(spark, sf_dir)
    docs = store.read("corpus_docs")
    posts = bm25_postings(docs)
    stop = store.read("corpus_stopterms").select(F.col("value").alias("term"))
    clean_posts = posts.join(F.broadcast(stop), "term", "left_anti")
    return _bm25_probe(clean_posts, docs.filter("doc_id < 8"), k=10)


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, A1.1). The synthetic corpus is
# single-line lowercase word salad, so the certification query derives
# line structure the same way the C4 part does (' table ' → sentence
# boundary) and then plants each line-level defect deterministically:
# doc_id%3==0 duplicates every line (dup-line pair trips), %5==0 prepends
# a bullet line and an ellipsis-terminated line, %7==0 appends symbol
# noise (# / … / ...) — so every rule's kept AND dropped arm exercises.
# ---------------------------------------------------------------------------
_GOPHER_TXT_SQL = """
    CASE WHEN doc_id % 5 = 0
         THEN '- bullet item' || chr(10) || 'trailing dots...' || chr(10) || {lined}
         ELSE {lined} END
    || CASE WHEN doc_id % 7 = 0 THEN ' ## xx … yy ...' ELSE '' END
""".format(
    lined="""
    (CASE WHEN doc_id % 3 = 0
          THEN replace(text, ' table ', '.' || chr(10) || 'table ')
               || chr(10)
               || replace(text, ' table ', '.' || chr(10) || 'table ')
          ELSE replace(text, ' table ', '.' || chr(10) || 'table ') END)
"""
)

_GOPHER_STOPS = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"


@register(
    "llm_gopher_quality",
    export=False,  # driver slot held by its family head (llm_text_stats)
    oracle=f"""
    WITH src AS (SELECT doc_id, {_GOPHER_TXT_SQL} AS t FROM documents),
    b AS (
      SELECT doc_id, t,
        string_split(trim(regexp_replace(lower(t), '\\s+', ' ', 'g')), ' ') AS toks,
        string_split(t, chr(10)) AS ls,
        list_sort(string_split(t, chr(10))) AS ss
      FROM src
    ),
    m AS (
      SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS n_words,
        COALESCE(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))), 0) AS word_chars,
        CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE)
          + CAST(length(t) - length(replace(t, '…', '')) AS DOUBLE)
          + CAST(length(t) - length(replace(t, '...', '')) AS DOUBLE) / 3 AS symbols,
        CAST(len(ls) AS DOUBLE) AS n_lines,
        CAST(len(list_filter(ls, x -> substr(ltrim(x), 1, 1) IN ('•', '-', '*'))) AS DOUBLE) AS n_bullet,
        CAST(len(list_filter(ls, x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$'))) AS DOUBLE) AS n_ell,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS n_alpha,
        CAST(len(list_filter({_GOPHER_STOPS}, w -> list_contains(toks, w))) AS BIGINT) AS n_stop_hits,
        CASE WHEN len(ls) >= 2
             THEN list_filter(range(2, len(ls) + 1), i -> ss[i] = ss[i-1])
             ELSE [] END AS dups,
        ss,
        COALESCE(list_sum(list_transform(ls, x -> CAST(length(x) AS DOUBLE))), 0) AS line_chars
      FROM b
    ),
    r AS (
      SELECT doc_id,
        CAST(n_words AS BIGINT) AS n_words,
        round(word_chars / n_words, 6) AS mean_word_len,
        round(symbols / n_words, 6) AS symbol_word_ratio,
        round(n_bullet / n_lines, 6) AS bullet_line_frac,
        round(n_ell / n_lines, 6) AS ellipsis_line_frac,
        round(n_alpha / n_words, 6) AS alpha_word_frac,
        n_stop_hits,
        round(CAST(len(dups) AS DOUBLE) / n_lines, 6) AS dup_line_frac,
        round(CASE WHEN line_chars > 0
              THEN COALESCE(list_sum(list_transform(dups, i -> CAST(length(ss[i]) AS DOUBLE))), 0) / line_chars
              ELSE 0 END, 6) AS dup_line_char_frac
      FROM m
    )
    SELECT *,
      (n_words BETWEEN 20 AND 80)
      AND (mean_word_len BETWEEN 3.0 AND 10.0)
      AND (symbol_word_ratio <= 0.1)
      AND (bullet_line_frac <= 0.9)
      AND (ellipsis_line_frac <= 0.3)
      AND (alpha_word_frac >= 0.8)
      AND (n_stop_hits >= 1)
      AND (dup_line_frac <= 0.3)
      AND (dup_line_char_frac <= 0.2) AS gopher_kept
    FROM r
    """,
    doc=(
        "LLM curation: Gopher quality rules (word/char bounds, symbol +"
        " bullet + ellipsis ratios, alpha-word fraction, stop-word floor,"
        " duplicate-line pair) — shuffle-free narrow map, every rule"
        " exercising both arms via planted line-level defects"
    ),
)
def llm_gopher_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    lined = F.regexp_replace(F.col("text"), " table ", ".\ntable ")
    lined = F.when(F.col("doc_id") % 3 == 0, F.concat_ws("\n", lined, lined)).otherwise(
        lined
    )
    planted = F.concat(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("- bullet item\ntrailing dots...\n"), lined),
        ).otherwise(lined),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" ## xx … yy ...")).otherwise(
            F.lit("")
        ),
    )
    return text.gopher_quality(
        docs.select("doc_id", planted.alias("text")),
        min_words=20,
        max_words=80,
        min_stop_hits=1,
    )


@register(
    "llm_perplexity_buckets",
    export=False,  # driver slot held by its family head (union_family)
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
    total AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM freq),
    scored AS (
      SELECT tok.doc_id, -ln(CAST(freq.tf AS DOUBLE) / total.t) AS nll
      FROM tok JOIN freq USING (token) CROSS JOIN total
    ),
    per_doc AS (
      SELECT doc_id, round(avg(nll), 6) AS avg_neg_logprob
      FROM scored GROUP BY doc_id
    ),
    j AS (
      SELECT p.doc_id, d.lang, p.avg_neg_logprob
      FROM per_doc p JOIN documents d USING (doc_id)
    ),
    r AS (
      SELECT *, percent_rank() OVER (
        PARTITION BY lang ORDER BY avg_neg_logprob, doc_id) AS pr
      FROM j
    )
    SELECT doc_id, lang, avg_neg_logprob,
      CASE WHEN pr < 0.3 THEN 'head' WHEN pr < 0.6 THEN 'middle'
           ELSE 'tail' END AS bucket
    FROM r
    """,
    doc=(
        "LLM curation: CCNet-style per-language head/middle/tail"
        " perplexity bucketing over the unigram-NLL proxy (exact"
        " percent_rank certification twin; approximate=True is the"
        " window-free percentile-threshold 100 TB path)"
    ),
)
def llm_perplexity_buckets(spark, sf_dir):
    return text.perplexity_buckets(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# At-rest MinHash signature index + incremental match: the corpus's band
# keys are built ONCE (bucketed on band_key through the TableStore), then
# each new batch dedups against the index with a join that reads the
# corpus side exchange-free — the incremental-ingest complement of
# llm_minhash_lsh, same banding, certified against the same md5-minhash
# SQL derivation restricted to the two sides.
# ---------------------------------------------------------------------------
@register(
    "llm_minhash_index_match",
    export=False,  # driver slot held by its family head (semi_anti_family)
    oracle=f"""
    WITH {_MH_CTES}
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM bands n JOIN bands c ON n.band_key = c.band_key
    WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    """,
    doc=(
        "LLM dedup at scale: new-batch candidate match against an AT-REST"
        " band_key-bucketed MinHash index (build-once/match-many; corpus"
        " side joins exchange-free, only the new batch shuffles)"
    ),
)
def llm_minhash_index_match(spark, sf_dir):
    import os
    import re as re_mod

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore

    ck = corpus_key(sf_dir)
    store = TableStore(
        spark, session_scratch_dir(spark, "aave_etl_spark_mhidx", ck)
    )
    # catalog table names are session-global while the store root is
    # session+sf keyed — embed the sf so two scale factors in one session
    # (driver smoke at sf0.001 + certs at sf0.01) never collide
    tbl = "mh_band_idx_" + re_mod.sub(r"[^0-9a-zA-Z]+", "_", ck)
    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    # build-once/match-many (the at-rest IVF discipline): marker stamped
    # LAST so an interrupted build is rebuilt from scratch next call
    if not (store.is_complete(tbl) and store.exists(tbl)):
        store.clear_complete(tbl)
        dedup.minhash_index_build(store, corpus, tbl)
        store.mark_complete(tbl)
    return dedup.minhash_index_match(store, new_batch, tbl)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the compressed-domain ANN —
# codes are M small ints per vector, query scoring is M table lookups
# (asymmetric distance), and the corpus floats are never read at query
# time. Completes the ANN ladder: cosine_topk (exact) → ivf_topk (probe
# pruning) → pq_topk (scan compression); IVF-PQ composes the two.
# ---------------------------------------------------------------------------
_PQ_ORACLE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cb AS (SELECT vec_id AS code, e AS ce FROM v WHERE vec_id < 16),
    ms AS (SELECT unnest(range(0, 4)) AS m),
    sd AS (
      SELECT v.vec_id, ms.m, cb.code,
             round(list_sum([ (v.e[ms.m * 16 + j] - cb.ce[ms.m * 16 + j])
                              * (v.e[ms.m * 16 + j] - cb.ce[ms.m * 16 + j])
                              for j in range(1, 17) ]), 6) AS d2
      FROM v CROSS JOIN cb CROSS JOIN ms
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
        FROM sd) WHERE rn = 1
    ),
    pairs AS (
      SELECT s.vec_id AS query_id, c.vec_id AS candidate_id,
             round(sum(s.d2), 6) AS approx_d2
      FROM codes c JOIN sd s ON s.m = c.m AND s.code = c.code
      WHERE s.vec_id < 8 AND c.vec_id != s.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, candidate_id, approx_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_d2, candidate_id) AS BIGINT) AS rank
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_d2, candidate_id) <= 3
    """


@register(
    "llm_pq_topk",
    export=False,  # driver slot held by its family head (semi_anti_family)
    oracle=_PQ_ORACLE,
    doc=(
        "LLM similarity: product-quantization top-k with asymmetric"
        " distance (M=4 subspaces x K=16 codes over 64-dim embeddings,"
        " deterministic first-K codebook) — the compressed-domain ANN"
        " whose query scan reads M codes per candidate, not d floats"
    ),
)
def llm_pq_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.pq_topk(emb, queries, k=3, n_subspaces=4, n_codes=16)


@register(
    "llm_epoch_shards",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sort_key,
             CAST(CAST('0x' || substring(
                    md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 8 AS INT) AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY sort_key, doc_id) AS BIGINT)
             AS position,
           sort_key
    FROM keyed
    """,
    doc=(
        "LLM training order: deterministic epoch shuffle + shard"
        " assignment (md5 seed-keyed; per-shard windows, NO global"
        " order-by) — reproducible loader order from (seed, n_shards)"
        " alone, re-sharding an epoch is a new seed not a data move"
    ),
)
def llm_epoch_shards(spark, sf_dir):
    from aave_etl_spark.operators import sampling

    return sampling.epoch_shards(t(spark, sf_dir, "documents"), n_shards=8)


# ---------------------------------------------------------------------------
# IVF-PQ (FAISS's IVFPQ layout; Jégou et al. 2011 §V): coarse-cell probe
# pruning × residual-PQ scan compression — the composed billion-scale ANN.
# Deterministic geometry: cells = first 8 vectors, residual codebook =
# residuals of vectors 8..15 w.r.t. their own assigned cells.
# ---------------------------------------------------------------------------
# The IVF-PQ CTE chain (ends at `pairs`: per-(query, candidate) 6dp ADC
# distances over the probed cells) — shared by the standalone IVF-PQ
# oracles and the at-rest hybrid fusion oracle, which re-ranks `pairs`
# at a different k before fusing with the BM25 arm.
_IVFPQ_CTES = """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cells AS (SELECT CAST(vec_id AS INT) AS cell_id, e AS ce FROM v WHERE vec_id < 8),
    asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 round(list_sum([ (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])
                                  for i in range(1, 65) ]), 6), c.cell_id) AS rn
        FROM v CROSS JOIN cells c) WHERE rn = 1
    ),
    res AS (
      SELECT v.vec_id, a.cell_id,
             [v.e[i] - c.ce[i] for i in range(1, 65)] AS r
      FROM v JOIN asg a USING (vec_id) JOIN cells c ON c.cell_id = a.cell_id
    ),
    cb AS (SELECT CAST(vec_id - 8 AS INT) AS code, r AS cr
           FROM res WHERE vec_id >= 8 AND vec_id < 16),
    ms AS (SELECT unnest(range(0, 4)) AS m),
    sdc AS (
      SELECT res.vec_id, ms.m, cb.code,
             round(list_sum([ (res.r[ms.m * 16 + j] - cb.cr[ms.m * 16 + j])
                              * (res.r[ms.m * 16 + j] - cb.cr[ms.m * 16 + j])
                              for j in range(1, 17) ]), 6) AS d2
      FROM res CROSS JOIN cb CROSS JOIN ms
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
        FROM sdc) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 8),
    probes AS (
      SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cell_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_sum([ (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])
                                  for i in range(1, 65) ]), 6), c.cell_id) AS rn
        FROM q CROSS JOIN cells c) WHERE rn <= 2
    ),
    qres AS (
      SELECT p.query_id, p.cell_id,
             [q.qe[i] - c.ce[i] for i in range(1, 65)] AS qr
      FROM probes p JOIN q USING (query_id) JOIN cells c ON c.cell_id = p.cell_id
    ),
    qtab AS (
      SELECT qres.query_id, qres.cell_id, ms.m, cb.code,
             round(list_sum([ (qres.qr[ms.m * 16 + j] - cb.cr[ms.m * 16 + j])
                              * (qres.qr[ms.m * 16 + j] - cb.cr[ms.m * 16 + j])
                              for j in range(1, 17) ]), 6) AS d2
      FROM qres CROSS JOIN cb CROSS JOIN ms
    ),
    pairs AS (
      SELECT t.query_id, e.vec_id AS candidate_id, a.cell_id,
             round(sum(t.d2), 6) AS approx_d2
      FROM codes e
      JOIN asg a USING (vec_id)
      JOIN qtab t ON t.cell_id = a.cell_id AND t.m = e.m AND t.code = e.code
      WHERE e.vec_id != t.query_id
      GROUP BY 1, 2, 3
    )"""

_IVFPQ_ORACLE = f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, candidate_id, cell_id, approx_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_d2, candidate_id) AS BIGINT)
             AS rank
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_d2, candidate_id) <= 3
    """


@register(
    "llm_ivfpq_topk",
    export=False,  # driver slot held by its family head (collect_family)
    oracle=_IVFPQ_ORACLE,
    doc=(
        "LLM similarity: IVF-PQ composed ANN — 2-of-8-cell probe pruning"
        " times residual-PQ (M=4 x K=8) asymmetric-distance scoring; bytes"
        " read scale with n_probe/n_cells x M/(4d) of the raw corpus"
    ),
)
def llm_ivfpq_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.ivfpq_topk(
        emb, queries, k=3, n_cells=8, n_probe=2, n_subspaces=4, n_codes=8
    )


@register(
    "llm_ivfpq_index_search",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=_IVFPQ_ORACLE,  # identical output contract to llm_ivfpq_topk
    doc=(
        "LLM similarity: the AT-REST IVF-PQ path — codes persisted"
        " partitioned BY cell_id with centroid/codebook sidecars, searched"
        " via a partition-PRUNED scan of only the probed cells reading M"
        " ints per candidate; results bitwise-match the in-flight"
        " llm_ivfpq_topk"
    ),
)
def llm_ivfpq_index_search(spark, sf_dir):
    return _ivfpq_index_arm(spark, sf_dir, k=3)


def _ivfpq_index_arm(spark, sf_dir, k):
    """The at-rest dense arm: partition-pruned IVF-PQ search against the
    persisted codes + sidecars (store shared across callers on the same
    corpus; the hybrid fusion reuses the build)."""
    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore

    emb = t(spark, sf_dir, "embeddings")
    # per-SESSION store root (the session_scratch_dir discipline every
    # other at-rest cert store follows): two concurrent harness processes
    # can never race clear_complete/rmtree on a shared index, and a
    # regenerated fixture at the same path can't serve a stale one.
    # Within the session the root is additionally sha-keyed by the FULL
    # resolved sf path — two corpora sharing a basename never share a
    # cached index.
    store = TableStore(
        spark,
        session_scratch_dir(spark, "aave_etl_spark_ivfpq", corpus_key(sf_dir)),
    )
    # build-once/search-many, gated on the COMPLETION MARKER (cleared
    # first / written last by ivfpq_index_build): an interrupted build or
    # rebuild leaves no marker, so a codes/sidecar pair from different
    # runs can never be served
    if not (
        store.is_complete("ivfpq_index")
        and store.exists("ivfpq_index")
        and store.exists("ivfpq_index_cells")
        and store.exists("ivfpq_index_codebook")
    ):
        similarity.ivfpq_index_build(
            store, emb, n_cells=8, n_codes=8, n_subspaces=4
        )
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity.ivfpq_index_search(
        store, queries, k=k, n_probe=2, n_subspaces=4
    )


@register(
    "llm_hybrid_rrf_atrest",
    export=False,  # driver slot held by its family head (semi_anti_family)
    oracle=f"""
    WITH {_BM25_SPARSE_CTES},
    {_IVFPQ_CTES},
    {_RRF_SR_CTE},
    dr AS (
      SELECT query_id, candidate_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_d2, candidate_id) AS r
      FROM pairs
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_d2, candidate_id) <= 10
    ),
    {_RRF_FUSE_TAIL}""",
    doc=(
        "LLM retrieval: the AT-REST hybrid composition — the 100 TB shape"
        " SCALE.md names: rrf_fuse over bm25_index_search (term-bucketed"
        " postings store) x ivfpq_index_search (cell-partition-pruned"
        " codes store); both arms are bitwise twins of their in-flight"
        " forms, so the fusion is certified end-to-end against the same"
        " dual-engine oracle shape as llm_hybrid_rrf; all corpus scale"
        " stays inside the at-rest arms, the fusion join is"
        " |queries|-bounded"
    ),
)
def llm_hybrid_rrf_atrest(spark, sf_dir):
    dense = _ivfpq_index_arm(spark, sf_dir, k=10)
    sparse = _bm25_index_arm(spark, sf_dir, k=10)
    return similarity.rrf_fuse(dense, sparse, k=5)


# ---------------------------------------------------------------------------
# The daily EMBEDDINGS pipeline (plans/embeddings_pipeline.py): the ANN twin
# of the corpus pipeline. Two days of vector batches — day 2 plants exact
# replicas (+10M ids, copies of day-1 vectors), RESCALED replicas (+20M ids,
# 2x day-1 vectors: cosine is scale-invariant, so they score 1.0 without
# being bitwise equal), a within-batch EXACT duplicate pair (+30M ids,
# copies of same-day odd vectors), and a within-batch NEAR-dup pair (+40M
# ids, 3x same-day odd vectors: not bitwise equal, so only the round-12
# within-batch SEMANTIC pass can drop them) — flow landing -> within-batch
# exact-vector dedup (agg+join, the vector is the digest) -> WITHIN-BATCH
# semantic dedup (SRP-bucketed cosine self-join, keep the lowest id per
# >= 0.999 pair) -> cross-corpus semantic dedup (IVF probe of the at-rest
# index scoped to prior days, drop at rounded cosine >= 0.999) ->
# incremental index maintenance (day 1 builds under a frozen deterministic
# quantizer, day 2 ivf_index_append's under the STORED centroids). The
# oracles recompute the whole chain from first principles: the same SRP
# plane derivation, the same argmax-cell assignment, the same top-4 probe
# ranking (rounded cosine DESC, cell_id ASC), the same threshold.
# ---------------------------------------------------------------------------
# certification corpus cap: the pipeline's frozen 16-cell quantizer is
# sized for corpora in this envelope (SCALE.md measures the cost curve
# past it and the retrain remedy); the cap keeps the bench-scale (sf0.1,
# 50k vectors) store build from paying the out-of-envelope probe the
# SCALE row exists to document — correctness certifies at sf0.01 over
# the full 2000 (sf0.001's 500 vectors are untouched)
_EMB_CAP = 2000

_EMB_CTES = f"""ev AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < {_EMB_CAP}
    ),
    ed1 AS (
      SELECT vec_id, e, DATE '2024-01-01' AS day FROM ev WHERE vec_id % 2 = 0
    ),
    ed2raw AS (
      SELECT vec_id, e FROM ev WHERE vec_id % 2 = 1
      UNION ALL
      SELECT vec_id + 10000000 AS vec_id, e FROM ev WHERE vec_id % 4 = 0
      UNION ALL
      SELECT vec_id + 20000000 AS vec_id,
             list_transform(e, x -> x * 2.0) AS e
      FROM ev WHERE vec_id % 4 = 2
      UNION ALL
      SELECT vec_id + 30000000 AS vec_id, e FROM ev WHERE vec_id % 4 = 1
      UNION ALL
      SELECT vec_id + 40000000 AS vec_id,
             list_transform(e, x -> x * 3.0) AS e
      FROM ev WHERE vec_id % 8 = 5
    ),
    ed2w AS (
      SELECT min(vec_id) AS vec_id, e, DATE '2024-01-02' AS day
      FROM ed2raw GROUP BY e
    ),
    ewb AS (
      -- eu mirrors the ENGINE's float expression structure exactly
      -- (operators/similarity.py normalized(): each element divided by
      -- sqrt(dot(e,e)), THEN the pair dot on unit vectors) — not the
      -- algebraically-equal dot(a,b)/(|a||b|) on raw lists, whose last
      -- ulp can differ and flip a pair sitting exactly at the rounded
      -- 0.999 boundary (round-12 ADVICE)
      SELECT day, vec_id, e,
             list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS eu,
             CAST({_srp_bucket_expr(8)} AS BIGINT) AS bucket
      FROM (SELECT day, vec_id, e FROM ed1
            UNION ALL SELECT day, vec_id, e FROM ed2w)
    ),
    ewdup AS (
      SELECT DISTINCT hi.vec_id
      FROM ewb lo JOIN ewb hi
        ON lo.day = hi.day AND lo.bucket = hi.bucket
       AND lo.vec_id < hi.vec_id
      WHERE round(list_dot_product(lo.eu, hi.eu), 6) >= 0.999
    ),
    ed1c AS (
      SELECT vec_id, e, day FROM ed1
      WHERE vec_id NOT IN (SELECT vec_id FROM ewdup)
    ),
    ed2b AS (
      SELECT vec_id, e, day FROM ed2w
      WHERE vec_id NOT IN (SELECT vec_id FROM ewdup)
    ),
    ecent AS (SELECT vec_id AS cell_id, e AS ce FROM ed1c WHERE vec_id < 16),
    ea1 AS (
      SELECT vec_id, e, day, cell_id FROM (
        SELECT d.vec_id, d.e, d.day, c.cell_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY {_IVF_COS.format(a="d.e", b="c.ce")} DESC, c.cell_id) AS rn
        FROM ed1c d CROSS JOIN ecent c)
      WHERE rn = 1
    ),
    eprobe AS (
      SELECT vec_id, e, cell_id FROM (
        SELECT d.vec_id, d.e, c.cell_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY {_IVF_COS.format(a="d.e", b="c.ce")} DESC, c.cell_id) AS rn
        FROM ed2b d CROSS JOIN ecent c)
      WHERE rn <= 4
    ),
    edup AS (
      SELECT DISTINCT p.vec_id
      FROM eprobe p JOIN ea1 a USING (cell_id)
      WHERE a.vec_id <> p.vec_id
        AND {_IVF_COS.format(a="p.e", b="a.e")} >= 0.999
    ),
    ed2c AS (
      SELECT vec_id, e, day FROM ed2b
      WHERE vec_id NOT IN (SELECT vec_id FROM edup)
    ),
    eclean AS (
      SELECT vec_id, e, day FROM ed1c
      UNION ALL SELECT vec_id, e, day FROM ed2c
    ),
    ea2 AS (
      SELECT vec_id, e, day, cell_id FROM (
        SELECT d.vec_id, d.e, d.day, c.cell_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY {_IVF_COS.format(a="d.e", b="c.ce")} DESC, c.cell_id) AS rn
        FROM ed2c d CROSS JOIN ecent c)
      WHERE rn = 1
    ),
    eassign AS (
      SELECT vec_id, e, day, cell_id FROM ea1
      UNION ALL SELECT vec_id, e, day, cell_id FROM ea2
    )"""


def _emb_run_store(spark, sf_dir):
    """Run the 2-day embeddings pipeline through the orchestration layer
    into a session-scoped scratch store ONCE per (session, corpus) — the
    _corpus_run_store pattern for the ANN side."""
    import shutil

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans.embeddings_pipeline import embeddings_pipeline_graph
    from aave_etl_spark.plans.orchestration import run_day

    root = session_scratch_dir(spark, "aave_etl_spark_emb_run", corpus_key(sf_dir))
    store = TableStore(spark, root)
    done = store.is_complete("emb_cell_stats") and all(
        store.exists(n)
        for n in (
            "emb_clean",
            "emb_ivf",
            "emb_ivf_centroids",
            "emb_cell_stats",
            "emb_index_health",
            "emb_pq",
            "emb_pq_cells",
            "emb_pq_codebook",
        )
    )
    if not done:
        store.clear_complete("emb_cell_stats")
        shutil.rmtree(root, ignore_errors=True)
        base = (
            t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < _EMB_CAP)
            .select(
                "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
            )
        )
        d1 = base.filter("vec_id % 2 = 0").withColumn(
            "day", F.to_date(F.lit("2024-01-01"))
        )
        d2 = (
            base.filter("vec_id % 2 = 1")
            .unionByName(
                base.filter("vec_id % 4 = 0").select(
                    (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
                )
            )
            .unionByName(
                base.filter("vec_id % 4 = 2").select(
                    (F.col("vec_id") + 20_000_000).alias("vec_id"),
                    F.transform("embedding", lambda x: x * F.lit(2.0)).alias(
                        "embedding"
                    ),
                )
            )
            .unionByName(
                base.filter("vec_id % 4 = 1").select(
                    (F.col("vec_id") + 30_000_000).alias("vec_id"), "embedding"
                )
            )
            .unionByName(
                # same-day NEAR-dup pair: 3x-rescaled copies of day-2's own
                # odd vectors — invisible to the exact pass (different
                # bytes) and to the prior-day probe (originals are in the
                # SAME batch); only the within-batch SRP pass drops them
                base.filter("vec_id % 8 = 5").select(
                    (F.col("vec_id") + 40_000_000).alias("vec_id"),
                    F.transform("embedding", lambda x: x * F.lit(3.0)).alias(
                        "embedding"
                    ),
                )
            )
            .withColumn("day", F.to_date(F.lit("2024-01-02")))
        )
        landing = d1.unionByName(d2)
        graph = embeddings_pipeline_graph()
        for day in ("2024-01-01", "2024-01-02"):
            run_day(
                spark, store, graph, day, markets=[], resources={"vectors": landing}
            )
        store.mark_complete("emb_cell_stats")
    return store


@register(
    "llm_emb_pipeline_run",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH {_EMB_CTES}
    SELECT 'clean' AS part, CAST(day AS STRING) AS k1,
           CAST(vec_id AS STRING) AS k2,
           round(sqrt(list_dot_product(e, e)), 6) AS v1
    FROM eclean
    UNION ALL
    SELECT 'cells' AS part, CAST(day AS STRING) AS k1,
           CAST(cell_id AS STRING) AS k2,
           CAST(count(*) AS DOUBLE) AS v1
    FROM eassign GROUP BY day, cell_id
    """,
    doc=(
        "the DAILY embeddings pipeline run END-TO-END through the"
        " orchestration layer (plans/embeddings_pipeline.py): two days of"
        " vector batches — day 2 plants exact replicas, RESCALED replicas"
        " (cosine scale-invariance), a within-batch EXACT duplicate pair,"
        " and a within-batch NEAR-dup pair (3x same-day rescales) — flow"
        " landing -> within-batch exact-vector dedup -> within-batch"
        " SEMANTIC dedup (SRP-bucketed cosine self-join; round 12) ->"
        " cross-corpus semantic dedup against the at-rest IVF index"
        " (prior-day-scoped probe, rounded-cosine threshold) -> per-(day,"
        " cell) balance stats, every table read back FROM THE STORE; the"
        " ANN twin of llm_corpus_pipeline_run"
    ),
)
def llm_emb_pipeline_run(spark, sf_dir):
    store = _emb_run_store(spark, sf_dir)
    clean = store.read("emb_clean").select(
        F.lit("clean").alias("part"),
        F.col("day").cast("string").alias("k1"),
        F.col("vec_id").cast("string").alias("k2"),
        F.round(similarity.norm(F.col("embedding")), 6).alias("v1"),
    )
    cells = store.read("emb_cell_stats").selectExpr(
        "'cells' AS part", "CAST(day AS STRING) AS k1",
        "CAST(cell_id AS STRING) AS k2", "CAST(n_vecs AS DOUBLE) AS v1",
    )
    return clean.unionByName(cells)


@register(
    "llm_emb_index_state",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH {_EMB_CTES}
    SELECT CAST(day AS STRING) AS day, vec_id, CAST(cell_id AS BIGINT) AS cell_id
    FROM eassign
    """,
    doc=(
        "LLM ANN state: the INCREMENTALLY-maintained at-rest IVF index —"
        " day 1 built under a frozen deterministic coarse quantizer, day 2"
        " ivf_index_append'ed under the STORED centroids (a broadcast"
        " argmax over the batch only; dynamic (cell, day) slice overwrite"
        " makes re-runs idempotent) — certified per-VECTOR equal to a"
        " from-scratch assignment of the accumulated survivors under the"
        " same centroids: the append path never drifts from the build path"
    ),
)
def llm_emb_index_state(spark, sf_dir):
    store = _emb_run_store(spark, sf_dir)
    return store.read("emb_ivf").select(
        F.col("day").cast("string").alias("day"),
        "vec_id",
        F.col("cell_id").cast("long").alias("cell_id"),
    )


@register(
    "llm_emb_search_atrest",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH {_EMB_CTES},
    eq AS (SELECT vec_id AS query_id, e AS qv FROM ev WHERE vec_id < 8),
    eqprobe AS (
      SELECT query_id, qv, cell_id FROM (
        SELECT q.query_id, q.qv, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_IVF_COS.format(a="q.qv", b="c.ce")} DESC, c.cell_id) AS rn
        FROM eq q CROSS JOIN ecent c)
      WHERE rn <= 4
    ),
    escored AS (
      SELECT p.query_id, a.vec_id AS candidate_id,
             {_IVF_COS.format(a="p.qv", b="a.e")} AS cos_sim
      FROM eqprobe p JOIN eassign a USING (cell_id)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, candidate_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, candidate_id) AS BIGINT) AS rank
    FROM escored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, candidate_id) <= 3
    """,
    doc=(
        "LLM ANN retrieval over the PIPELINE's index: top-3 neighbors of a"
        " fixed probe set against the 2-day incrementally-maintained"
        " at-rest IVF index — the search plan lists only the probed cell"
        " directories of an index no single build produced, certifying"
        " that incremental maintenance leaves search semantics identical"
    ),
)
def llm_emb_search_atrest(spark, sf_dir):
    store = _emb_run_store(spark, sf_dir)
    q = t(spark, sf_dir, "embeddings").filter("vec_id < 8").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return similarity.ivf_index_search(store, q, name="emb_ivf", k=3, n_probe=4)


@register(
    "llm_emb_index_health",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH {_EMB_CTES}
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST((SELECT count(*) FROM ecent) AS BIGINT) AS n_cells,
           CAST(count(*) AS DOUBLE)
             / CAST((SELECT count(*) FROM ecent) AS DOUBLE) AS mean_cell_size,
           CAST((SELECT count(*) FROM ecent)
                * (SELECT count(*) FROM ecent) AS BIGINT) AS balance_point,
           4.0 AS factor,
           CAST(count(*) AS DOUBLE)
             > 4.0 * CAST((SELECT count(*) FROM ecent) AS DOUBLE)
                   * CAST((SELECT count(*) FROM ecent) AS DOUBLE) AS outgrown,
           greatest(
             CAST((SELECT count(*) FROM ecent) AS BIGINT),
             CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
           ) AS recommended_n_cells
    FROM eassign
    """,
    doc=(
        "LLM ANN state: the embeddings pipeline's QUANTIZER-HEALTH asset"
        " (plans/embeddings_pipeline.py emb_index_health) — the"
        " quantizer-drift trigger (n_vectors, n_cells, mean_cell_size,"
        " balance point, outgrown flag, sqrt(N) recommended cell count)"
        " refreshed into the store by every daily run, so the frozen"
        " quantizer's linear probe-cost degradation is observable state"
        " with a documented retrain contract instead of an off-path hook"
        " a deployment might never call; certified against a closed-form"
        " oracle over the accumulated 2-day corpus"
    ),
)
def llm_emb_index_health(spark, sf_dir):
    store = _emb_run_store(spark, sf_dir)
    return store.read("emb_index_health").select(
        "n_vectors",
        "n_cells",
        "mean_cell_size",
        "balance_point",
        "factor",
        "outgrown",
        "recommended_n_cells",
    )


@register(
    "llm_corpus_decontam",
    export=False,  # driver slot held by its family head (corpus_state_family)
    oracle=f"""
    WITH {_CORPUS_CLEAN_CTES}
    SELECT CAST(day AS VARCHAR) AS day, doc_id, n_shingles, n_overlap,
           round(CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
             AS contamination_ratio,
           CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.2
             AS flagged
    FROM ccont
    """,
    doc=(
        "LLM corpus state: benchmark decontamination AT INGEST"
        " (plans/corpus_pipeline.py corpus_eval_shingles/corpus_contam) —"
        " the eval set's distinct shingle DIGESTS are maintained as a"
        " skinny store asset, each day's clean slice is shingled (batch"
        " only, never history) and semi-joined against the broadcast"
        " digest state, and any doc whose shingle-set overlap reaches the"
        " threshold is flagged and barred from gating/packing (the"
        " GPT-3/Pile n-gram decontamination, run as a pipeline gate"
        " instead of an after-the-fact audit); per-doc overlap stats"
        " certified against a from-first-principles oracle, the flag's"
        " exclusion certified through the e2e run oracle's gated chain"
    ),
)
def llm_corpus_decontam(spark, sf_dir):
    store = _corpus_run_store(spark, sf_dir)
    return store.read("corpus_contam").select(
        F.col("day").cast("string").alias("day"),
        "doc_id",
        "n_shingles",
        "n_overlap",
        "contamination_ratio",
        "flagged",
    )


# the pipeline's IVF-PQ geometry + per-vector codes, re-derived from first
# principles over the accumulated clean corpus — shared by the code-state
# cert and the at-rest ADC search cert. Geometry = rank-based first 16 of
# DAY-1 CLEAN (the slice the graph's emb_pq_state asset trains on): ranks
# 0..7 are coarse cells, 8..15 seed the residual codebook.
_EMB_PQ_CTES = f"""pqsd AS (
      SELECT rk, e FROM (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rk, e FROM ed1c)
      WHERE rk < 16
    ),
    pqc AS (SELECT CAST(rk AS INT) AS cell_id, e AS ce FROM pqsd WHERE rk < 8),
    pqsa AS (
      SELECT rk, e, cell_id FROM (
        SELECT s.rk, s.e, c.cell_id,
               row_number() OVER (PARTITION BY s.rk ORDER BY
                 round(list_sum([ (s.e[i] - c.ce[i]) * (s.e[i] - c.ce[i])
                                  for i in range(1, 65) ]), 6), c.cell_id) AS rn
        FROM pqsd s CROSS JOIN pqc c)
      WHERE rn = 1
    ),
    pqcb AS (
      SELECT CAST(sa.rk - 8 AS INT) AS code,
             [sa.e[i] - c.ce[i] for i in range(1, 65)] AS cr
      FROM pqsa sa JOIN pqc c USING (cell_id) WHERE sa.rk >= 8
    ),
    pqasg AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 round(list_sum([ (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])
                                  for i in range(1, 65) ]), 6), c.cell_id) AS rn
        FROM eclean v CROSS JOIN pqc c)
      WHERE rn = 1
    ),
    pqres AS (
      SELECT v.vec_id, v.day, a.cell_id,
             [v.e[i] - c.ce[i] for i in range(1, 65)] AS r
      FROM eclean v JOIN pqasg a USING (vec_id)
      JOIN pqc c ON c.cell_id = a.cell_id
    ),
    pqms AS (SELECT unnest(range(0, 4)) AS m),
    pqsdc AS (
      SELECT r.vec_id, r.day, r.cell_id, pqms.m, cb.code,
             round(list_sum([ (r.r[pqms.m * 16 + j] - cb.cr[pqms.m * 16 + j])
                              * (r.r[pqms.m * 16 + j] - cb.cr[pqms.m * 16 + j])
                              for j in range(1, 17) ]), 6) AS d2
      FROM pqres r CROSS JOIN pqcb cb CROSS JOIN pqms
    ),
    pqcodes AS (
      SELECT day, vec_id, cell_id, m, code
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, code) AS rn
            FROM pqsdc)
      WHERE rn = 1
    )"""


@register(
    "llm_emb_pq_state",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH {_EMB_CTES},
    {_EMB_PQ_CTES}
    SELECT CAST(day AS VARCHAR) AS day, vec_id,
           CAST(cell_id AS BIGINT) AS cell_id,
           CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code
    FROM pqcodes
    """,
    doc=(
        "LLM ANN state: the embeddings pipeline's INCREMENTALLY-maintained"
        " at-rest IVF-PQ code store — a GRAPH asset since round 12"
        " (plans/embeddings_pipeline.py emb_pq_state): day 1 of the"
        " pipeline's survivors builds the index (M=4 x K=8 residual PQ"
        " under the deterministic rank-based first-16 geometry), day 2"
        " ivfpq_index_append's under the FROZEN stored cells+codebook (one"
        " broadcast encode pass over the batch, dynamic (cell, day) slice"
        " overwrite, n_subspaces validated against the meta sidecar) —"
        " certified per-(vector, subspace) CODE-level equal to a"
        " from-scratch encode of the accumulated survivors: the append"
        " path never drifts from the build path, down to every stored int"
    ),
)
def llm_emb_pq_state(spark, sf_dir):
    pq = _emb_run_store(spark, sf_dir)
    return pq.read("emb_pq").select(
        F.col("day").cast("string").alias("day"),
        "vec_id",
        F.col("cell_id").cast("long").alias("cell_id"),
        F.posexplode("codes").alias("m", "code"),
    ).select(
        "day", "vec_id", "cell_id",
        F.col("m").cast("long").alias("m"),
        F.col("code").cast("long").alias("code"),
    )


@register(
    "llm_emb_pq_search_atrest",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH {_EMB_CTES},
    {_EMB_PQ_CTES},
    pqq AS (SELECT vec_id AS query_id, e AS qe FROM ev WHERE vec_id < 8),
    pqprobes AS (
      SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cell_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_sum([ (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i])
                                  for i in range(1, 65) ]), 6), c.cell_id) AS rn
        FROM pqq q CROSS JOIN pqc c) WHERE rn <= 2
    ),
    pqqres AS (
      SELECT p.query_id, p.cell_id,
             [q.qe[i] - c.ce[i] for i in range(1, 65)] AS qr
      FROM pqprobes p JOIN pqq q USING (query_id)
      JOIN pqc c ON c.cell_id = p.cell_id
    ),
    pqqtab AS (
      SELECT qres.query_id, qres.cell_id, pqms.m, cb.code,
             round(list_sum([ (qres.qr[pqms.m * 16 + j] - cb.cr[pqms.m * 16 + j])
                              * (qres.qr[pqms.m * 16 + j] - cb.cr[pqms.m * 16 + j])
                              for j in range(1, 17) ]), 6) AS d2
      FROM pqqres qres CROSS JOIN pqcb cb CROSS JOIN pqms
    ),
    pqpairs AS (
      SELECT t.query_id, e.vec_id AS candidate_id, e.cell_id,
             round(sum(t.d2), 6) AS approx_d2
      FROM pqcodes e
      JOIN pqqtab t ON t.cell_id = e.cell_id AND t.m = e.m AND t.code = e.code
      WHERE e.vec_id != t.query_id
      GROUP BY 1, 2, 3
    )
    SELECT query_id, candidate_id, CAST(cell_id AS INT) AS cell_id,
           approx_d2,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_d2, candidate_id) AS BIGINT)
             AS rank
    FROM pqpairs
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_d2, candidate_id) <= 3
    """,
    doc=(
        "LLM ANN retrieval over the PIPELINE's compressed index: top-3"
        " ADC search (ivfpq_index_search — partition-pruned probe scan"
        " reading M ints per candidate) against the 2-day incrementally-"
        " maintained at-rest IVF-PQ code store no single build produced,"
        " certifying that incremental code maintenance leaves the"
        " asymmetric-distance search semantics identical to a from-scratch"
        " encode of the accumulated corpus — the at-scale retrieval"
        " composition the daily graph now ships (round 12)"
    ),
)
def llm_emb_pq_search_atrest(spark, sf_dir):
    from aave_etl_spark.plans.embeddings_pipeline import EMB_PQ_M, EMB_PQ_INDEX

    pq = _emb_run_store(spark, sf_dir)
    q = t(spark, sf_dir, "embeddings").filter("vec_id < 8").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return similarity.ivfpq_index_search(
        pq, q, name=EMB_PQ_INDEX, k=3, n_probe=2, n_subspaces=EMB_PQ_M
    )


@register(
    "llm_corpus_shards",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH RECURSIVE
    {_CORPUS_CLEAN_CTES},
    {_CORPUS_PACK_CTES},
    skeyed AS (
      SELECT doc_id, day, lang, n_tokens, pack_id,
             md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sort_key,
             CAST(CAST('0x' || substring(
                    md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 4 AS INT) AS shard
      FROM pp
    )
    SELECT shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY sort_key, doc_id) AS BIGINT)
             AS position,
           doc_id, CAST(day AS VARCHAR) AS day, lang, n_tokens, pack_id,
           sort_key
    FROM skeyed
    """,
    doc=(
        "LLM corpus pipeline: the TRAINING-SHARD MANIFEST asset"
        " (plans/corpus_pipeline.py corpus_shards) — every packed doc"
        " assigned a reproducible (shard, position) by the seed-keyed"
        " epoch shuffle (two-level rank, no global sort, no corpus-wide"
        " window) with the loader's metadata attached; the artifact the"
        " trainer's data loaders actually read, derived from (seed,"
        " n_shards) alone and certified against the full chained oracle"
        " from landing through dedup/decontam/gate/pack to shards"
    ),
)
def llm_corpus_shards(spark, sf_dir):
    store = _corpus_run_store(spark, sf_dir)
    return store.read("corpus_shards").select(
        "shard",
        "position",
        "doc_id",
        F.col("day").cast("string").alias("day"),
        "lang",
        "n_tokens",
        "pack_id",
        "sort_key",
    )


@register(
    "llm_emb_pq_prefilter_dedup",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH {_EMB_CTES}
    SELECT vec_id FROM edup WHERE vec_id % 2 = 0
    """,
    doc=(
        "LLM embeddings: the PQ-PREFILTERED semantic-dedup probe (round"
        " 13) — the day-2 batch shortlisted by ADC over the maintained"
        " emb_pq code store (M ints per candidate, partition-pruned,"
        " prior-day-scoped), then EXACT-verified against raw vectors"
        " fetched only from the shortlist candidates' day slices; the"
        " oracle is the FLAT probe's drop set (the e2e chain's edup CTE),"
        " so the cert IS the drop-set-equality contract: on the planted"
        " corpus (exact +10M and 2x-rescaled +20M replicas) the"
        " compressed-probe composition drops exactly what the raw-vector"
        " probe drops — probe bytes ~M/(4d) of the flat scan (SCALE.md),"
        " exactness preserved by the raw verify at the same rounded-"
        " cosine threshold. The probe set is the deterministic vec_id%2=0"
        " half of the day-2 batch on BOTH engines (cross-corpus drops are"
        " per-vector independent, so the sliced drop set is exactly"
        " edup ∩ slice — the llm_span_rewrite cost-slice pattern; both"
        " planted replica classes span both parities)"
    ),
)
def llm_emb_pq_prefilter_dedup(spark, sf_dir):
    from aave_etl_spark.plans.embeddings_pipeline import (
        EMB_DUP_COSINE,
        _emb_pq_prefilter_dups,
    )

    store = _emb_run_store(spark, sf_dir)
    # reconstruct the day-2 probe INPUT exactly as _emb_clean builds it
    # (exact-vector dedup, then within-batch semantic dedup) — the same
    # stages the flat-probe oracle chain models as ed2b
    batch = store.read("emb_landing", where="day = DATE '2024-01-02'")
    batch = dedup.keep_first_by_digest(batch, F.col("embedding"), id_col="vec_id")
    wd = similarity.within_batch_cosine_drops(batch, min_cos=EMB_DUP_COSINE)
    batch = batch.join(wd, "vec_id", "left_anti")
    # deterministic half-batch probe slice (cost containment — the
    # cross-corpus probe is per-vector, so the sliced drop set is exact)
    batch = batch.filter("vec_id % 2 = 0")
    return _emb_pq_prefilter_dups(store, batch, "2024-01-02")


@register(
    "llm_emb_stream_ingest",
    export=False,  # driver slot held by its family head (window_shift_family)
    oracle=f"""
    WITH {_EMB_CTES}
    SELECT vec_id, CAST(cell_id AS BIGINT) AS cell_id FROM eassign
    """,
    doc=(
        "STREAMING maintenance of an ANN index, certified at rest: two"
        " availableNow drains of a file-source vector stream through"
        " foreachBatch (streaming/micro_batch.py"
        " incremental_embedding_ingest) — batch 1 trains the frozen"
        " quantizer and builds the at-rest IVF index; batch 2's exact"
        " replicas and RESCALED replicas are dropped by the semantic"
        " anti-join against the accumulated index (which doubles as the"
        " at-least-once replay idempotence mechanism — same-id replays"
        " match THEMSELVES, exclude_self=False), its within-batch exact"
        " pair by the vector-digest dedup and its within-batch NEAR pair"
        " (3x rescales of same-batch vectors, invisible to the index) by"
        " the SRP-bucketed self-join, and the survivors append under the"
        " stored centroids; the final index equals the daily pipeline's"
        " 2-day assignment oracle exactly — stream and batch converge"
    ),
)
def llm_emb_stream_ingest(spark, sf_dir):
    import os
    import shutil

    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from aave_etl_spark.io.scratch import corpus_key, session_scratch_dir
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.streaming.micro_batch import (
        incremental_embedding_ingest,
        stream_lake_table,
    )

    root = session_scratch_dir(
        spark, "aave_etl_spark_emb_stream", corpus_key(sf_dir)
    )
    landing = os.path.join(root, "landing")
    ckpt = os.path.join(root, "ckpt")
    store = TableStore(spark, os.path.join(root, "warehouse"))
    # drain-once / read-many with the completion-marker protocol (the
    # llm_stream_ingest discipline): repeat invocations certify the
    # at-rest index the stream left behind
    if store.is_complete("emb_ivf") and store.exists("emb_ivf"):
        return store.read("emb_ivf").select(
            "vec_id", F.col("cell_id").cast("long").alias("cell_id")
        )
    store.clear_complete("emb_ivf")
    shutil.rmtree(root, ignore_errors=True)

    base = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _EMB_CAP)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    # batch 1: even-parity vectors (vec_id < 16 among them train the
    # frozen quantizer — the daily pipeline's day-1 geometry exactly)
    base.filter("vec_id % 2 = 0").write.mode("append").parquet(landing)
    q1 = incremental_embedding_ingest(
        store, stream_lake_table(spark, landing, schema), ckpt
    )
    if not q1.awaitTermination(300):
        q1.stop()
        raise RuntimeError("emb_stream_ingest: drain 1 did not finish in 300s")
    # batch 2: odd-parity vectors + exact replicas (+10M), rescaled
    # replicas (+20M, cosine scale-invariance), and a within-batch
    # duplicate pair (+30M copies of the odds)
    batch2 = (
        base.filter("vec_id % 2 = 1")
        .unionByName(
            base.filter("vec_id % 4 = 0").select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            base.filter("vec_id % 4 = 2").select(
                (F.col("vec_id") + 20_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
            )
        )
        .unionByName(
            base.filter("vec_id % 4 = 1").select(
                (F.col("vec_id") + 30_000_000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            # same-day NEAR-dup pair (3x rescale of odd vectors): only the
            # ingest's within-batch SRP pass can drop these — the index
            # anti-join can't see them (originals arrive in the same batch)
            base.filter("vec_id % 8 = 5").select(
                (F.col("vec_id") + 40_000_000).alias("vec_id"),
                F.transform("embedding", lambda x: x * F.lit(3.0)).alias(
                    "embedding"
                ),
            )
        )
    )
    batch2.write.mode("append").parquet(landing)
    q2 = incremental_embedding_ingest(
        store, stream_lake_table(spark, landing, schema), ckpt
    )
    if not q2.awaitTermination(300):
        q2.stop()
        raise RuntimeError("emb_stream_ingest: drain 2 did not finish in 300s")
    store.mark_complete("emb_ivf")
    return store.read("emb_ivf").select(
        "vec_id", F.col("cell_id").cast("long").alias("cell_id")
    )


@register(
    "llm_emb_dedup_recall",
    export=False,  # driver slot held by its family head (pivot_family)
    oracle=f"""
    WITH ev AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < {_EMB_CAP}
    ),
    ecorp AS (SELECT vec_id, e FROM ev WHERE vec_id % 2 = 0),
    rcent AS (SELECT vec_id AS cell_id, e AS ce FROM ecorp WHERE vec_id < 16),
    mixq AS (
      SELECT a.vec_id + 50000000 AS query_id,
             list_transform(a.e, (x, i) -> x + 0.35 * b.e[i]) AS qv
      FROM ev a JOIN ev b ON b.vec_id = a.vec_id + 2
      WHERE a.vec_id % 8 = 0
    ),
    rtruth AS (
      SELECT query_id, truth_id, truth_cos FROM (
        SELECT q.query_id, c.vec_id AS truth_id,
               {_IVF_COS.format(a="q.qv", b="c.e")} AS truth_cos,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_IVF_COS.format(a="q.qv", b="c.e")} DESC, c.vec_id) AS rn
        FROM mixq q CROSS JOIN ecorp c)
      WHERE rn = 1
    ),
    rprobes AS (
      SELECT query_id, qv, cell_id FROM (
        SELECT q.query_id, q.qv, c.cell_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_IVF_COS.format(a="q.qv", b="c.ce")} DESC, c.cell_id) AS rn
        FROM mixq q CROSS JOIN rcent c)
      WHERE rn <= 2
    ),
    rassigned AS (
      SELECT vec_id, e, cell_id FROM (
        SELECT v.vec_id, v.e, c.cell_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_IVF_COS.format(a="v.e", b="c.ce")} DESC, c.cell_id) AS rn
        FROM ecorp v CROSS JOIN rcent c)
      WHERE rn = 1
    ),
    rprobe_top AS (
      SELECT query_id, probe_id, probe_cos FROM (
        SELECT p.query_id, a.vec_id AS probe_id,
               {_IVF_COS.format(a="p.qv", b="a.e")} AS probe_cos,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {_IVF_COS.format(a="p.qv", b="a.e")} DESC, a.vec_id) AS rn
        FROM rprobes p JOIN rassigned a USING (cell_id)
        WHERE a.vec_id <> p.query_id)
      WHERE rn = 1
    )
    SELECT t.query_id, t.truth_id, t.truth_cos, p.probe_id, p.probe_cos,
           CAST(CASE WHEN p.probe_id = t.truth_id AND p.probe_cos >= 0.8
                     THEN 1 ELSE 0 END AS BIGINT) AS found
    FROM rtruth t JOIN rprobe_top p USING (query_id)
    """,
    doc=(
        "LLM ANN instrumentation: DEDUP-probe recall — the measurement a"
        " semantic-dedup rollout gates on before trusting an IVF probe to"
        " find near-duplicates. Planted ~0.94-cosine near-dups (a day-1"
        " vector plus 0.35x another — paraphrase-grade, NOT scale"
        " copies, so the copy's argmax cell CAN differ from its"
        " original's and the 2-probe search can genuinely miss) are"
        " searched both brute-force (truth) and via the 2-of-16-cell"
        " probe; per-query found flags certified on both engines — the"
        " llm_ann_recall pattern specialized to the dedup threshold"
    ),
)
def llm_emb_dedup_recall(spark, sf_dir):
    base = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _EMB_CAP)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    corpus = base.filter("vec_id % 2 = 0")
    nxt = base.select(
        (F.col("vec_id") - 2).alias("vec_id"), F.col("embedding").alias("_e2")
    )
    # %8 keeps the planted-query population large enough for a meaningful
    # recall statistic while bounding the brute-force truth arm's
    # |queries| x |corpus| interpreted dot products at bench scale
    mixed = (
        base.filter("vec_id % 8 = 0")
        .join(nxt, "vec_id")
        .select(
            (F.col("vec_id") + 50_000_000).alias("vec_id"),
            F.zip_with(
                "embedding", "_e2", lambda x, y: x + F.lit(0.35) * y
            ).alias("embedding"),
        )
    )
    truth = similarity.cosine_topk(corpus, mixed, k=1).select(
        "query_id",
        F.col("candidate_id").alias("truth_id"),
        F.col("cos_sim").alias("truth_cos"),
    )
    probe = similarity.ivf_topk(
        corpus, mixed, k=1, n_cells=16, n_probe=2
    ).select(
        "query_id",
        F.col("candidate_id").alias("probe_id"),
        F.col("cos_sim").alias("probe_cos"),
    )
    return truth.join(probe, "query_id").select(
        "query_id",
        "truth_id",
        "truth_cos",
        "probe_id",
        "probe_cos",
        (
            (F.col("probe_id") == F.col("truth_id"))
            & (F.col("probe_cos") >= 0.8)
        )
        .cast("long")
        .alias("found"),
    )
