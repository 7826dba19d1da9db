"""Deduplication & similarity-search pack over documents/embeddings —
the training-data-pipeline operators (exact dedup, MinHash-LSH, SimHash,
n-gram Jaccard, embedding cosine near-dup, brute-force ANN).

Scale design notes (100 TB):
- exact dedup: one hash-groupBy shuffle on the digest — the minimal possible.
- MinHash-LSH: shingle explode is a narrow map; signatures are one groupBy
  per doc; candidate generation joins on (band, band-signature) — candidates,
  not all pairs, cross the shuffle. Band width trades recall vs join size.
- SimHash: banded by pigeonhole (4 bands of 15 bits → any pair within
  hamming distance 3 shares a band) — again no quadratic join.
- embedding near-dup at this sf is a blocked self-join; the production-scale
  path is the LSH/IVF operators in orc_spark/operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orc_spark.functions.hashing import (
    MERSENNE_P,
    MINHASH_PERMS,
    h60,
    h60_sql,
    minhash_col,
    minhash_sql,
)
from orc_spark.plans import Query
from orc_spark.operators.gramscan import byte_pos_stream, gram, once_per_row
from orc_spark.sources.tables import load_table, spread_small_scan, table_rowcount

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS


# --- exact dedup ------------------------------------------------------------

def dd_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("digest"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DD_EXACT_SQL = """
SELECT md5(text) AS digest, min(doc_id) AS rep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --- MinHash signatures -----------------------------------------------------

SHINGLE_K = 5


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct k-BYTE shingles of lowercased text per doc (narrow map).

    Byte-domain extraction (operators/gramscan.py): Spark's positional
    substring on a STRING walks codepoints from byte 0 — O(doc_len) per
    call, O(doc_len²) per exploded doc — which one 10 MB document turns
    into an unbounded single-task straggler (r15 length-skew sweep).
    Binary slices are O(k); for ASCII corpora the byte shingles equal the
    char shingles the DuckDB oracle computes (contract in gramscan.py)."""
    s = byte_pos_stream(docs, SHINGLE_K)
    return s.select("doc_id", gram(SHINGLE_K).alias("sh")).distinct()


_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, lower(substr(text, pos, {SHINGLE_K})) AS sh
  FROM (SELECT doc_id,
               unnest(range(1, greatest(length(text) - {SHINGLE_K - 1}, 1) + 1)) AS pos,
               text
        FROM documents)
"""


def dd_minhash_sig(spark: SparkSession, sf: str) -> DataFrame:
    """No distinct at all: min over the shingle MULTISET equals min over the
    set, so the signature aggregation consumes the exploded rows directly —
    one shuffle (the groupBy), map-side partial mins, nothing else."""
    # pre-explode repartition: the documents file is one scan split, and the
    # ~300× shingle fan-out + md5 would otherwise run in a single task.
    # doc_id-keyed (r15): the spread exchange doubles as the groupBy(doc_id)
    # distribution, so the signature aggregate needs no exchange of its own
    docs = spread_small_scan(load_table(spark, sf, "documents"), key="doc_id")
    # byte-domain shingles (gramscan.py): O(k) per position — positional
    # STRING substring is O(doc_len) per call and a giant doc made this
    # scan a quadratic single-task straggler (r15)
    sh = byte_pos_stream(docs, SHINGLE_K).select(
        "doc_id", h60(gram(SHINGLE_K)).alias("h")
    )
    aggs = [
        F.min(minhash_col(F.col("h"), a, b)).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sig_sql() -> str:
    mins = ",\n         ".join(
        f"min({minhash_sql('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    return f"""
WITH hashed AS (
  SELECT DISTINCT doc_id,
         {h60_sql(f'lower(substr(text, pos, {SHINGLE_K}))')} AS h
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {SHINGLE_K - 1}, 1) + 1)) AS pos
        FROM documents)
)
SELECT doc_id,
         {mins}
FROM hashed GROUP BY doc_id
"""


# --- MinHash-LSH candidate pairs + estimated jaccard ------------------------

def dd_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """LSH candidate generation: explode each signature into (band_idx,
    band_key) rows and self-join ONCE on that composite key — one shuffle on
    the band key instead of one self-join per band. Only same-band docs meet;
    at 100 TB the join input is |docs|·N_BANDS rows, never |docs|².

    Signatures travel as ONE array column (not 16 scalar columns): the join
    stages codegen over a 2-column schema, and the match estimate is 16
    static element-compares — whole-stage codegen, no HOF."""
    return _banded_pairs(_sig(spark, sf), with_est=True)


def _minhash_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct LSH candidate (doc_a, doc_b) pairs WITHOUT the jaccard
    estimate — for consumers like dd_containment that rerank with their own
    exact measure; the signature array never crosses the band shuffle and
    the 16 compare expressions are never computed."""
    return _banded_pairs(_sig(spark, sf), with_est=False)


def _sig(spark: SparkSession, sf: str) -> DataFrame:
    """16-perm signature as ONE array column, shared by every banded
    consumer (both sides of _banded_pairs, and through it dd_minhash_pairs /
    dd_minhash_quality / dd_cluster / dd_containment's candidate set).

    localCheckpointed: the shingle explode + md5 + 16-min groupBy is the
    expensive stage of the whole MinHash family, and both sides of the
    band self-join read it."""
    sig16 = dd_minhash_sig(spark, sf)
    return sig16.select(
        "doc_id",
        F.array(*[F.col(f"m{i}") for i in range(N_PERM)]).alias("sig"),
    ).localCheckpoint(eager=False)


def _banded_pairs(sig: DataFrame, with_est: bool) -> DataFrame:
    # band structs + the 16-compare estimate are built as ONE F.expr string
    # each (r16): the Column-by-Column construction cost ~90 py4j
    # round-trips per build (~0.23 s of driver time, profiled — every
    # banded consumer paid it: dd_minhash_pairs/quality, dd_cluster,
    # dd_containment, cu_pipeline). expr() parses JVM-side into the
    # IDENTICAL Catalyst tree (executed plans byte-equal modulo plan_id).
    band_struct_sql = ", ".join(
        "struct({b} AS band_idx, concat_ws(',', {els}) AS band_key)".format(
            b=band,
            els=", ".join(
                f"element_at(sig, {band * ROWS_PER_BAND + j + 1})"
                for j in range(ROWS_PER_BAND)
            ),
        )
        for band in range(N_BANDS)
    )
    # carry the 16-int signature through the band explode (4× a small array)
    # so the candidate pairs never join back to the signature table — the
    # band self-join is the ONLY shuffle-join in the pipeline, and the
    # groupBy that dedupes multi-band matches is the only other shuffle
    sig_cols = ["doc_id", "sig"] if with_est else ["doc_id"]
    bands = sig.select(
        *sig_cols,
        F.expr(f"explode(array({band_struct_sql}))").alias("bk"),
    ).select(*sig_cols, "bk.band_idx", "bk.band_key")
    a_cols = [F.col("doc_id").alias("doc_a"), "band_idx", "band_key"]
    b_cols = [F.col("doc_id").alias("doc_b"), "band_idx", "band_key"]
    if with_est:
        a_cols.insert(1, F.col("sig").alias("sa"))
        b_cols.insert(1, F.col("sig").alias("sb"))
    ba = bands.select(*a_cols)
    bb = bands.select(*b_cols)
    matched = ba.join(bb, ["band_idx", "band_key"]).where(
        F.col("doc_a") < F.col("doc_b")
    )
    if not with_est:
        return matched.select("doc_a", "doc_b").distinct()
    # 16 static element-compares summed — whole-stage codegen, where the
    # equivalent aggregate(zip_with(...)) HOF is CodegenFallback (interpreted
    # per candidate row; see CLAUDE.md). Python sum()-of-Columns seeds a
    # constant-folded `0 +`, so the CASE chain below is the same tree.
    est_sql = " + ".join(
        f"(CASE WHEN element_at(sa, {i + 1}) = element_at(sb, {i + 1}) "
        "THEN 1 ELSE 0 END)"
        for i in range(N_PERM)
    )
    return (
        matched.select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST(({est_sql}) AS DOUBLE) / {N_PERM}").alias(
                "est_jaccard"
            ),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def _minhash_pairs_sql() -> str:
    sig = _minhash_sig_sql()
    bands = []
    for band in range(N_BANDS):
        cols = [f"m{band * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND)]
        cond = " AND ".join(f"a.{c} = b.{c}" for c in cols)
        bands.append(
            f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b ON {cond} AND a.doc_id < b.doc_id"
        )
    union = "\nUNION\n".join(bands)
    eq_sum = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM)
    )
    return f"""
WITH sig AS ({sig}),
pairs AS ({union})
SELECT p.doc_a, p.doc_b,
       CAST(({eq_sum}) AS DOUBLE) / {N_PERM} AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
"""


# --- MinHash estimator QA (estimate vs exact Jaccard calibration) ------------

MHQ_ERR_SCALE = 1_000_000_000


def dd_minhash_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-pipeline QA: for every LSH candidate pair, the 16-perm MinHash
    Jaccard ESTIMATE vs the EXACT 5-shingle Jaccard, aggregated into a
    calibration table per estimate quartile (n_pairs, mean est, mean exact,
    mean/max absolute error). This is the query a corpus owner runs before
    trusting a MinHash threshold at 100 TB — it quantifies the estimator on
    THEIR data, using only the bounded candidate set (never all pairs).

    Determinism: per-pair est/exact/|err| are single float expressions
    (identical cross-engine); every AGGREGATED mean goes through fixed-point
    BIGINT (1e-9 units, floor(+0.5)) so accumulation order can't skew
    engines (CLAUDE.md); max is order-free."""
    docs = load_table(spark, sf, "documents")
    cand = dd_minhash_pairs(spark, sf)  # doc_a, doc_b, est_jaccard
    sh = _shingles(docs)
    n_sh = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.select("doc_a", "doc_b")
        .join(sh.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    per_pair = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_inter": 0})
        .join(n_sh.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(n_sh.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .withColumn(
            "exact_jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))
    )
    s = float(MHQ_ERR_SCALE)
    fp = lambda c: F.floor(c * s + F.lit(0.5)).cast("bigint")  # noqa: E731
    mean6 = lambda tot, n: F.round(  # noqa: E731
        (tot.cast("double") / n.cast("double")) / s, 6
    )
    g = per_pair.groupBy(
        # least(…, 3): est_jaccard exactly 1.0 (exact dups) folds into the
        # top quartile instead of a singleton fifth bucket (review finding)
        F.least(F.floor(F.col("est_jaccard") * 4.0), F.lit(3))
        .cast("bigint")
        .alias("est_quartile")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(fp(F.col("est_jaccard"))).alias("_se"),
        F.sum(fp(F.col("exact_jaccard"))).alias("_sx"),
        F.sum(fp(F.col("abs_err"))).alias("_serr"),
        F.round(F.max("abs_err"), 6).alias("max_abs_err"),
    )
    return g.select(
        "est_quartile",
        "n_pairs",
        mean6(F.col("_se"), F.col("n_pairs")).alias("mean_est"),
        mean6(F.col("_sx"), F.col("n_pairs")).alias("mean_exact"),
        mean6(F.col("_serr"), F.col("n_pairs")).alias("mean_abs_err"),
        "max_abs_err",
    ).coalesce(1).sortWithinPartitions("est_quartile")


def _minhash_quality_sql() -> str:
    s = float(MHQ_ERR_SCALE)
    return f"""
WITH cand AS ({_minhash_pairs_sql()}),
sh AS ({_SHINGLES_SQL}),
nsh AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY c.doc_a, c.doc_b
),
per_pair AS (
  SELECT c.est_jaccard,
         CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
           / CAST(na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0) AS DOUBLE)
           AS exact_jaccard
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN nsh na ON na.doc_id = c.doc_a
  JOIN nsh nb ON nb.doc_id = c.doc_b
),
errs AS (
  SELECT est_jaccard, exact_jaccard,
         abs(est_jaccard - exact_jaccard) AS abs_err
  FROM per_pair
)
SELECT CAST(least(floor(est_jaccard * 4.0), 3) AS BIGINT) AS est_quartile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round((CAST(sum(CAST(floor(est_jaccard * {s!r} + 0.5) AS BIGINT)) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) / {s!r}, 6) AS mean_est,
       round((CAST(sum(CAST(floor(exact_jaccard * {s!r} + 0.5) AS BIGINT)) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) / {s!r}, 6) AS mean_exact,
       round((CAST(sum(CAST(floor(abs_err * {s!r} + 0.5) AS BIGINT)) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) / {s!r}, 6) AS mean_abs_err,
       round(max(abs_err), 6) AS max_abs_err
FROM errs
GROUP BY CAST(least(floor(est_jaccard * 4.0), 3) AS BIGINT)
ORDER BY est_quartile
"""


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15  # 4 bands → pigeonhole guarantee for hamming ≤ 3


def _tokens(docs: DataFrame) -> DataFrame:
    tok = F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    return docs.select("doc_id", tok).where(F.col("tok") != "")


_TOKENS_SQL = """
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
"""


def dd_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """60-bit SimHash: per bit b, sign of Σ_tokens (bit_b(h(token)) ? +1 : -1),
    weighted by token multiplicity."""
    # doc_id-keyed spread (r15): both downstream groupBys — (doc_id, b) and
    # (doc_id) — are satisfied by hashpartitioning(doc_id), so the 60×
    # bit-exploded stream never re-shuffles
    docs = spread_small_scan(load_table(spark, sf, "documents"), key="doc_id")
    toks = _tokens(docs).select("doc_id", h60(F.col("tok")).alias("h"))
    # integer division, not `/`: h is up to 2^60 and float division would lose
    # low bits. 2^b is exact in double, so the cast is exact in both engines.
    bits = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
        "h",
    ).select(
        "doc_id",
        "b",
        (F.expr("h div cast(pow(2.0, b) as bigint)") % 2).alias("bit"),
    )
    weights = bits.groupBy("doc_id", "b").agg(
        F.sum(F.when(F.col("bit") == 1, 1).otherwise(-1)).alias("w")
    )
    return weights.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("w") > 0, F.pow(F.lit(2.0), F.col("b")).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("simhash")
    )


DD_SIMHASH_SQL = f"""
WITH toks AS ({_TOKENS_SQL}),
hashed AS (SELECT doc_id, {h60_sql('tok')} AS h FROM toks),
bits AS (
  SELECT doc_id, b, (h // CAST(pow(2.0, b) AS BIGINT)) % 2 AS bit
  FROM hashed, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b)
),
weights AS (
  SELECT doc_id, b, sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS w
  FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       -- CAST the outer sum: DuckDB sum(BIGINT) yields HUGEINT, which pandas
       -- canonicalization decays to float64 and rounds away low bits of the
       -- 60-bit hash (values reach 1.15e18 > 2^53)
       CAST(sum(CASE WHEN w > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS simhash
FROM weights GROUP BY doc_id
"""


def dd_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance ≤ 3: split the 60-bit
    hash into 4 × 15-bit bands — by pigeonhole any pair within distance 3
    shares at least one band, so the candidate join is linear (band join),
    and the exact popcount(xor) check runs only on candidates."""
    sig = dd_simhash(spark, sf)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.expr(f"(simhash div {1 << (15 * b)}) % {1 << 15}").alias("band_val"),
        )
        for b in range(4)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "simhash", "bk.band_idx", "bk.band_val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band_idx", "band_val"
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sh_a ^ sh_b)").cast("int").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
    )


DD_SIMHASH_PAIRS_SQL = f"""
WITH sig AS ({DD_SIMHASH_SQL}),
bands AS (
  SELECT doc_id, simhash, b AS band_idx,
         (simhash // CAST(pow(2.0, 15 * b) AS BIGINT)) % 32768 AS band_val
  FROM sig, (SELECT unnest(range(0, 4)) AS b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --- n-gram Jaccard near-dup ------------------------------------------------

NGRAM_N = 3
JACCARD_THRESHOLD = 0.5
LEN_BUCKET = 50


NGRAM_N_BLOCKS = 4


def dd_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact character-trigram Jaccard over length-bucketed candidate pairs
    (same floor(n_chars/50) bucket — the candidate generator; the LSH variant
    is dd_minhash_pairs).

    Every length bucket is further SUBDIVIDED into NB doc_id-residue blocks
    and processed through the block-pair grid (same harness as dd_embcos):
    one shuffle on (bucket, block_a, block_b) and one boolean matrix product
    per cell. Each doc travels as ONE row carrying its distinct gram-hash SET
    as an array column (64-bit xxhash64 of the trigram — injective w.h.p.,
    so hashed-set Jaccard == string-set Jaccard): the wide shuffle moves
    |docs|·(NB+1)/2 array rows, NOT the ~300× exploded gram rows.
    Intersection/union are exact integers and the division is the same double
    op the oracle performs — bit-identical results. Scale contract: per-cell
    memory is 2·(bucket/NB) docs regardless of bucket population (the r01
    verdict's unbounded-bucket fix); the per-bucket O(n²) COMPUTE is the
    declared semantics — unbounded corpora prune with dd_minhash_pairs
    candidates first and use this kernel only to rerank."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    nb = NGRAM_N_BLOCKS
    # doc_id-keyed scale-aware spread (r15): hashpartitioning(doc_id)
    # satisfies the collect_set groupBy's ClusteredDistribution(doc_id,
    # bucket, blk), so the per-doc gram sets aggregate without their own
    # exchange; previously an unconditional round-robin forced one
    docs = spread_small_scan(
        load_table(spark, sf, "documents"), key="doc_id"
    ).select(
        "doc_id",
        "text",
        (F.floor(F.length("text") / LEN_BUCKET)).alias("bucket"),
        F.pmod(F.col("doc_id"), F.lit(nb)).cast("int").alias("blk"),
    )
    # byte-domain trigrams (gramscan.py, r15): positional STRING substring
    # is O(doc_len) per call — a giant doc made this scan quadratic.
    # explode → hash → collect_set: the explode is a narrow map feeding a
    # partial-aggregated groupBy, so the only exploded-size exchange is the
    # map-side-combined set aggregation (distinct grams per doc ≈ ~250)
    gram_sets = (
        byte_pos_stream(
            docs, NGRAM_N, extra_cols=("doc_id", "bucket", "blk")
        )
        .select(
            "doc_id",
            "bucket",
            "blk",
            F.xxhash64(gram(NGRAM_N)).alias("gh"),
        )
        .groupBy("doc_id", "bucket", "blk")
        .agg(F.collect_set("gh").alias("grams"))
    )
    grid = spark.createDataFrame(
        [(a, b) for a in range(nb) for b in range(a, nb)], "ba int, bb int"
    )
    off_diag = grid.where(F.col("ba") != F.col("bb"))
    a_side = gram_sets.join(F.broadcast(grid), gram_sets.blk == grid.ba).select(
        "bucket", "ba", "bb", F.lit("a").alias("side"), "doc_id", "grams"
    )
    b_side = gram_sets.join(
        F.broadcast(off_diag), gram_sets.blk == off_diag.bb
    ).select("bucket", "ba", "bb", F.lit("b").alias("side"), "doc_id", "grams")
    tagged = a_side.unionByName(b_side)

    schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def cell_jaccard(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_a": [], "doc_b": [], "jaccard": []}).astype(
            {"doc_a": "int64", "doc_b": "int64", "jaccard": "float64"}
        )
        diagonal = bool(pdf["ba"].iloc[0] == pdf["bb"].iloc[0])
        a = pdf[pdf["side"] == "a"]
        b = a if diagonal else pdf[pdf["side"] == "b"]
        if a.empty or b.empty:
            return empty
        # flatten the per-doc gram arrays, then code grams over the cell union
        # so a-rows and b-rows share matrix columns
        all_grams = np.concatenate(pdf["grams"].to_numpy())
        lens = pdf["grams"].map(len).to_numpy()
        gram_codes, _ = pd.factorize(all_grams)
        n_grams = int(gram_codes.max()) + 1
        row_of = np.repeat(np.arange(len(pdf)), lens)
        is_a = (pdf["side"] == "a").to_numpy()

        def matrix(side_mask):
            ids = pdf.loc[side_mask, "doc_id"].to_numpy()
            sel = side_mask[row_of]
            # rows are unique docs already (one array row per doc per cell)
            local = np.cumsum(side_mask) - 1  # pdf row → side-local row
            m = np.zeros((ids.shape[0], n_grams), dtype=np.float32)
            m[local[row_of[sel]], gram_codes[sel]] = 1.0
            return ids, m

        aid, am = matrix(is_a)
        if diagonal:
            bid, bm = aid, am
        else:
            bid, bm = matrix(~is_a)
        inter = (am @ bm.T).astype(np.int64)
        sa = am.sum(axis=1).astype(np.int64)
        sb = bm.sum(axis=1).astype(np.int64)
        union = sa[:, None] + sb[None, :] - inter
        with np.errstate(invalid="ignore", divide="ignore"):
            jac = inter.astype(np.float64) / union
        if diagonal:
            # triu over POSITIONS picks each unordered pair once (ids are
            # unique per cell), but positions follow applyInPandas arrival
            # order — orient by VALUE so doc_a < doc_b always holds (the
            # oracle's contract), matching the off-diagonal branch.
            ia, ib = np.triu_indices(aid.shape[0], k=1)
            keep = jac[ia, ib] >= JACCARD_THRESHOLD
            da = np.minimum(aid[ia[keep]], bid[ib[keep]])
            db = np.maximum(aid[ia[keep]], bid[ib[keep]])
            vals = jac[ia[keep], ib[keep]]
        else:
            ia, ib = np.where(jac >= JACCARD_THRESHOLD)
            da = np.minimum(aid[ia], bid[ib])
            db = np.maximum(aid[ia], bid[ib])
            vals = jac[ia, ib]
        return pd.DataFrame({"doc_a": da, "doc_b": db, "jaccard": vals})

    return tagged.groupBy("bucket", "ba", "bb").applyInPandas(cell_jaccard, schema)


DD_NGRAM_SQL = f"""
WITH d AS (
  SELECT doc_id, text, CAST(floor(length(text) / {LEN_BUCKET}.0) AS BIGINT) AS bucket
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, bucket, lower(substr(text, pos, {NGRAM_N})) AS g
  FROM (SELECT doc_id, bucket, text,
               unnest(range(1, greatest(length(text) - {NGRAM_N - 1}, 1) + 1)) AS pos
        FROM d)
),
counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM grams a JOIN grams b ON a.g = b.g AND a.bucket = b.bucket
                           AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= {JACCARD_THRESHOLD}
"""


# --- embedding cosine near-dup + brute-force ANN ----------------------------

COS_THRESHOLD = 0.4
ANN_N_QUERIES = 8
ANN_K = 5


EMBCOS_N_BLOCKS = 8


def _block_grid_tagged(emb: DataFrame, nb: int, keys: list[str]) -> DataFrame:
    """Tag each vector (must carry a `blk` column = vec_id % nb) with every
    (block_a, block_b) cell it participates in — the shared machinery of
    dd_embcos and dd_semdedup. `keys` are extra grouping columns carried
    through (dd_semdedup's cluster label).

    One generate, no joins (r16): a vector in block `blk` participates in
    exactly one cell per peer block j — (blk, j) as side 'a' when j ≥ blk
    (diagonal included), (j, blk) as side 'b' when j < blk — so explode
    j ∈ [0, nb) and derive (ba, bb, side) arithmetically. The previous
    shape built a 36-row createDataFrame grid (a 32-slice parallelize
    whose broadcast collect ran a 32-task job, CLAUDE.md tiny-literal
    pathology) and TWO broadcast joins + a union over two scans; this is
    one scan, one explode, zero exchanges before the single (ba, bb)
    group shuffle. Row multiset verified identical."""
    j = F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("j")
    tagged = emb.select(*keys, "vec_id", "embedding", "blk", j)
    return tagged.select(
        *keys,
        F.least("blk", "j").alias("ba"),
        F.greatest("blk", "j").alias("bb"),
        F.when(F.col("j") >= F.col("blk"), "a").otherwise("b").alias("side"),
        "vec_id",
        "embedding",
    )


def _cell_cos_pairs(pdf, tau: float):
    """One grid cell's qualifying cosine pairs: (va, vb, sims) arrays with
    sims rounded to 6, pairs canonical (va < vb), self-pairs excluded.
    Returns None for an empty side.

    NULL / zero-norm / non-finite embeddings are NOT COMPARABLE and are
    masked here, inside the kernel where the norms are computed anyway
    (r14; previously zero norms divided to NaN with a RuntimeWarning and
    survived only because NaN fails the >= tau filter). The oracles agree
    by construction: a NULL array unnests to no rows, and a zero/non-finite
    norm row is excluded by the norms-CTE indexability predicate."""
    import numpy as np

    def _side(rows):
        rows = rows[rows["embedding"].notna()]
        if rows.empty:
            return rows["vec_id"].to_numpy(), np.zeros((0, 0))
        ids = rows["vec_id"].to_numpy()
        m = np.vstack(rows["embedding"].map(np.asarray).to_numpy()).astype(
            np.float64
        )
        norms = np.linalg.norm(m, axis=1)
        ok = np.isfinite(norms) & (norms > 0)
        return ids[ok], m[ok] / norms[ok, None]

    a = pdf[pdf["side"] == "a"]
    diagonal = bool(pdf["ba"].iloc[0] == pdf["bb"].iloc[0])
    b = a if diagonal else pdf[pdf["side"] == "b"]
    if a.empty or b.empty:
        return None
    aid, am = _side(a)
    bid, bm = (aid, am) if diagonal else _side(b)
    if aid.size == 0 or bid.size == 0:
        return None
    sims = np.round(am @ bm.T, 6)
    ri, ci = np.where(sims >= tau)
    if diagonal:
        # same block on both sides: keep each unordered pair once
        keep = aid[ri] < bid[ci]
        ri, ci = ri[keep], ci[keep]
        va, vb = aid[ri], bid[ci]
    else:
        # disjoint blocks: every cross pair is valid exactly once;
        # canonicalize ids to (min, max)
        va = np.minimum(aid[ri], bid[ci])
        vb = np.maximum(aid[ri], bid[ci])
    return va, vb, sims[ri, ci]


def dd_embcos(spark: SparkSession, sf: str) -> DataFrame:
    """All-pairs cosine near-dup as a DISTRIBUTED block-grid self-join: each
    vector lands in block `vec_id % NB`; the NB·(NB+1)/2 block pairs are a
    tiny broadcast table; two broadcast joins tag every vector with the block
    pairs it participates in, and one shuffle groups each (block_a, block_b)
    cell so an Arrow-batched grouped map runs ONE matmul per cell.

    Nothing unbounded ever touches the driver: per-group memory is two blocks
    (corpus/NB vectors each), and the only wide op is the single (ba, bb)
    shuffle carrying corpus·(NB+1)/2 replicated rows. Exact all-pairs compute
    is inherently O(n²); at 100 TB the LSH candidates (dd_minhash_pairs /
    dd_simhash_pairs) prune first and this kernel reranks candidates only.
    The oracle computes the identical rounded value through a join-sum;
    round(.,6) absorbs summation-order ulps."""
    import pandas as pd
    from pyspark.sql import types as T

    emb = (
        load_table(spark, sf, "embeddings")
        # NULL embedding = not comparable (failed encoder); excluded before
        # the grid, where a None inside the Arrow cell batch crashed the
        # matmul kernel (r13 NULL-heavy sweep). No-op on /root/testdata.
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .withColumn("blk", (F.col("vec_id") % EMBCOS_N_BLOCKS).cast("int"))
    )
    tagged = _block_grid_tagged(emb, EMBCOS_N_BLOCKS, [])

    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        res = _cell_cos_pairs(pdf, COS_THRESHOLD)
        if res is None:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            ).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
            )
        va, vb, sims = res
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos_sim": sims})

    return tagged.groupBy("ba", "bb").applyInPandas(cell, schema)


_COS_CORE_SQL = """
flat AS (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY vec_id
  HAVING isfinite(sum(v * v)) AND sum(v * v) > 0
)
"""
# norms carries the indexability predicate (r14): zero-norm / non-finite
# vectors are NOT COMPARABLE, so every consumer's inner join on norms drops
# pairs touching them — mirroring the Spark kernels' _indexable mask.
# No-op on real testdata (embeddings there are finite and non-zero).

DD_EMBCOS_SQL = f"""
WITH {_COS_CORE_SQL},
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b,
       round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
FROM dots
JOIN norms na ON na.vec_id = vec_a
JOIN norms nb ON nb.vec_id = vec_b
WHERE round(dot / (na.nrm * nb.nrm), 6) >= {COS_THRESHOLD}
"""


# --- SemDeDup-style semantic dedup ------------------------------------------

SEM_TAU = 0.3  # within-cluster cosine above this ⇒ semantic duplicate
SEM_N_BLOCKS = 4


def dd_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, public recipe):
    within each embedding CLUSTER (the pre-computed `label` column stands
    in for the k-means assignment), any pair with cosine ≥ {SEM_TAU} marks
    the higher vec_id a semantic duplicate; survivors are the vecs not
    dominated by an earlier one. Emits the per-cluster keep/drop audit
    with an order-independent survivor digest.

    The drop rule is the deterministic "dominated-by-earlier" variant
    (v drops ⟺ ∃ u<v in-cluster with cos(u,v) ≥ τ) — unlike greedy
    sequential pruning it needs no recurrence, so it distributes and
    oracles cleanly.

    Cross-engine: cosines follow dd_embcos exactly (numpy matmul vs
    join-sum, both rounded to 6 before the threshold); everything else is
    integer counts and xor digests. Non-null-label assumption: a NULL
    label would form one Spark group but never match DuckDB's equality
    join — the testdata labels are non-null; a production run would
    filter or coalesce labels first.

    100 TB shape: clustering bounds candidates to same-label pairs; within
    a cluster the same block-grid as dd_embcos keeps per-task memory to
    two blocks — cells are (label, block_a, block_b), so a huge cluster
    splits across tasks instead of one matmul. At real scale the label
    comes from the IVF coarse quantizer (operators/similarity.py) and τ
    rises with corpus density."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from orc_spark.functions.hashing import xor_digest

    emb = (
        load_table(spark, sf, "embeddings")
        .select("vec_id", "label", "embedding")
        .withColumn("blk", (F.col("vec_id") % SEM_N_BLOCKS).cast("int"))
    )
    tagged = _block_grid_tagged(emb, SEM_N_BLOCKS, ["label"])

    schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("vec_drop", T.LongType()),
        ]
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "label": pd.Series([], dtype="int32"),
                "vec_drop": pd.Series([], dtype="int64"),
            }
        )
        res = _cell_cos_pairs(pdf, SEM_TAU)
        if res is None:
            return empty
        _va, vb, _sims = res  # pairs are canonical va < vb ⇒ vb drops
        drops = np.unique(vb)
        if drops.size == 0:
            return empty
        return pd.DataFrame(
            {
                "label": np.full(
                    drops.size, int(pdf["label"].iloc[0]), dtype="int32"
                ),
                "vec_drop": drops.astype("int64"),
            }
        )

    # single consumer (the left join below) — no checkpoint needed; AQE
    # sees the distinct's true (tiny) size at runtime and broadcasts
    dropped = (
        tagged.groupBy("label", "ba", "bb")
        .applyInPandas(cell, schema)
        .select("vec_drop")
        .distinct()
    )
    # ONE emb scan + ONE groupBy builds totals, kept counts and the
    # survivor digest together (aggregates skip NULLs, so the when()
    # projections restrict them to survivors): the previous
    # anti-join + two separate aggregates + join re-scanned embeddings
    # per branch (r15).
    flagged = emb.select("label", "vec_id").join(
        dropped.withColumn("dropped", F.lit(1)),
        emb.vec_id == dropped.vec_drop,
        "left",
    )
    keep_id = F.when(
        F.col("dropped").isNull(), F.col("vec_id")
    )
    # the when() wraps the WHOLE digest term (not just the id inside
    # xor_digest): concat_ws inside xor_digest maps NULL to "" rather than
    # propagating it, which would xor h60("") in for every dropped row
    from orc_spark.functions.hashing import h60

    keep_h = F.when(
        F.col("dropped").isNull(),
        h60(F.col("vec_id").cast("string")),
    )
    # Left-join-vs-oracle-inner-join equivalence (ADVICE r15): a label whose
    # EVERY vector dropped would emit n_kept=0 / NULL survivor_digest here
    # while the oracle's totals⋈per_kept inner join omits the label. That
    # state is unreachable: the dominated-by-earlier drop rule can never
    # drop a cluster's minimum comparable vec_id, so every non-empty label
    # always keeps ≥1 survivor (asserted per label in
    # tests/test_similarity_multimodal.py::test_semdedup_drops_planted_...).
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(keep_id).alias("n_kept"),
            F.bit_xor(keep_h).cast("bigint").alias("survivor_digest"),
        )
        .select(
            "label",
            "n_vecs",
            (F.col("n_vecs") - F.col("n_kept")).alias("n_dropped"),
            "n_kept",
            "survivor_digest",
        )
        .coalesce(1)
        .sortWithinPartitions("label")
    )


DD_SEMDEDUP_SQL = f"""
WITH flat AS (
  SELECT vec_id, label, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
norms AS (
  SELECT vec_id, any_value(label) AS label, sqrt(sum(v * v)) AS nrm
  FROM flat GROUP BY vec_id
  HAVING isfinite(sum(v * v)) AND sum(v * v) > 0
),
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.v * b.v) AS dot
  FROM flat a JOIN flat b
    ON a.i = b.i AND a.vec_id < b.vec_id AND a.label = b.label
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT vb AS vec_id FROM dots
  JOIN norms na ON na.vec_id = va
  JOIN norms nbn ON nbn.vec_id = vb
  WHERE round(dot / (na.nrm * nbn.nrm), 6) >= {SEM_TAU}
),
kept AS (
  SELECT e.label, e.vec_id FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
),
per_kept AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
         bit_xor({h60_sql("CAST(vec_id AS VARCHAR)")}) AS survivor_digest
  FROM kept GROUP BY label
),
totals AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
  FROM embeddings GROUP BY label
)
SELECT t.label AS label, t.n_vecs AS n_vecs,
       t.n_vecs - k.n_kept AS n_dropped,
       k.n_kept AS n_kept, k.survivor_digest AS survivor_digest
FROM totals t JOIN per_kept k ON k.label = t.label
ORDER BY t.label
"""


# --- SRP-LSH embedding near-dup (the bucketed 100 TB path) ------------------

SRP_PLANES = 64
SRP_BAND_BITS = 8  # 8 bands of 8 bits
SRP_N_BANDS = SRP_PLANES // SRP_BAND_BITS
SRP_QUANT = 1000.0
SRP_EMB_DIM = 64  # testdata embedding dimensionality (TESTDATA.md)


def _srp_signs() -> list[list[int]]:
    """Deterministic ±1 hyperplane components: sign(p, i) = parity of the
    60-bit md5 hash of 'srp:{p}:{i}' — the exact h60 derivation
    (functions/hashing.py), so the oracle recomputes the same planes in SQL
    while the Spark side inlines them as literals (pure projection, no join).
    """
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"srp:{p}:{i}".encode()).hexdigest()[:15], 16) % 2
            == 1
            else -1
            for i in range(SRP_EMB_DIM)
        ]
        for p in range(SRP_PLANES)
    ]


def ann_srp_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Signed-random-projection LSH near-dup pairs — the linear-cost scale
    path that replaces the O(n²) dd_embcos grid at unbounded corpus size.

    Per vector: quantize to integers (floor(x·1000) — integer dot products
    are ORDER-EXACT, so the sketch bit `dot ≥ 0` can't flip between engines
    on float summation order), take the sign bit against SRP_PLANES fixed
    hyperplanes, pack each run of SRP_BAND_BITS bits into a per-band value
    (no 64-bit sketch integer → no signed-overflow edge). Candidates = pairs
    sharing a band — ONE equi-join on (band_idx, band_val) carrying bare
    ids, deduped BEFORE the embeddings join back, so the rounded-cosine
    rerank runs exactly once per candidate pair.

    Physical shape: the sketch is ONE Arrow-batched numpy pass — quantize,
    one int64 matmul against the 64 inlined hyperplanes, pack bits — per
    input partition (narrow, no shuffle). Integer dots are ORDER-EXACT, so
    the kernel's band values are bit-identical to the SQL oracle's
    join-sum formulation; the previously-shipped broadcast-join shape
    materialized |corpus|·dims·planes joined rows (20M at sf0.1, ~1.2 s of
    the query) to compute the same integers. The candidate join and
    rounded-cosine rerank stay whole-stage-codegen SQL. Recall for true
    near-dups (cos ≥ 0.9) is ≈ 1-(1-0.857^8)^8 ≈ 0.94 at these
    parameters; tune planes/bands for the corpus's similarity floor."""
    return _srp_pairs(spark, sf, probes=None)


def _srp_pairs(
    spark: SparkSession, sf: str, probes: DataFrame | None
) -> DataFrame:
    """ann_srp_pairs body, with an optional probe restriction: when
    `probes` (a frame of probe vec_ids) is given, candidates are filtered
    to probe-touching pairs BEFORE the distinct and the exact-cosine
    rerank — ann_recall_eval's sampled mode lives or dies on this
    placement (fixed {SRP_BAND_BITS}-bit band space ⇒ candidate count
    grows ~n²/2^bits·bands; reranking all of them at ~sf1 measured 15×
    sf0.1, reranking only probe-touching ones is linear)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    emb = (
        load_table(spark, sf, "embeddings")
        # NULL embedding = not sketchable; a None in the Arrow batch crashed
        # the vstack in _sketch (r13 NULL-heavy sweep). No-op on testdata.
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "vf")
    ).select("vec_id", "i", F.col("vf").cast("double").alias("v"))

    signs = np.array(_srp_signs(), dtype=np.int64)  # (planes, dims)
    pow2 = 1 << np.arange(SRP_BAND_BITS, dtype=np.int64)

    def _sketch(it):
        for pdf in it:
            if pdf.empty:
                continue
            m = np.vstack(pdf["embedding"].map(np.asarray).to_numpy()).astype(
                np.float64
            )
            # zero-norm / non-finite vectors are NOT SKETCHABLE (r14): they
            # have no direction, their sign bits are meaningless, and on a
            # degenerate corpus they all collapse into ONE band bucket whose
            # self-join is O(n²). Mirrored in the oracle's norms-CTE
            # indexability predicate. Norms computed here, so the mask is
            # free; np.isfinite(norm) covers NaN/inf elements too.
            norms = np.linalg.norm(m, axis=1)
            ok = np.isfinite(norms) & (norms > 0)
            if not ok.any():
                continue
            m = m[ok]
            n = int(ok.sum())
            # floor(v·1000) in float64 == the oracle's floor(CAST … * 1000)
            qm = np.floor(m * SRP_QUANT).astype(np.int64)
            bits = (qm @ signs.T >= 0).astype(np.int64)  # (n, planes)
            bv = bits.reshape(n, SRP_N_BANDS, SRP_BAND_BITS) @ pow2
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy()[ok], SRP_N_BANDS
                    ),
                    "band_idx": np.tile(
                        np.arange(SRP_N_BANDS, dtype=np.int32), n
                    ),
                    "band_val": bv.reshape(-1),
                }
            )

    # cached: the band self-join consumes this twice (same reason
    # _sig caches for the MinHash band join) — without it the kernel and
    # the embeddings scan run once per join side.
    # KNOWN LEAK (same as _sig): never unpersisted, so in no-cleanup
    # sessions (the driver gate, where __spark_entry__ must not clean —
    # see the pending-localCheckpoint invariant in CLAUDE.md) each
    # invocation leaves one small cached relation (~|vecs|·N_BANDS rows of
    # 3 ints) for the session lifetime. Accepted: bench.py's between-query
    # cleanup reclaims it, and the table is a few MB at gate scale.
    bands = emb.mapInPandas(
        _sketch,
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("band_idx", T.IntegerType()),
                T.StructField("band_val", T.LongType()),
            ]
        ),
    ).cache()
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_val"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    )
    if probes is not None:
        # two broadcast hash joins (equi, codegen) instead of one OR-predicate
        # nested-loop join; filter BEFORE distinct so the dedup shuffle only
        # carries probe-touching pairs
        pa = probes.select(F.col("vec_id").alias("vec_a"), F.lit(1).alias("fa"))
        pb = probes.select(F.col("vec_id").alias("vec_b"), F.lit(1).alias("fb"))
        cand = (
            cand.join(F.broadcast(pa), "vec_a", "left")
            .join(F.broadcast(pb), "vec_b", "left")
            .where(F.col("fa").isNotNull() | F.col("fb").isNotNull())
            .select("vec_a", "vec_b")
        )
    cand = cand.distinct()
    # localCheckpoint (gr_triangles pattern): norms is a small |vecs|-row
    # aggregate consumed by BOTH rerank join sides — without it each side
    # re-runs the full embeddings explode + groupBy (per-branch column
    # pruning defeats ReuseExchange)
    norms = (
        flat.groupBy("vec_id")
        .agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
        .localCheckpoint(eager=False)
    )
    fa = flat.select(
        F.col("vec_id").alias("vec_a"), "i", F.col("v").alias("va")
    )
    fb = flat.select(
        F.col("vec_id").alias("vec_b"), "i", F.col("v").alias("vb")
    )
    pair_dots = (
        cand.join(fa, "vec_a")
        .join(fb, ["vec_b", "i"])
        .groupBy("vec_a", "vec_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("vec_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("vec_id").alias("vec_b"), F.col("nrm").alias("nrm_b"))
    # zero-norm guard (constant-value sweep, r11): a zero vector makes the
    # cosine denominator exactly 0.0 and num/den THROWS under ANSI mode;
    # NULL cos_sim fails the threshold filter, so the undefined pair drops.
    cos = F.round(
        F.col("dot") / F.nullif(F.col("nrm_a") * F.col("nrm_b"), F.lit(0.0)), 6
    )
    return (
        pair_dots.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= COS_THRESHOLD)
    )


def _srp_pairs_sql(cand_probe_filter: str = "") -> str:
    """ANN_SRP_SQL, optionally restricting candidates to probe-touching
    pairs (the filter sits INSIDE cand, mirroring _srp_pairs' placement
    before the distinct + rerank; `probes` resolves lexically from the
    enclosing WITH in ANN_RECALL_SQL)."""
    return f"""
WITH flat AS (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {SRP_QUANT}) AS BIGINT) AS qv
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
signs AS (
  SELECT p, i,
         CASE WHEN ('0x' || substr(md5('srp:' || p || ':' || i), 1, 15))::BIGINT
                   % 2 = 1 THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range(0, {SRP_PLANES})) AS p),
       (SELECT unnest(range(0, {SRP_EMB_DIM})) AS i)
),
-- indexability predicate (r14): zero-norm / non-finite vectors are not
-- sketchable, mirroring the Spark kernel's mask; no-op on real testdata
norms AS (
  SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM flat GROUP BY vec_id
  HAVING isfinite(sum(v * v)) AND sum(v * v) > 0
),
dots AS (
  SELECT f.vec_id, g.p, sum(f.qv * g.s) AS d
  FROM flat f JOIN signs g ON g.i = f.i
  WHERE f.vec_id IN (SELECT vec_id FROM norms)
  GROUP BY 1, 2
),
bands AS (
  SELECT vec_id, p // {SRP_BAND_BITS} AS band_idx,
         CAST(sum(CASE WHEN d >= 0
                       THEN CAST(pow(2.0, p % {SRP_BAND_BITS}) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS band_val
  FROM dots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.vec_id < b.vec_id
  {cand_probe_filter}
),
pair_dots AS (
  SELECT c.vec_a, c.vec_b, sum(fa.v * fb.v) AS dot
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.vec_a
  JOIN flat fb ON fb.vec_id = c.vec_b AND fb.i = fa.i
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, round(dot / NULLIF(na.nrm * nb.nrm, 0), 6) AS cos_sim
FROM pair_dots
JOIN norms na ON na.vec_id = vec_a
JOIN norms nb ON nb.vec_id = vec_b
WHERE round(dot / NULLIF(na.nrm * nb.nrm, 0), 6) >= {COS_THRESHOLD}
"""


ANN_SRP_SQL = _srp_pairs_sql()


# --- ANN recall evaluation (SRP-LSH vs exact ground truth) --------------------

ANN_RECALL_EXACT_MAX = 600  # corpora up to this size: exact full-truth mode
ANN_RECALL_Q = 16  # sampled mode: ground-truth probes per label stratum


def ann_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """ANN QA: recall of the SRP-LSH near-dup path against exact cosine
    ground truth at the same threshold — the measurement a corpus owner
    runs before trusting the linear-cost path at 100 TB (the docstring math
    on ann_srp_pairs predicts ≈0.94; this query measures it on THEIR
    vectors). Both sides apply the identical rounded-cosine threshold, so
    retrieved ⊆ truth and recall = n_retrieved / n_truth.

    Truth is STRATUM-SAMPLED above {ANN_RECALL_EXACT_MAX} vectors (was the
    one measured super-linear shape in BENCH_SCALE3_r11: exact all-pairs
    truth grew 23.9× at the 0.1→1 step): per label stratum (the k-means /
    IVF-cid stand-in), the {ANN_RECALL_Q} deterministically-h60-ranked
    vectors become probes, truth = exact pairs TOUCHING a probe (one
    broadcast-probe matmul per corpus partition — linear in corpus size),
    and the retrieved side is filtered to the same probe-touching pairs.
    recall = |retrieved ∩ probe-touching| / |truth ∩ probe-touching| — an
    unbiased estimator of pair recall under the deterministic stratified
    design (each stratum contributes probes, every probe-touching pair is
    graded exactly; variance falls as probes·n pairs accumulate, see
    tests/test_analytics_properties.py's sampled-mode replay). At or below
    the guard, probes = ALL vectors, which degenerates to the old exact
    semantics. The mode switch reads the corpus size from parquet
    footer metadata (table_rowcount) — no Spark job during construction.

    Scale: probe matrix ≤ max({ANN_RECALL_EXACT_MAX}, Q·|labels|) rows —
    broadcast; truth is one narrow mapInPandas matmul pass + a distinct on
    probe-touching pairs only; the retrieved filter is two broadcast hash
    joins. Nothing quadratic in corpus size remains."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # NULL embedding = not indexable: excluded from probes AND the truth
    # scan (r13 NULL-heavy sweep). table_rowcount counts raw file rows —
    # fine, the mode switch only needs the order of magnitude.
    emb = load_table(spark, sf, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = table_rowcount(sf, "embeddings")
    sampled = n > ANN_RECALL_EXACT_MAX

    def _collect_probes():
        if sampled:
            win = Window.partitionBy("label").orderBy(
                h60(F.col("vec_id").cast("string")), F.col("vec_id")
            )
            probes = (
                emb.withColumn("rn", F.row_number().over(win))
                .where(F.col("rn") <= ANN_RECALL_Q)
                .select("vec_id", "embedding")
            )
        else:
            probes = emb.select("vec_id", "embedding")
        # bounded: ≤ max(EXACT_MAX, Q·|labels|)
        probe_pdf = probes.toPandas()
        if probe_pdf.empty:
            return (
                np.array([], dtype=np.int64),
                np.zeros((0, 0)),
                np.zeros((0,)),
            )
        q_ids = probe_pdf["vec_id"].to_numpy()
        q_m = np.vstack(
            probe_pdf["embedding"].map(np.asarray).to_numpy()
        ).astype(np.float64)
        return q_ids, q_m, np.sqrt((q_m * q_m).sum(axis=1))

    q_ids, q_m, q_nrm = _collect_probes()
    bc = spark.sparkContext.broadcast((q_ids, q_m, q_nrm))
    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
        ]
    )

    def probe_truth(it):
        qi, qm, qn = bc.value
        for pdf in it:
            if pdf.empty or qm.shape[0] == 0:
                continue
            rid = pdf["vec_id"].to_numpy()
            rm = np.vstack(pdf["embedding"].map(np.asarray).to_numpy()).astype(
                np.float64
            )
            rn = np.sqrt((rm * rm).sum(axis=1))
            # raw dot / (|a|·|b|), the oracle's association; zero norms →
            # nan, which fails the >= threshold (oracle: NULLIF → NULL)
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = np.round((qm @ rm.T) / (qn[:, None] * rn[None, :]), 6)
            pi, ci = np.where(sims >= COS_THRESHOLD)
            keep = qi[pi] != rid[ci]  # drop self-pairs
            pi, ci = pi[keep], ci[keep]
            yield pd.DataFrame(
                {
                    "vec_a": np.minimum(qi[pi], rid[ci]),
                    "vec_b": np.maximum(qi[pi], rid[ci]),
                }
            )

    # probe-probe pairs arrive once per endpoint → distinct canonical pairs
    truth = (
        emb.select("vec_id", "embedding")
        .mapInPandas(probe_truth, schema)
        .distinct()
    )
    # sampled mode: the probe restriction goes INTO the SRP pipeline so
    # only probe-touching candidates reach the exact-cosine rerank; the id
    # frame is rebuilt from the collected arrays as ONE driver slice (it is
    # only ever broadcast)
    probe_id_df = (
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(int(v),) for v in q_ids], 1
            )
            if len(q_ids)
            else [],
            "vec_id bigint",
        )
        if sampled
        else None
    )
    retr = _srp_pairs(spark, sf, probe_id_df)
    tc = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    rc = retr.agg(F.count(F.lit(1)).alias("n_retrieved"))
    # n_truth == 0 guard (constant-value sweep, r11): an all-degenerate
    # corpus (e.g. zero embeddings) has no truth pairs and recall is
    # undefined — NULL, not an ANSI DIVIDE_BY_ZERO.
    return tc.crossJoin(rc).select(
        F.lit(int(len(q_ids))).cast("bigint").alias("n_probes"),
        "n_truth",
        "n_retrieved",
        F.round(
            F.col("n_retrieved").cast("double")
            / F.nullif(F.col("n_truth").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall"),
    )


ANN_RECALL_SQL = f"""
WITH nn AS (SELECT count(*) AS n FROM embeddings),
ranked AS (
  SELECT vec_id, row_number() OVER (
           PARTITION BY label
           ORDER BY {h60_sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
  FROM embeddings
  WHERE embedding IS NOT NULL  -- mirror the Spark probe set (r13 NULL sweep)
),
probes AS (
  SELECT vec_id FROM ranked
  WHERE rn <= {ANN_RECALL_Q} OR (SELECT n FROM nn) <= {ANN_RECALL_EXACT_MAX}
),
{_COS_CORE_SQL.strip()},
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.v * b.v) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
  WHERE a.vec_id IN (SELECT vec_id FROM probes)
     OR b.vec_id IN (SELECT vec_id FROM probes)
  GROUP BY 1, 2
),
truth AS (
  SELECT vec_a, vec_b
  FROM dots
  JOIN norms na ON na.vec_id = vec_a
  JOIN norms nb ON nb.vec_id = vec_b
  WHERE round(dot / NULLIF(na.nrm * nb.nrm, 0), 6) >= {COS_THRESHOLD}
),
srp AS (
  {_srp_pairs_sql(
      "WHERE a.vec_id IN (SELECT vec_id FROM probes) "
      "OR b.vec_id IN (SELECT vec_id FROM probes)"
  )}
),
tc AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
rc AS (SELECT CAST(count(*) AS BIGINT) AS n_retrieved FROM srp)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
       tc.n_truth AS n_truth, rc.n_retrieved AS n_retrieved,
       round(CAST(rc.n_retrieved AS DOUBLE)
             / NULLIF(CAST(tc.n_truth AS DOUBLE), 0), 6)
         AS recall
FROM tc, rc
"""


def _query_matrix(spark: SparkSession, sf: str):
    """Collect ONLY the fixed query set — a pushed-down `vec_id < n` filter
    bounds the driver transfer to ANN_N_QUERIES rows regardless of corpus
    size (the corpus itself never leaves the executors)."""
    import numpy as np

    pdf = (
        load_table(spark, sf, "embeddings")
        # NULL embedding = not searchable (r13 NULL-heavy sweep); same
        # no-rows-for-that-query semantics as the SQL oracles, whose
        # per-element unnest yields nothing for a NULL array
        .where(
            (F.col("vec_id") < ANN_N_QUERIES)
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .toPandas()
    )
    if pdf.empty:  # degenerate corpus: no query set (vstack would crash)
        return np.array([], dtype=np.int64), np.zeros((0, 0))
    ids = pdf["vec_id"].to_numpy()
    m = np.vstack(pdf["embedding"].map(np.asarray).to_numpy()).astype(np.float64)
    # zero-norm / non-finite query vectors are NOT SEARCHABLE (r14): masked
    # before the divide so no NaN enters the broadcast matrix. The oracle
    # agrees: its scored CTE inner-joins the indexability-filtered norms.
    norms = np.linalg.norm(m, axis=1)
    ok = np.isfinite(norms) & (norms > 0)
    ids, m = ids[ok], m[ok] / norms[ok, None]
    order = np.argsort(ids)
    return ids[order], m[order]


def ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k for a fixed query set — the exactness baseline
    for the ANN operators. Queries broadcast as a matrix; corpus partitions
    stream through one matmul; per-partition candidates then a tiny global
    top-k (ties broken on the ROUNDED value + neighbor id, exactly like the
    oracle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_ids, q_m = _query_matrix(spark, sf)
    bc = spark.sparkContext.broadcast((q_ids, q_m))
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def block(it):
        qi, qm = bc.value
        for pdf in it:
            if pdf.empty or qm.shape[0] == 0:
                continue
            rm = np.vstack(pdf["embedding"].map(np.asarray).to_numpy()).astype(np.float64)
            # zero-norm / non-finite corpus rows are NOT INDEXABLE (r14)
            rnorm = np.linalg.norm(rm, axis=1)
            rok = np.isfinite(rnorm) & (rnorm > 0)
            if not rok.any():
                continue
            rid = pdf["vec_id"].to_numpy()[rok]
            rm = rm[rok] / rnorm[rok, None]
            sims = np.round(qm @ rm.T, 6)  # (n_q, block)
            rows = {"query_id": [], "neighbor_id": [], "cos_sim": []}
            # +8 headroom so rounded-value ties at the k-th place survive the
            # per-partition cut (global order settles them like the oracle)
            kk = min(ANN_K + 8, sims.shape[1])
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            for a in range(qm.shape[0]):
                for j in part[a]:
                    if rid[j] == qi[a]:
                        continue
                    rows["query_id"].append(qi[a])
                    rows["neighbor_id"].append(rid[j])
                    rows["cos_sim"].append(sims[a, j])
            yield pd.DataFrame(rows)

    emb = (
        load_table(spark, sf, "embeddings")
        .where(F.col("embedding").isNotNull())  # NULL = not indexable
        .select("vec_id", "embedding")
    )
    partial = emb.mapInPandas(block, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= ANN_K)
    )


ANN_TOPK_SQL = f"""
WITH {_COS_CORE_SQL},
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.v * b.v) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id < {ANN_N_QUERIES}
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
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= {ANN_K}
"""



# --- directional containment rerank of LSH candidates ------------------------

CONTAIN_MIN = 0.5


def dd_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document duplication: exact directional trigram containment
    C(A→B) = |A∩B| / |A| for every LSH candidate pair, classifying each as
    mutual near-dup / A-inside-B / B-inside-A. Containment is asymmetric —
    Jaccard misses a short doc embedded in a long one — so this is the
    rerank that catches quote/excerpt duplication.

    Scale contract: pair generation is the banded MinHash self-join
    (bounded candidates, never all-pairs); each candidate pair costs one
    array_intersect over ~|doc|-sized distinct-gram sets (codegen, no
    Python). At corpus scale a containment-recall generator (winnowing
    buckets with hot-bucket caps) would widen candidates; the rerank
    kernel is identical.

    ASCII-corpus assumption (cross-engine): the kernel lower-cases with
    Python str.lower() while the oracle uses DuckDB lower() over positions
    from the un-lowered length(text); Unicode case mappings that change
    string length (e.g. U+0130 İ) would skew the gram sets between
    engines. The synthetic corpus is ASCII, where both agree exactly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    pairs = _minhash_candidates(spark, sf)

    # Distinct-trigram sets per doc, built in ONE narrow pass: packing the
    # three code points into an int64 ((c0<<42)|(c1<<21)|c2; code points are
    # <2^21) is exactly injective — string-set semantics with zero collision
    # risk — and the vectorized numpy build replaces the previous
    # explode → xxhash64 → collect_set shape, which shuffled ~|corpus chars|
    # rows (15M at sf0.1) just to regroup grams by doc_id. Docs shorter than
    # NGRAM_N yield one short gram (substring semantics, matching the
    # oracle's substr); missing positions pack as 0x1FFFFF, above the
    # Unicode max, so short grams never equal any real trigram.
    _SENT = 0x1FFFFF

    def _gram_sets(it):
        for pdf in it:
            ids, grams = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                c = np.frombuffer(
                    text.lower().encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if c.shape[0] >= NGRAM_N:
                    g = (c[:-2] << 42) | (c[1:-1] << 21) | c[2:]
                else:
                    c0 = c[0] if c.shape[0] > 0 else _SENT
                    c1 = c[1] if c.shape[0] > 1 else _SENT
                    g = np.array([(c0 << 42) | (c1 << 21) | _SENT], dtype=np.int64)
                ids.append(doc_id)
                grams.append(np.unique(g))
            yield pd.DataFrame({"doc_id": ids, "grams": grams})

    # NULL-text docs are dropped (matching the previous expression build,
    # where explode of a NULL position sequence emitted no gram rows); the
    # repartition spreads the per-doc Python pass across cores — the
    # documents file is one scan split at these sizes (same reason
    # dd_minhash_sig repartitions before its shingle fan-out).
    gram_sets = spread_small_scan(
        load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .where(F.col("text").isNotNull())
    ).mapInPandas(
        _gram_sets,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("grams", T.ArrayType(T.LongType())),
            ]
        ),
    )
    ga = gram_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a")
    )
    gb = gram_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b")
    )
    joined = pairs.join(ga, "doc_a").join(gb, "doc_b")

    # array_intersect is CodegenFallback — interpreted with boxed sets, it
    # measured ~7s for 16.6k pairs at sf0.1. The Arrow-batched numpy
    # intersection is ~10x cheaper; only the integer sizes come back, so
    # the ratio/threshold float math stays in codegen, mirroring the oracle.
    def _inter(it):
        for pdf in it:
            i = [
                np.intersect1d(a, b, assume_unique=True).shape[0]
                for a, b in zip(pdf["grams_a"], pdf["grams_b"])
            ]
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"],
                    "doc_b": pdf["doc_b"],
                    "i": np.asarray(i, dtype=np.int64),
                    "na": pdf["grams_a"].map(len).astype("int64"),
                    "nb": pdf["grams_b"].map(len).astype("int64"),
                }
            )

    sizes = joined.mapInPandas(
        _inter,
        T.StructType(
            [
                T.StructField("doc_a", T.LongType()),
                T.StructField("doc_b", T.LongType()),
                T.StructField("i", T.LongType()),
                T.StructField("na", T.LongType()),
                T.StructField("nb", T.LongType()),
            ]
        ),
    )
    inter = F.col("i").cast("double")
    scored = sizes.select(
        "doc_a",
        "doc_b",
        (inter / F.col("na").cast("double")).alias("c_ab"),
        (inter / F.col("nb").cast("double")).alias("c_ba"),
    ).where((F.col("c_ab") >= CONTAIN_MIN) | (F.col("c_ba") >= CONTAIN_MIN))
    rel = (
        F.when(
            (F.col("c_ab") >= CONTAIN_MIN) & (F.col("c_ba") >= CONTAIN_MIN),
            "mutual",
        )
        .when(F.col("c_ab") >= CONTAIN_MIN, "a_in_b")
        .otherwise("b_in_a")
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.round("c_ab", 6).alias("cont_a_in_b"),
        F.round("c_ba", 6).alias("cont_b_in_a"),
        rel.alias("relation"),
    )


def _containment_sql() -> str:
    return f"""
WITH cand AS (SELECT doc_a, doc_b FROM ({_minhash_pairs_sql()})),
grams AS (
  SELECT DISTINCT doc_id, lower(substr(text, pos, {NGRAM_N})) AS g
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {NGRAM_N - 1}, 1) + 1))
                 AS pos
        FROM documents)
),
counts AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS DOUBLE) AS i
  FROM cand c
  JOIN grams a ON a.doc_id = c.doc_a
  JOIN grams b ON b.doc_id = c.doc_b AND a.g = b.g
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_a, doc_b, i / ca.n AS c_ab, i / cb.n AS c_ba
  FROM inter
  JOIN counts ca ON ca.doc_id = doc_a
  JOIN counts cb ON cb.doc_id = doc_b
  WHERE i / ca.n >= {CONTAIN_MIN} OR i / cb.n >= {CONTAIN_MIN}
)
SELECT doc_a, doc_b,
       round(c_ab, 6) AS cont_a_in_b,
       round(c_ba, 6) AS cont_b_in_a,
       CASE WHEN c_ab >= {CONTAIN_MIN} AND c_ba >= {CONTAIN_MIN} THEN 'mutual'
            WHEN c_ab >= {CONTAIN_MIN} THEN 'a_in_b'
            ELSE 'b_in_a' END AS relation
FROM scored
"""

# --- substring-level exact dedup (Lee et al. 2022) ---------------------------

# K-char gram fingerprints selected by winnowing: a shared fingerprint IS a
# K-char verbatim cross-doc repeat (the fingerprint hashes the gram itself),
# and any cross-doc repeat of length >= K + W - 1 chars is GUARANTEED to
# share a selected fingerprint (Schleimer et al., MOSS bound) — the
# substring-granular complement of whole-document dd_exact, after
# "Deduplicating Training Data Makes Language Models Better" (Lee et al.
# 2022), whose ExactSubstr pass removes >= 50-token verbatim repeats via a
# suffix array. The winnowed-anchor formulation is the distributed
# re-expression: no suffix array, no all-pairs — selected sites (~2/(W+1)
# of positions) are the only rows that cross a corpus-wide shuffle.
DD_SUB_K = 40  # exactness granularity (chars)
DD_SUB_W = 8   # winnowing window → guarantee bound K + W - 1 = 47 chars


def dd_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc substring-duplication audit: of each document's winnowed
    K=40-char gram fingerprints, how many are shared verbatim with at
    least one OTHER document (within-doc repeats collapse in the per-doc
    distinct — cross-doc removal is what dedup acts on). Output per doc:
    fingerprint count, shared count, shared fraction, and an
    order-independent xor digest of the shared fingerprints.

    Scale: linear — explode + constant-width window-min per doc (the
    tx_winnow shape), then ONE corpus-wide count-over-fingerprint
    partition and one per-doc rollup; shuffle volume is the winnow-selected
    site stream, never positions x positions. W is the sampling knob: the
    guarantee bound K + W - 1 grows as the site stream shrinks."""
    # cores-not-bytes spread, doc_id-keyed and scale-aware (r15): the
    # window min, the (doc_id, fp) distinct and the final per-doc rollup
    # are all doc_id-clustered, so the spread exchange serves them all
    docs = spread_small_scan(
        load_table(spark, sf, "documents").select("doc_id", "text"),
        key="doc_id",
    )
    # byte-domain grams on the RAW text (gramscan.py, r15): positional
    # STRING substring walks codepoints — O(doc_len²) per exploded doc
    grams = byte_pos_stream(
        docs, DD_SUB_K, lowered=False,
        extra_cols=("doc_id",),
    ).select(
        "doc_id",
        "n_pos",
        "pos",
        h60(gram(DD_SUB_K)).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, DD_SUB_W - 1)
    )
    sites = (
        grams.select("doc_id", "pos", "n_pos", F.min("h").over(w).alias("fp"))
        .where(F.col("pos") <= F.col("n_pos") - (DD_SUB_W - 1))
        .select("doc_id", "fp")
        .distinct()
    )
    shared = sites.withColumn(
        "n_docs_fp", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    dup = F.col("n_docs_fp") >= 2
    return (
        shared.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(dup.cast("int")).cast("bigint").alias("n_shared_fp"),
            F.coalesce(
                F.bit_xor(F.when(dup, F.col("fp"))), F.lit(0)
            ).cast("bigint").alias("shared_xor"),
        )
        .select(
            "doc_id",
            "n_fp",
            "n_shared_fp",
            F.round(
                F.col("n_shared_fp").cast("double")
                / F.col("n_fp").cast("double"),
                6,
            ).alias("shared_ratio"),
            "shared_xor",
        )
        .orderBy("doc_id")
    )


DD_SUBSTRING_SQL = f"""
WITH grams AS (
  SELECT doc_id,
         greatest(length(text) - {DD_SUB_K - 1}, 1) AS n_pos,
         pos,
         {h60_sql(f'substr(text, pos, {DD_SUB_K})')} AS h
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {DD_SUB_K - 1}, 1) + 1))
                 AS pos
        FROM documents)
),
wins AS (
  SELECT doc_id, pos, n_pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {DD_SUB_W - 1} FOLLOWING)
           AS fp
  FROM grams
),
sites AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= n_pos - {DD_SUB_W - 1}
),
shared AS (
  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs_fp
  FROM sites
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       CAST(sum(CAST(n_docs_fp >= 2 AS INTEGER)) AS BIGINT) AS n_shared_fp,
       round(CAST(sum(CAST(n_docs_fp >= 2 AS INTEGER)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS shared_ratio,
       COALESCE(CAST(bit_xor(CASE WHEN n_docs_fp >= 2 THEN fp END) AS BIGINT),
                0) AS shared_xor
FROM shared
GROUP BY doc_id
ORDER BY doc_id
"""


# --- content-defined chunking dedup (rolling-hash boundaries) ---------------

CDC_K = 5    # boundary gram size (same K as the shingler/winnower families)
CDC_MOD = 64  # boundary condition h(gram) % MOD == 0 → expected chunk ≈ 64


def dd_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking dedup (the rsync/LBFS recipe, public): cut
    each document where the rolling gram hash satisfies h % {CDC_MOD} == 0,
    digest every chunk, and flag chunks whose digest appears in MORE THAN
    ONE distinct document. Because boundaries are content-derived, an
    insertion or deletion only re-chunks its local neighborhood — shared
    chunks survive shifts that break fixed-width chunking (cu_chunk), which
    makes this the sub-document dedup signal robust to edits.

    Within-doc repeats do NOT count as shared (count(DISTINCT doc_id) > 1),
    and a doc with no qualifying boundary is one whole-text chunk.

    Scale contract (100 TB), by shuffle: the gram scan is one narrow
    explode whose OUTPUT is (doc_id, start) ints only — the cut-list fold,
    the digest windows, and the per-doc rollup never carry text (pinned by
    a plan test — a first cut carried `t` through the boundary union +
    lead window and measured 11 s at sf0.1 vs ~1.4 s warm for this shape).
    Text rides ONLY the doc_id-keyed cores-not-bytes spread (r15 — same
    as the whole winnow/substring gram family): the cut-list fold reuses
    that partitioning (no exchange of its own), and the cuts join-back —
    broadcast while the folded cut lists fit the threshold, shuffle join
    at production volume — is co-partitioned off the same spread on both
    sides, so neither regime inserts a text exchange (both regimes pinned
    by tests/test_plan_quality.py, broadcast at tiny sf and
    forced-shuffle). Chunk substrings + digests are computed stage-locally
    in that join's projection. Shared-chunk counting is the dd_substring
    pattern — digest-partition windows over the (doc_id, digest) int
    stream, no join-back, so the expensive scan is never recomputed.
    Everything downstream of the scan shuffles ≈ corpus_chars/{CDC_MOD}
    small rows; nothing is quadratic and no driver transfer exists.
    CPU note: the boundary scan computes md5-based h60 per character
    position (~100× a true rolling hash) — cross-engine-justified (the
    oracle must reproduce boundaries bit-identically); the sf0.01→sf0.1→sf1
    bench anchors track it, and the dd_containment Arrow/numpy kernel
    (above) is the escape hatch if it ever dominates a slope."""
    docs = (
        load_table(spark, sf, "documents")
        # NULL text = no chunks (mirrors the oracle's WHERE; the other gram
        # builders share this contract)
        .where(F.col("text").isNotNull())
    )
    # doc_id-keyed spread (r15): the cuts groupBy(doc_id) and the SMJ-regime
    # join-back are doc_id-clustered; the digest windows still need their
    # own digest-keyed exchange (int stream, by design)
    docs = spread_small_scan(docs, key="doc_id")
    # BYTE-domain boundaries/spans (operators/gramscan.py, r15): the
    # lowered UTF-8 bytes are prepared once per doc; boundary grams and
    # chunk digests are O(k)/O(chunk) binary slices — positional STRING
    # substring walks codepoints from byte 0 and made both the boundary
    # scan and the chunk extraction O(doc_len²) on a giant document.
    # ASCII oracle-equivalence contract: gramscan.py module docstring.
    base = docs.select(
        "doc_id",
        once_per_row(F.lower(F.col("text")).cast("binary")).alias("tb"),
    ).select("doc_id", "tb", F.length("tb").alias("n"))
    n_pos = F.greatest(F.col("n") - (CDC_K - 1), F.lit(1))
    # boundary candidates start at 2 (a cut at 1 is vacuous). Guarded
    # sequence: Spark's sequence(2, 1) would count DOWN, so empty-array it.
    # h60 is projected in the same stage as the explode, so `tb` stays
    # stage-local; only (doc_id, start) ints leave the scan.
    bnd = (
        base.select(
            "doc_id",
            "tb",
            F.explode(
                F.when(
                    n_pos >= 2, F.sequence(F.lit(2), n_pos)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("start"),
        )
        .where(
            h60(F.expr(f"substring(tb, start, {CDC_K})")) % CDC_MOD == 0
        )
        .select("doc_id", "start")
    )
    cuts = bnd.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("start")).alias("cuts")
    )
    empty_cuts = F.array().cast("array<int>")
    spans = base.join(cuts, "doc_id", "left").select(
        "doc_id",
        "tb",
        F.explode(
            F.arrays_zip(
                F.concat(
                    F.array(F.lit(1)), F.coalesce(F.col("cuts"), empty_cuts)
                ).alias("s"),
                F.concat(
                    F.coalesce(F.col("cuts"), empty_cuts),
                    F.array(F.col("n") + 1),
                ).alias("e"),
            )
        ).alias("sp"),
    )
    chunks = spans.select(
        "doc_id",
        h60(F.expr("substring(tb, sp.s, sp.e - sp.s)")).alias("digest"),
    )
    # dd_substring's no-join-back audit shape: first-occurrence flag per
    # (digest, doc), then distinct-doc count per digest — two digest-keyed
    # windows over the int stream, the scan runs exactly once.
    w_pair = Window.partitionBy("digest", "doc_id").orderBy("doc_id")
    w_dig = Window.partitionBy("digest")
    flagged = chunks.withColumn(
        "first_in_doc", (F.row_number().over(w_pair) == 1).cast("int")
    ).withColumn("nd", F.sum("first_in_doc").over(w_dig))
    shared = F.col("nd") > 1
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(shared.cast("int")).cast("bigint").alias(
                "n_shared_chunks"
            ),
            # n_chunks >= 1 always (every non-NULL doc is >= 1 chunk), so
            # the ratio denominator can't be 0; round(int ratio, 6) is
            # cross-engine safe (Spark and DuckDB agree at decimal halves —
            # probed r14, CLAUDE.md)
            F.round(
                F.sum(shared.cast("int")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("shared_ratio"),
            F.expr("bit_xor(digest)").alias("chunks_xor"),
        )
    )


DD_CDC_CHUNKS_SQL = f"""
WITH base AS (
  -- char-domain mirror of the Spark plan's BYTE-domain scan (DuckDB has
  -- no BLOB substring/md5): positions on length(text), lower() at
  -- extraction — identical for ASCII corpora, the certified regime
  -- (contract: orc_spark/operators/gramscan.py)
  SELECT doc_id, text AS t, length(text) AS n,
         greatest(length(text) - {CDC_K - 1}, 1) AS n_pos
  FROM documents WHERE text IS NOT NULL
),
bnd AS (
  SELECT doc_id, start FROM (
    SELECT doc_id, t, unnest(range(2, n_pos + 1)) AS start FROM base
  )
  WHERE {h60_sql(f"lower(substr(t, start, {CDC_K}))")} % {CDC_MOD} = 0
),
starts AS (
  SELECT doc_id, 1 AS start FROM base
  UNION ALL
  SELECT doc_id, start FROM bnd
),
spans AS (
  SELECT doc_id, start,
         lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
  FROM starts
),
chunks AS (
  SELECT sp.doc_id,
         {h60_sql("lower(substr(b.t, sp.start, coalesce(sp.nxt, b.n + 1) - sp.start))")}
           AS digest
  FROM spans sp JOIN base b ON b.doc_id = sp.doc_id
),
freq AS (
  SELECT digest, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY digest
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       round(CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS shared_ratio,
       CAST(bit_xor(c.digest) AS BIGINT) AS chunks_xor
FROM chunks c JOIN freq f ON f.digest = c.digest
GROUP BY c.doc_id
"""


QUERIES = [
    Query("dd_exact", dd_exact, DD_EXACT_SQL, "exact dedup via content digest group-by"),
    Query("dd_cdc_chunks", dd_cdc_chunks, DD_CDC_CHUNKS_SQL, "content-defined chunking dedup: rolling-hash boundaries, cross-doc shared-chunk audit"),
    Query("dd_minhash_sig", dd_minhash_sig, _minhash_sig_sql(), "MinHash signatures (16 perms, 5-shingles)"),
    Query("dd_minhash_pairs", dd_minhash_pairs, _minhash_pairs_sql(), "LSH banded candidate pairs + estimated jaccard"),
    Query("dd_minhash_quality", dd_minhash_quality, _minhash_quality_sql(), "MinHash estimator calibration: est vs exact jaccard per quartile, fixed-point means"),
    Query("dd_containment", dd_containment, _containment_sql(), "directional trigram containment rerank of LSH candidates (sub-document dup)"),
    Query("dd_simhash", dd_simhash, DD_SIMHASH_SQL, "60-bit SimHash document fingerprints"),
    Query("dd_simhash_pairs", dd_simhash_pairs, DD_SIMHASH_PAIRS_SQL, "SimHash banded near-dup pairs (hamming ≤ 3)"),
    Query("dd_ngram_jaccard", dd_ngram_jaccard, DD_NGRAM_SQL, "exact trigram Jaccard near-dup (blocked)"),
    Query("dd_embcos", dd_embcos, DD_EMBCOS_SQL, "embedding cosine near-dup pairs"),
    Query("dd_semdedup", dd_semdedup, DD_SEMDEDUP_SQL, "SemDeDup-style within-cluster semantic dedup, per-cluster survivor audit"),
    Query("ann_srp_pairs", ann_srp_pairs, ANN_SRP_SQL, "SRP-LSH bucketed embedding near-dup (linear scale path), hash-checked"),
    Query("ann_recall_eval", ann_recall_eval, ANN_RECALL_SQL, "SRP-LSH recall vs exact cosine ground truth at the shared threshold"),
    Query("ann_topk", ann_topk, ANN_TOPK_SQL, "brute-force cosine top-k baseline"),
    Query("dd_substring", dd_substring, DD_SUBSTRING_SQL, "substring-level exact dedup: winnowed 40-char gram anchors, cross-doc shared-span audit (Lee et al. 2022 ExactSubstr)"),
]
