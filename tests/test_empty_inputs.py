"""Degenerate-input robustness: EVERY registry query must run (to 0+ rows)
against a dataset where all ten tables exist but are EMPTY.

Motive (r08): the ADVICE reviewer found gr_pagerank crashed on an empty
edge set; a sweep then found the same class in 8 more queries — driver-side
int(None) on max/min anchors (io_zorder, io_orc_skipping,
io_partition_prune), np.vstack of an empty query set (the ANN family), and
ORC/parquet schema inference throwing on file-less empty layout writes
(io_orc_roundtrip). At 100 TB, empty inputs are routine (a filtered intake
batch, a new tenant, a partition with no data yet): a pipeline must emit
empty results, not stack traces.
"""

import os

import pytest

from orc_spark.plans import registry
from orc_spark.sources.tables import TABLES


def _force(df) -> None:
    """Evaluate EVERY column of every row. `.count()` is too weak a probe:
    Catalyst prunes columns the count does not need, so an ANSI-throwing
    expression in a pruned column passes silently (found in r11 —
    sk_histq's 0/0 bin division survived `.count()` on constant data but
    threw on `.collect()`). The noop sink consumes all columns with no
    driver transfer."""
    df.write.format("noop").mode("overwrite").save()


def _sweep(spark, sf_dir: str) -> dict[str, str]:
    """Run every registry query against sf_dir, collecting failures.

    Queries run across a small thread pool: each sweep is 162 tiny-data
    plans whose wall time is Python plan construction + AQE job-round
    floors, both of which overlap cleanly across Spark's thread-safe job
    submission (FIFO scheduler). Measured r13: the NULL-heavy sweep alone
    121 s serial → ~45 s at 6 threads; exception attribution stays
    per-query. Failure strings are truncated like the serial version."""
    import concurrent.futures as cf

    fails: dict[str, str] = {}

    def run(item):
        name, q = item
        try:
            _force(q.spark_fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — collect all, report once
            return name, f"{type(e).__name__}: {str(e)[:120]}"
        return None

    with cf.ThreadPoolExecutor(max_workers=6) as ex:
        for r in ex.map(run, registry().items()):
            if r is not None:
                fails[r[0]] = r[1]
    return fails


@pytest.fixture(scope="module")
def empty_sf(spark, sf_small, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.sweep
def test_every_query_survives_empty_tables(spark, empty_sf):
    fails = _sweep(spark, empty_sf)
    assert not fails, fails


@pytest.fixture(scope="module")
def onerow_sf(spark, sf_small, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("onerow_sf"))
    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
        df.limit(1).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.sweep
def test_every_query_survives_single_row_tables(spark, onerow_sf):
    """Singleton inputs hit a different degenerate class than empty ones:
    one-point windows, n-1 denominators, spans shorter than a grid step
    (ts_resample's backwards sequence() crashed here — a user active for
    less than one grid interval would hit it on real data too)."""
    fails = _sweep(spark, onerow_sf)
    assert not fails, fails


@pytest.fixture(scope="module")
def constant_sf(spark, sf_small, tmp_path_factory):
    """All tables present with their REAL row counts, but every
    floating-point measure column is a constant, every embedding is the
    all-zeros vector, and every document is the same short text. This is
    the fourth degenerate class (r10 VERDICT directive 2): zero-variance
    input, which the r08 campaign (empty / single-row) missed — it is what
    crashed ts_autocorr (Pearson denominator exactly 0 under ANSI mode).
    Real pipelines hit it constantly: a stuck sensor, a default-filled
    column, a batch of near-identical boilerplate docs, zero embeddings
    from a failed encoder."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d = str(tmp_path_factory.mktemp("constant_sf"))
    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
        for f in df.schema.fields:
            if isinstance(f.dataType, T.DoubleType):
                df = df.withColumn(f.name, F.lit(1.25).cast("double"))
            elif isinstance(f.dataType, T.FloatType):
                df = df.withColumn(f.name, F.lit(1.25).cast("float"))
            elif isinstance(f.dataType, T.ArrayType) and isinstance(
                f.dataType.elementType, (T.FloatType, T.DoubleType)
            ):
                # zero vector: norms are 0, so cosine denominators are 0
                df = df.withColumn(
                    f.name,
                    F.transform(F.col(f.name), lambda x: F.lit(0.0)).cast(
                        f.dataType.simpleString()
                    ),
                )
        if t == "documents":
            txt = "the same boilerplate text appears in every document row"
            df = df.withColumn("text", F.lit(txt)).withColumn(
                "n_chars", F.lit(len(txt)).cast("bigint")
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.sweep
def test_every_query_survives_constant_values(spark, constant_sf):
    """Zero-variance sweep: stddev/variance denominators, Pearson/Welch
    denominators, min==max ranges (histogram bin width 0, z-order and LTTB
    extent 0), all-identical dedup keys (every doc in one LSH bucket), and
    zero-norm embeddings (cosine 0/0) must all yield NULL/empty/0 rows —
    never an ANSI DIVIDE_BY_ZERO. ts_autocorr shipped 3 rounds with this
    crash latent because /root/testdata never produces a constant series."""
    fails = _sweep(spark, constant_sf)
    assert not fails, fails


@pytest.fixture(scope="module")
def nullheavy_sf(spark, sf_small, tmp_path_factory):
    """Fifth degenerate class (r13): NULL-HEAVY inputs. Every nullable
    NON-KEY column is NULL on alternating rows (keys, join keys and event
    timestamps stay intact so the data remains structurally joinable);
    documents.text and embeddings.embedding go NULL too — the exact shape
    behind two real r12 findings (dq_drift's NULL measurements skewing PSI
    bins; sf1_ngram_check crashing on a NULL-text doc). Real pipelines see
    this constantly: optional fields, failed enrichments, encoder
    fallbacks. Queries must drop/guard NULLs, never throw."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("nullheavy_sf"))
    keep = {"ts"}  # event time kept: NULL-ts handling is window-semantics
    # territory, asserted by the dedicated window tests, not this sweep
    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
        cols = []
        for f_ in df.schema.fields:
            name = f_.name
            is_key = (
                name in keep
                or name.endswith("key")
                or name.endswith("_id")
                or name == "id"
                or name.endswith("number")
            )
            if is_key:
                cols.append(F.col(name))
            else:
                # deterministic alternating NULLs keyed on a stable hash of
                # the whole row id space: xxhash64 of the first column
                cols.append(
                    F.when(
                        F.abs(F.xxhash64(F.col(df.columns[0]))) % 2 == 0,
                        F.col(name),
                    )
                    .otherwise(F.lit(None).cast(f_.dataType))
                    .alias(name)
                )
        df.select(cols).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.sweep
def test_every_query_survives_nullheavy_tables(spark, nullheavy_sf):
    fails = _sweep(spark, nullheavy_sf)
    assert not fails, fails


@pytest.fixture(scope="module")
def skew_sf(spark, sf_small, tmp_path_factory):
    """Sixth degenerate class, part A (r14): EXTREME KEY SKEW. 99% of
    lineitem rows land on ONE (orderkey, partkey, suppkey), 99% of orders
    on one customer, 99% of events on one user with one event_type — the
    hot-key shape behind every real-world skew incident (a default/test
    account, a crawler, a null-ish sentinel key). Hot values are EXISTING
    keys (min of each domain) so referential joins stay valid; the 1%
    remainder keeps its original keys so group-cardinality > 1. Queries
    must complete (a straggler is acceptable on 60k rows; a crash or an
    ANSI overflow in a count/sum against a 10k-row group is not)."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("skew_sf"))

    def hot(df, col):
        return df.agg(F.min(col)).collect()[0][0]

    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
        if t == "lineitem":
            sel = F.abs(F.xxhash64("l_orderkey", "l_linenumber", "l_partkey")) % 100 < 99
            df = (
                df.withColumn(
                    "l_orderkey",
                    F.when(sel, F.lit(hot(df, "l_orderkey"))).otherwise(F.col("l_orderkey")),
                )
                .withColumn(
                    "l_partkey",
                    F.when(sel, F.lit(hot(df, "l_partkey"))).otherwise(F.col("l_partkey")),
                )
                .withColumn(
                    "l_suppkey",
                    F.when(sel, F.lit(hot(df, "l_suppkey"))).otherwise(F.col("l_suppkey")),
                )
            )
        elif t == "orders":
            sel = F.abs(F.xxhash64("o_orderkey")) % 100 < 99
            df = df.withColumn(
                "o_custkey",
                F.when(sel, F.lit(hot(df, "o_custkey"))).otherwise(F.col("o_custkey")),
            )
        elif t == "events":
            sel = F.abs(F.xxhash64("event_id")) % 100 < 99
            df = df.withColumn(
                "user_id",
                F.when(sel, F.lit(hot(df, "user_id"))).otherwise(F.col("user_id")),
            ).withColumn(
                "event_type",
                F.when(sel, F.lit("click")).otherwise(F.col("event_type")),
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.sweep
def test_every_query_survives_extreme_key_skew(spark, skew_sf):
    fails = _sweep(spark, skew_sf)
    assert not fails, fails


@pytest.fixture(scope="module")
def degentext_sf(spark, sf_small, tmp_path_factory):
    """Sixth degenerate class, part B (r14): DEGENERATE TEXT. Documents
    cycle through empty string, whitespace-only, a single repeated char,
    4-byte-unicode (astral emoji), and mixed multi-byte scripts — the
    shapes that break gram builders (no grams / one gram repeated),
    winnowing windows (shorter than K), langid stopword ratios (no words),
    tokenizers (codepoint vs byte counting) and packers (zero-length
    docs). n_chars is kept CONSISTENT with the new text (several plans
    derive grids from it). Other tables untouched."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("degentext_sf"))
    variants = [
        "",
        "   \t   \n   ",
        "a" * 200,
        "\U0001f600\U0001f680" * 40,
        "é世界 café naïve " * 12,
    ]
    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
        if t == "documents":
            txt = F.element_at(
                F.array(*[F.lit(v) for v in variants]),
                (F.col("doc_id") % len(variants) + 1).cast("int"),
            )
            df = df.withColumn("text", txt).withColumn(
                "n_chars", F.length("text").cast("bigint")
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.sweep
def test_every_query_survives_degenerate_text(spark, degentext_sf):
    fails = _sweep(spark, degentext_sf)
    assert not fails, fails


@pytest.fixture(scope="module")
def replay_instant_sf(spark, sf_small, tmp_path_factory):
    """Seventh degenerate class (r14): a REPLAYED SAME-INSTANT FEED —
    every row delivered 3× (at-least-once delivery / CDC replay, so no
    primary key is unique) AND every event at ONE timestamp with all
    ship/order dates equal (a same-day export: every duration, session
    gap, grid span and freshness lag is exactly zero). Probed clean on
    first run (the earlier classes already hardened the denominators);
    kept as the regression pin for both invariants — dedup/window/upsert
    plans must tolerate duplicate keys, and no time-math may assume a
    positive span."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("replay_instant_sf"))
    for t in TABLES:
        df = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
        for col in ("ts", "l_shipdate", "o_orderdate"):
            if col in df.columns:
                mn = df.agg(F.min(col)).collect()[0][0]
                df = df.withColumn(col, F.lit(mn).cast(dict(df.dtypes)[col]))
        df = df.withColumn(
            "_r", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
        ).drop("_r")
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


@pytest.mark.sweep
def test_every_query_survives_replayed_same_instant_feed(spark, replay_instant_sf):
    fails = _sweep(spark, replay_instant_sf)
    assert not fails, fails
