"""Testdata table loaders (TPC-H-ish star schema + events/documents/embeddings).

Readers are plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and partition pruning for free. At 100 TB each table would be a
partitioned directory; the same code path applies (parquet scan of a
directory), so nothing here is scale-bound.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The contract every downstream plan relies on: events.ts is BIGINT
        # EPOCH MICROS after load_table. The driver has shipped this column as
        # two different physical parquet types across testdata generations:
        #   * TIMESTAMP(NANOS): Spark 4 refuses to read it as a timestamp, so
        #     we read it as a raw nanosecond bigint (legacy conf) and truncate
        #     to µs — matching DuckDB, which truncates sub-µs.
        #   * TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
        #     TIMESTAMP_NTZ; micros-since-epoch of the naive value equals
        #     DuckDB's epoch_us(ts) (verified bit-for-bit).
        # Branch on the observed read dtype so both generations work.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        from pyspark.sql import functions as F

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "bigint":
            # nanos-as-long generation: truncate to µs.
            return df.withColumn("ts", F.expr("ts div 1000"))
        if ts_type.startswith("timestamp"):
            # timestamp / timestamp_ntz generation: epoch micros of the naive
            # value (no session-timezone dependence — NTZ diff from NTZ epoch).
            return df.withColumn(
                "ts",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                    " cast(ts as timestamp_ntz))"
                ),
            )
        # A third physical type would silently break the BIGINT-epoch-micros
        # contract every downstream plan relies on — fail loudly instead.
        raise ValueError(
            f"events.ts read as unexpected dtype {ts_type!r}; "
            "extend sources/tables.py normalization for this generation"
        )
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata table from parquet footer metadata.

    A driver-side metadata read — NO Spark job — unlike df.count(), which
    costs a full job round during plan CONSTRUCTION (r12 ADVICE); plan
    parameters that scale with corpus size (e.g. ann_pq's ADC candidate
    budget) read it. At 100 TB the footer walk is one small read per file —
    proportional to file count, not data volume."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        n = 0
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.read_metadata(os.path.join(root, f)).num_rows
        return n
    return pq.read_metadata(path).num_rows


def _parse_size_bytes(v: str) -> int:
    """Spark size-string → bytes ('128MB', '4194304b', bare int; binary
    units, matching JavaUtils.byteStringAsBytes)."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?i?b?)\s*", str(v).lower())
    if not m:
        raise ValueError(f"unparseable size string {v!r}")
    unit = m.group(2).rstrip("b").rstrip("i")
    return int(m.group(1)) * 1024 ** {"": 0, "k": 1, "m": 2, "g": 3,
                                      "t": 4, "p": 5}[unit]


def _estimate_scan_splits(df: DataFrame) -> int | None:
    """Planned split count of a frame's parquet SCAN, from driver-side
    metadata only — df.inputFiles() (the plan's file index) + local file
    sizes — mirroring Spark's own FilePartition packing (chop each file at
    maxSplitBytes, sort chunks by size desc, greedy-pack with openCost
    padding). Unlike df.rdd.getNumPartitions() this never forces physical
    planning, so it cannot run jobs on a frame that contains an exchange
    (the ADVICE r14 footgun). Returns None when a file size is unreadable
    (non-local filesystem) — callers should treat None as production
    volume. On a multi-source frame (joins) it sums all inputs, which
    over-counts splits — acceptable: the helper's only decision is
    'fewer splits than cores?'."""
    try:
        from urllib.parse import unquote, urlparse

        files = df.inputFiles()
        if not files:
            return None
        sizes = []
        for uri in files:
            p = urlparse(uri)
            if p.scheme not in ("", "file"):
                return None
            s = os.path.getsize(unquote(p.path))
            if s > 0:  # Spark drops zero-length files at split time
                sizes.append(s)
        if not sizes:
            return 1
        conf = df.sparkSession.conf
        max_pb = _parse_size_bytes(
            conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        open_cost = _parse_size_bytes(
            conf.get("spark.sql.files.openCostInBytes", "4MB")
        )
        min_parts = int(
            conf.get(
                "spark.sql.files.minPartitionNum",
                str(df.sparkSession.sparkContext.defaultParallelism),
            )
        )
        total = sum(sizes) + open_cost * len(sizes)
        max_split = int(min(max_pb, max(open_cost, total / max(1, min_parts))))
        chunks: list[int] = []
        for s in sizes:
            while s > max_split:
                chunks.append(max_split)
                s -= max_split
            if s:
                chunks.append(s)
        chunks.sort(reverse=True)
        parts, cur = 0, 0
        for c in chunks:
            if cur + c > max_split and cur > 0:
                parts += 1
                cur = 0
            cur += c + open_cost
        return parts + (1 if cur > 0 else 0)
    except Exception:  # noqa: BLE001 — estimation must never fail a plan build
        return None


def spread_small_scan(df: DataFrame, key: str | None = None) -> DataFrame:
    """Cores-not-bytes pre-explode repartition, SCALE-AWARE (r14): a tiny
    corpus arrives as one or two scan splits, and a ~300× gram fan-out +
    md5 downstream would run in a single task — but at production volume
    the scan already has ≥ parallelism splits and an unconditional
    RoundRobin repartition would shuffle the ENTIRE corpus for nothing.
    Repartition only when the planned scan has fewer partitions than the
    session's parallelism. The split count is ESTIMATED from the plan's
    file index + file sizes (driver-side metadata, no physical planning,
    no Spark job — ADVICE r14 replaced an rdd.getNumPartitions() call that
    would materialize AQE stages on an exchange-bearing frame); when the
    estimate is unavailable (remote filesystem) the scan is assumed big
    and left alone.

    `key` (r15, guide §2.4 "share one exchange"): when the caller's
    downstream aggregations/windows/joins are all clustered by `key`
    (hashpartitioning(key) satisfies ClusteredDistribution of any superset
    key list), hash-partition the spread by it so the SAME exchange that
    buys parallelism also satisfies every downstream requirement — a
    round-robin spread forced the exploded gram stream (the fat one) to
    re-shuffle immediately after the fan-out. Per-doc fan-out is placed
    whole either way (a doc's positions stay with its row's partition);
    hash bucketing can leave partitions empty/doubled when the doc count
    is near defaultParallelism or doc ids collide, unlike round-robin's
    exact balance — bounded to small scans, where the imbalance is noise
    next to the saved exchange. Keyed hashing also skips round-robin's
    sortBeforeRepartition pass. Callers whose spread feeds an opaque
    boundary (mapInPandas re-creates exprIds, so partitioning cannot
    propagate) keep the default round-robin."""
    n = df.sparkSession.sparkContext.defaultParallelism
    est = _estimate_scan_splits(df)
    if est is None or est >= n:
        return df
    if key is not None:
        return df.repartition(n, key)
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns the DataFrames."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
