"""Eighth degenerate class (VERDICT r14 directive 5): pathological
document-LENGTH skew — one giant (~4 MB) document among tiny ones, and a
corpus of 1-char docs.

What this guards: Spark's positional ``substring`` on a STRING walks
codepoints from byte 0 (no ascii fast path — verified in the spark-unsafe
4.1.2 bytecode), so any per-position explode over one document is
O(doc_len²) unless the grams are sliced from BINARY (operators/gramscan.py,
the r15 fix: 11 document queries were >240 s stragglers on a 10 MB doc and
are 8–41 s after). A quadratic regression at 4 MB costs hours, so the
per-query deadline below fails loudly instead of hanging the suite.

The 1-char corpus drives every gram family below its k (no positions at
all) at full row counts — a different degenerate path than the empty /
single-row sweeps (tables are full-size, only the text is degenerate).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from orc_spark.plans import registry
from orc_spark.sources.tables import TABLES

DOC_PREFIXES = ("dd_", "tx_", "cu_", "ann_", "mm_", "dp_", "dq_kanon")
GIANT_WORDS = 500_000  # ≈ 4 MB — quadratic would be ~8e12 byte-steps (hours)


def _doc_queries():
    return [n for n in registry() if n.startswith(DOC_PREFIXES)]


def _force(df) -> None:
    # noop sink evaluates EVERY column; .count() lets Catalyst prune the
    # expensive projections (that illusion hid the quadratic in r15's
    # first probe — CLAUDE.md)
    df.write.format("noop").mode("overwrite").save()


def _sweep_docs(spark, sf_dir: str, deadline_s: float) -> dict[str, str]:
    import concurrent.futures as cf
    import time

    fails: dict[str, str] = {}
    reg = registry()

    def run(name):
        _force(reg[name].spark_fn(spark, sf_dir))

    t0 = time.monotonic()
    with cf.ThreadPoolExecutor(max_workers=4) as ex:
        futs = {ex.submit(run, n): n for n in _doc_queries()}
        for f in cf.as_completed(futs, timeout=deadline_s):
            n = futs[f]
            try:
                f.result()
            except Exception as e:  # noqa: BLE001 — collect all, report once
                fails[n] = f"{type(e).__name__}: {str(e)[:120]}"
    print(f"# length-skew sweep: {time.monotonic() - t0:.0f}s")
    return fails


def _copy_tables(d: str, sf_small: str, skip=("documents",)) -> None:
    for t in TABLES:
        if t in skip:
            continue
        shutil.copy(
            os.path.join(sf_small, f"{t}.parquet"),
            os.path.join(d, f"{t}.parquet"),
        )


@pytest.fixture(scope="module")
def lenskew_sf(spark, sf_small, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lenskew_sf"))
    _copy_tables(d, sf_small)
    giant = " ".join(f"word{i % 997:03d}" for i in range(GIANT_WORDS))
    docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    small = docs.limit(50)
    giant_row = spark.createDataFrame(
        [(999_999, giant, "en", "giant", len(giant))], docs.schema
    )
    small.unionByName(giant_row).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


@pytest.mark.sweep
def test_every_doc_query_survives_one_giant_document(spark, lenskew_sf):
    fails = _sweep_docs(spark, lenskew_sf, deadline_s=900)
    assert not fails, fails


@pytest.fixture(scope="module")
def onechar_sf(spark, sf_small, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("onechar_sf"))
    _copy_tables(d, sf_small)
    docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    docs.withColumn("text", F.lit("x")).withColumn(
        "n_chars", F.lit(1).cast("bigint")
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


@pytest.mark.sweep
def test_every_doc_query_survives_one_char_docs(spark, onechar_sf):
    fails = _sweep_docs(spark, onechar_sf, deadline_s=600)
    assert not fails, fails


# --- policy pins (non-sweep: cheap, always on) -------------------------------


def test_byte_pos_stream_matches_python_slicing(spark):
    """gramscan's byte positions/grams == Python byte slicing of the
    (lowered) UTF-8 encoding, including shorter-than-k and empty docs."""
    from orc_spark.operators.gramscan import byte_pos_stream, gram

    texts = ["", "ab", "Hello World", "aBc DeF xYz 123"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for lowered in (True, False):
        got = {
            (r["doc_id"], r["pos"]): bytes(r["g"])
            for r in byte_pos_stream(df, 3, lowered=lowered)
            .select("doc_id", "pos", gram(3).alias("g"))
            .collect()
        }
        want = {}
        for i, t in enumerate(texts):
            b = (t.lower() if lowered else t).encode()
            n_pos = max(len(b) - 2, 1)
            for p in range(1, n_pos + 1):
                want[(i, p)] = b[p - 1 : p + 2]
        assert got == want, lowered


def test_gram_scan_barrier_survives_optimization(spark, sf_small):
    """The once_per_row nondeterministic guard must reach the physical plan
    (a rand()-based variant was silently simplified away), and no Generate
    may reference lower(...) — a collapsed whole-text lower inside the
    per-element loop is the O(doc_len²) failure jstack caught twice in
    r15."""
    import re

    from orc_spark.plans.curation_q import cu_chunk
    from orc_spark.plans.dedup_q import dd_cdc_chunks, dd_minhash_sig
    from orc_spark.plans.explain import formatted_plan
    from orc_spark.plans.text_q import tx_winnow

    for fn in (dd_minhash_sig, tx_winnow, dd_cdc_chunks, cu_chunk):
        plan = formatted_plan(fn(spark, sf_small))
        assert "monotonically_increasing_id" in plan, fn.__name__
        for b in re.split(r"\n\n", plan):
            if re.match(r"\(\d+\) Generate", b):
                assert "lower(" not in b, (fn.__name__, b)
                assert "as binary" not in b, (fn.__name__, b)
