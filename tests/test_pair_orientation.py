"""Adversarial ROW-ORDER tests for every pair-emitting kernel.

The class of bug these pin: a kernel that dedupes/orients pairs by the
POSITION of rows inside an applyInPandas group (or join side) instead of by
ID VALUE. `applyInPandas` guarantees nothing about intra-group arrival
order, so such a kernel passes on ascending-ordered testdata and flips
orientation under any repartition / AQE / file-order change — exactly how
`dd_ngram_jaccard`'s diagonal-cell triu bug (r11 verdict) shipped green.

Method: the SAME logical dataset is written three ways —
  ascending id order (1 file), descending id order (1 file, the falsifying
  arrival for positional triu), and salted-repartition(7) shuffled order —
and each pair-emitting query must (a) satisfy its orientation contract
`a < b` on every row and (b) return the IDENTICAL result set on all three
layouts. Deterministic fixtures (no hypothesis sampling): the adversarial
orders are constructed, not drawn.

Covers: dd_ngram_jaccard, dd_minhash_pairs, dd_simhash_pairs, dd_embcos,
dd_semdedup (survivor audit), ann_srp_pairs, and the shared graph edge
builder `_mutual_knn_edges`. Orientation mechanisms audited in
COVERAGE.md §pair-orientation.
"""

import os
import tempfile

import numpy as np
import pandas as pd
import pytest

# --- fixture builders --------------------------------------------------------


def _write_orders(spark, pdf, table, schema, key):
    """Write the same rows in 3 adversarial layouts; return {name: sf_dir}."""
    dirs = {}
    for name in ("asc", "desc", "shuf"):
        d = tempfile.mkdtemp(prefix=f"orc_orient_{table}_{name}_")
        if name == "asc":
            out = pdf.sort_values(key)
        elif name == "desc":
            out = pdf.sort_values(key, ascending=False)
        else:
            # deterministic shuffle: order by a multiplicative hash of the key
            out = pdf.iloc[
                np.argsort((pdf[key].to_numpy() * 2654435761) % 1000003)
            ]
        df = spark.createDataFrame(out, schema)
        if name == "shuf":
            # salted repartition: rows of one group spread over 7 partitions
            df = df.repartition(7, (df[key] % 7).cast("int"))
        else:
            df = df.coalesce(1)
        df.write.mode("overwrite").parquet(os.path.join(d, f"{table}.parquet"))
        dirs[name] = d
    return dirs


@pytest.fixture(scope="module")
def doc_dirs(spark):
    """Documents with planted exact + near duplicates. Ids deliberately
    NON-contiguous and interleaved across length buckets so diagonal and
    off-diagonal grid cells both fire."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "the quick brown fox jumps over the lazy dog near the river bend",
        "pack my box with five dozen liquor jugs tonight before the storm",
        "pack my box with five dozen liquor jugs tonight before the storm",
        "a completely different document about spark shuffles and joins",
        "sphinx of black quartz judge my vow",
        "sphinx of black quartz judge my vow",
        "short text",
        "short test",
        "tiny",
    ]
    texts = base * 3  # duplicates across a wider id range
    ids = [7 * i + 3 for i in range(len(texts))]  # non-contiguous ids
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["synthetic"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    return _write_orders(
        spark,
        pdf,
        "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
        "doc_id",
    )


@pytest.fixture(scope="module")
def emb_dirs(spark):
    """64-dim embeddings (SRP kernel's fixed dimensionality) with planted
    exact duplicates and near-duplicates in every vec_id % 4 block so the
    block grid's DIAGONAL cells emit pairs."""
    rng = np.random.RandomState(42)
    n_base = 24
    base = rng.randint(-8, 9, size=(n_base, 64)).astype(np.float64)
    rows = [base[i] for i in range(n_base)]
    # exact dup + tiny perturbation near-dup for every 3rd base vector
    for i in range(0, n_base, 3):
        rows.append(base[i].copy())
        near = base[i].copy()
        near[0] += 1.0
        rows.append(near)
    vecs = [list(map(float, r)) for r in rows]
    ids = [5 * i + 1 for i in range(len(vecs))]
    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": vecs,
            "label": [int(i % 3) for i in ids],
        }
    )
    return _write_orders(
        spark,
        pdf,
        "embeddings",
        "vec_id long, embedding array<float>, label int",
        "vec_id",
    )


@pytest.fixture(scope="module")
def li_dirs(spark):
    """lineitem (l_orderkey, l_suppkey) with enough co-occurrence for the
    mutual-kNN edge builder to emit edges."""
    rng = np.random.RandomState(7)
    rows = []
    for ok in range(40):
        supps = rng.choice(np.arange(1, 13), size=4, replace=False)
        rows.extend((ok, int(s)) for s in supps)
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_suppkey"])
    pdf["rowid"] = pdf["l_suppkey"] * 1000 + pdf["l_orderkey"]
    dirs = {}
    for name in ("asc", "desc", "shuf"):
        d = tempfile.mkdtemp(prefix=f"orc_orient_li_{name}_")
        out = pdf.sort_values(
            "rowid", ascending=(name == "asc")
        ) if name != "shuf" else pdf.iloc[
            np.argsort((pdf["rowid"].to_numpy() * 2654435761) % 1000003)
        ]
        df = spark.createDataFrame(
            out[["l_orderkey", "l_suppkey"]], "l_orderkey long, l_suppkey long"
        )
        df = df.repartition(7) if name == "shuf" else df.coalesce(1)
        df.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        dirs[name] = d
    return dirs


# --- the shared contract check ----------------------------------------------


def _check(spark, dirs, query, a_col, b_col, val_cols=()):
    """Run `query` on each layout; assert a<b everywhere and identical sets."""
    results = {}
    for name, d in dirs.items():
        rows = query(spark, d).collect()
        for r in rows:
            assert r[a_col] < r[b_col], (
                f"{name}: orientation contract violated: "
                f"{a_col}={r[a_col]} !< {b_col}={r[b_col]}"
            )
        results[name] = sorted(
            (r[a_col], r[b_col], *[r[c] for c in val_cols]) for r in rows
        )
    assert results["asc"], "fixture emitted no pairs — test is vacuous"
    assert results["asc"] == results["desc"] == results["shuf"]
    return results["asc"]


# --- per-kernel tests ---------------------------------------------------------


def test_dd_ngram_jaccard_orientation(spark, doc_dirs):
    from orc_spark.plans.dedup_q import dd_ngram_jaccard

    pairs = _check(
        spark, doc_dirs, dd_ngram_jaccard, "doc_a", "doc_b", ["jaccard"]
    )
    # planted exact dups must appear
    assert any(j == 1.0 for _, _, j in pairs)


def test_dd_minhash_pairs_orientation(spark, doc_dirs):
    from orc_spark.plans.dedup_q import dd_minhash_pairs

    _check(spark, doc_dirs, dd_minhash_pairs, "doc_a", "doc_b", ["est_jaccard"])


def test_dd_simhash_pairs_orientation(spark, doc_dirs):
    from orc_spark.plans.dedup_q import dd_simhash_pairs

    _check(spark, doc_dirs, dd_simhash_pairs, "doc_a", "doc_b", ["hamming"])


def test_dd_embcos_orientation(spark, emb_dirs):
    from orc_spark.plans.dedup_q import dd_embcos

    pairs = _check(spark, emb_dirs, dd_embcos, "vec_a", "vec_b", ["cos_sim"])
    assert any(c == 1.0 for _, _, c in pairs)


def test_ann_srp_pairs_orientation(spark, emb_dirs):
    from orc_spark.plans.dedup_q import ann_srp_pairs

    _check(spark, emb_dirs, ann_srp_pairs, "vec_a", "vec_b", ["cos_sim"])


def test_dd_semdedup_order_independence(spark, emb_dirs):
    """dd_semdedup emits a survivor audit, not pairs — the order-dependence
    risk is the drop set (v drops ⟺ ∃ u<v with cos≥τ). Same audit on all
    three layouts."""
    from orc_spark.plans.dedup_q import dd_semdedup

    results = {
        name: sorted(tuple(r) for r in dd_semdedup(spark, d).collect())
        for name, d in emb_dirs.items()
    }
    assert results["asc"], "fixture produced an empty semdedup audit"
    assert results["asc"] == results["desc"] == results["shuf"]


def test_mutual_knn_edges_orientation(spark, li_dirs):
    """The shared graph edge builder: canonical (least, greatest) edges,
    identical under input order."""
    from orc_spark.plans.graph_q import _mutual_knn_edges

    _check(spark, li_dirs, _mutual_knn_edges, "ea", "eb")
