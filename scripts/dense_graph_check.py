"""Natural cap-flip evidence for the graph/cluster local finishes
(VERDICT r12 directive 3, closing r12 "What's missing" #3).

scripts/make_dense.py materializes a variant whose mutual-kNN graph
(1,104,400 edges) and minhash-LSH edge set (>1M) exceed the 1M local-finish
caps, so gr_kcore / gr_bfs / gr_linkpred / gr_label_prop / dd_cluster run
their DISTRIBUTED paths because the data demands it — no forced flags. This
script then verifies each query two independent ways:

- PATHS: the natural (distributed) result must equal a caps-raised rerun
  that forces the bounded local finish on the SAME data — the exact inverse
  of the suite's caps-forced-off tests, now at real volume;
- VALUES: dd_cluster's natural output is additionally checked against a
  plain-Python union-find over the Spark-emitted >=JACCARD_MIN pair edges
  (the same independent oracle scripts/sf1_cluster_check.py uses at ~sf1).

Prints one line per check; exits non-zero on any mismatch.

Usage: python scripts/dense_graph_check.py [dense_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from orc_spark import get_spark  # noqa: E402
import orc_spark.operators.graph as g  # noqa: E402
import orc_spark.plans.graph_q as gq  # noqa: E402
from orc_spark.plans.cluster_q import JACCARD_MIN, dd_cluster  # noqa: E402
from orc_spark.plans.dedup_q import dd_minhash_pairs  # noqa: E402
from sf1_cluster_check import union_find_min_label  # noqa: E402

HUGE = 10**12


def _sorted_rows(df) -> list[tuple]:
    pdf = df.toPandas()
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return [tuple(r) for r in pdf.itertuples(index=False)]


def main() -> None:
    dense = sys.argv[1] if len(sys.argv) > 1 else "/tmp/orc_dense"
    # Unconditional: make_dense self-skips when the expected row counts
    # already match, and REGENERATES a partially-written dir left by an
    # interrupted run (r13 ADVICE — an isdir() gate consumed such dirs
    # as-is).
    from make_dense import make_dense

    make_dense(dense)
    # every query (and each path of it) rebuilds the dense edge list
    spark = get_spark(
        "dense_check", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )

    failures: list[str] = []

    t0 = time.perf_counter()
    n_mutual = gq._mutual_knn_edges(spark, dense).count()
    print(
        f"mutual-kNN edges: {n_mutual} "
        f"(caps: kcore {gq.KCORE_LOCAL_FINISH_EDGES}, "
        f"graph {gq.GRAPH_LOCAL_FINISH_EDGES}) "
        f"[build {time.perf_counter() - t0:.0f}s]",
        flush=True,
    )
    if n_mutual <= gq.GRAPH_LOCAL_FINISH_EDGES:
        failures.append("mutual-kNN edge count does NOT exceed the cap")

    for name in ("gr_kcore", "gr_bfs", "gr_linkpred", "gr_label_prop"):
        fn = getattr(gq, name)
        t0 = time.perf_counter()
        natural = _sorted_rows(fn(spark, dense))
        t_nat = time.perf_counter() - t0
        saved = (gq.KCORE_LOCAL_FINISH_EDGES, gq.GRAPH_LOCAL_FINISH_EDGES)
        gq.KCORE_LOCAL_FINISH_EDGES = gq.GRAPH_LOCAL_FINISH_EDGES = HUGE
        try:
            t0 = time.perf_counter()
            local = _sorted_rows(fn(spark, dense))
            t_loc = time.perf_counter() - t0
        finally:
            gq.KCORE_LOCAL_FINISH_EDGES, gq.GRAPH_LOCAL_FINISH_EDGES = saved
        ok = natural == local
        print(
            f"{name}: natural(distributed)=={'' if ok else '!'}=local — "
            f"{len(natural)} rows; {t_nat:.0f}s vs {t_loc:.0f}s",
            flush=True,
        )
        if not ok:
            failures.append(f"{name} natural != caps-raised local")

    # --- dd_cluster: path equality + independent union-find values -------
    edges_df = (
        dd_minhash_pairs(spark, dense)
        .where(F.col("est_jaccard") >= JACCARD_MIN)
        .select("doc_a", "doc_b")
    )
    edges = edges_df.toPandas()
    # the CC cap applies to the symmetrized+self-looped row count, which is
    # what must exceed CC_LOCAL_FINISH_ROWS for the natural flip
    n_nodes_touched = len(
        np.unique(np.concatenate([edges["doc_a"], edges["doc_b"]]))
    )
    sym_rows = 2 * len(edges) + n_nodes_touched
    print(
        f"minhash edges >= {JACCARD_MIN}: {len(edges)} "
        f"(sym rows ~{sym_rows}, CC cap {g.CC_LOCAL_FINISH_ROWS})",
        flush=True,
    )
    if sym_rows <= g.CC_LOCAL_FINISH_ROWS:
        failures.append("dd_cluster sym rows do NOT exceed the CC cap")

    t0 = time.perf_counter()
    natural = dd_cluster(spark, dense).toPandas()
    t_nat = time.perf_counter() - t0
    saved_cc = g.CC_LOCAL_FINISH_ROWS
    g.CC_LOCAL_FINISH_ROWS = HUGE
    try:
        t0 = time.perf_counter()
        local = dd_cluster(spark, dense).toPandas()
        t_loc = time.perf_counter() - t0
    finally:
        g.CC_LOCAL_FINISH_ROWS = saved_cc
    key = ["doc_id", "cluster_id", "cluster_size"]
    nat_sorted = natural.sort_values(key).reset_index(drop=True)
    ok = nat_sorted.equals(local.sort_values(key).reset_index(drop=True))
    print(
        f"dd_cluster: natural(distributed)=={'' if ok else '!'}=local — "
        f"{len(natural)} rows; {t_nat:.0f}s vs {t_loc:.0f}s",
        flush=True,
    )
    if not ok:
        failures.append("dd_cluster natural != caps-raised local")

    doc_ids = pq.read_table(
        os.path.join(dense, "documents.parquet"), columns=["doc_id"]
    )["doc_id"].to_numpy()
    comp = union_find_min_label(
        doc_ids, edges["doc_a"].to_numpy(), edges["doc_b"].to_numpy()
    )
    sizes: dict[int, int] = {}
    for c in comp.values():
        sizes[c] = sizes.get(c, 0) + 1
    bad = 0
    if len(natural) != len(doc_ids):
        bad += 1
        print(f"ROW-COUNT MISMATCH: {len(natural)} vs {len(doc_ids)}")
    for doc_id, cid, csz in zip(
        nat_sorted["doc_id"], nat_sorted["cluster_id"], nat_sorted["cluster_size"]
    ):
        want_c = comp.get(int(doc_id))
        if want_c is None or int(cid) != want_c or int(csz) != sizes[want_c]:
            bad += 1
            if bad <= 5:
                print(f"VALUE MISMATCH doc {doc_id}: ({cid},{csz})")
    print(
        f"dd_cluster union-find values: "
        f"{'OK' if bad == 0 else f'FAILED ({bad})'} — "
        f"{len(sizes)} clusters over {len(doc_ids)} docs",
        flush=True,
    )
    if bad:
        failures.append("dd_cluster values != union-find")

    print("DENSE CHECK:", "OK" if not failures else f"FAILED {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
