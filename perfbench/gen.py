"""Seeded input generators for the benchmark (benchmark-side only).

Two families, both fully determined by ``seed``:

* ``orclog_corpus`` — firmware ORCLOG text files in the F1 format
  (``Log #:`` blocks, ``Actuators`` groups, ``Interval:`` lines, pause
  separators, dirt rows, spikes, one block with its ``Interval:`` line
  missing), plus the ground truth the parser must recover: the valid data
  rows per (file, group, run) with the values exactly as written.
* ``star_schema`` — the TPC-H-ish star schema + events + documents +
  embeddings with the schemas, sizes and value distributions of the sf0.01
  tables described in TESTDATA.md (~6 % of documents are near-duplicates
  of an earlier one), keys consistent across tables so every join holds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# ORCLOG corpus
# --------------------------------------------------------------------------

INTERVAL = 0.000282
HEADER = "Acceleration, Pitch, Roll"
PAUSE = "Log Paused, now resuming:"
# lines the parser must skip: 3 fields that do not parse, 2 and 4 fields,
# a one-field unknown line and an empty line
DIRT = [
    "0.1234, bad, 1.0000",
    "nan?, 0.5, 0.25",
    "0.5000, 1.2500",
    "1.0, 2.0, 3.0, 4.0",
    "SD write retry",
    "",
]


@dataclass
class OrclogCorpus:
    paths: list[str]
    # (file basename, actuators_enabled, run_idx) -> (n, 3) float array of
    # the values as written, in file order
    runs: dict = field(default_factory=dict)
    lines: int = 0
    texts: dict = field(default_factory=dict)  # basename -> file text

    @property
    def data_rows(self) -> int:
        return sum(len(v) for v in self.runs.values())


def _signal(rng: np.random.Generator, n: int, enabled: bool) -> np.ndarray:
    """accel ≈ ±1 g, pitch/roll ≈ ±30°: sum of sinusoids + gaussian noise +
    occasional spikes. Enabled runs damp the roll-induced motion so the
    Welch tests have a real effect to find."""
    t = np.arange(n) * INTERVAL
    damp = 0.6 if enabled else 1.0
    f = rng.uniform(2.0, 9.0, size=3)
    ph = rng.uniform(0, 2 * np.pi, size=3)
    accel = damp * 0.4 * np.sin(2 * np.pi * f[0] * t + ph[0]) + rng.normal(0, 0.08, n)
    pitch = damp * 18.0 * np.sin(2 * np.pi * f[1] * t + ph[1]) + rng.normal(0, 1.5, n)
    roll = damp * 22.0 * np.sin(2 * np.pi * f[2] * t + ph[2]) + rng.normal(0, 1.5, n)
    spikes = rng.random(n) < 0.002
    accel[spikes] += rng.choice([-1.0, 1.0], spikes.sum()) * rng.uniform(2.5, 3.8, spikes.sum())
    return np.stack([accel, pitch, roll], axis=1)


def orclog_corpus(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_run: int,
    blocks_per_file: int = 3,
    runs_per_block: int = 3,
    write: bool = True,
) -> OrclogCorpus:
    """Write ``n_files`` ORCLOG files into ``out_dir`` (when ``write``) and
    return their ground truth. Each file has ``blocks_per_file`` log blocks
    alternating the treatment group (so same-group blocks' runs concatenate
    per run index, as the reference does), ``runs_per_block`` runs each of
    ~``rows_per_run`` rows (±20 %), ~1 % dirt rows and a block with a
    missing ``Interval:`` line."""
    rng = np.random.default_rng(seed)
    corpus = OrclogCorpus(paths=[])
    if write:
        os.makedirs(out_dir, exist_ok=True)
    for fi in range(n_files):
        name = f"ORCLOG_{seed}_{fi:03d}.CSV"
        out = ["ESP32 boot", "0.0000, 0.0000, 0.0000"]  # before any Log #: ignored
        first_enabled = bool(rng.integers(0, 2))
        missing_interval = int(rng.integers(0, blocks_per_file))
        for b in range(blocks_per_file):
            enabled = first_enabled ^ bool(b % 2)
            out.append(f"Log #: {int(rng.integers(0, 10000))}")
            out.append(f"Actuators {'enabled' if enabled else 'disabled'}")
            if b != missing_interval:
                out.append(f"Interval:{INTERVAL:f}")
            out.append(HEADER)
            for r in range(runs_per_block):
                if r:
                    out.append(PAUSE)
                n = int(rows_per_run * rng.uniform(0.8, 1.2))
                vals = _signal(rng, n, enabled)
                rendered = [f"{a:.4f}, {p:.4f}, {q:.4f}" for a, p, q in vals]
                written = np.array(
                    [[float(x) for x in s.split(", ")] for s in rendered]
                )
                dirt_at = np.flatnonzero(rng.random(n) < 0.01)
                for j in dirt_at[::-1]:
                    rendered.insert(int(j), DIRT[int(rng.integers(0, len(DIRT)))])
                out.extend(rendered)
                key = (name, enabled, r)
                prev = corpus.runs.get(key)
                corpus.runs[key] = written if prev is None else np.vstack([prev, written])
        text = "\n".join(out) + "\n"
        corpus.lines += len(out)
        corpus.texts[name] = text
        path = os.path.join(out_dir, name)
        if write:
            with open(path, "w") as fh:
                fh.write(text)
        corpus.paths.append(path)
    return corpus


# --------------------------------------------------------------------------
# Star schema + events + documents + embeddings
# --------------------------------------------------------------------------

# row counts (the sf0.01 shape of the tables in TESTDATA.md)
BASE = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_unit(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = BASE
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "nut"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, c, o).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, o) * DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype("int64"),
        "l_partkey": rng.integers(0, p, li).astype("int64"),
        "l_suppkey": rng.integers(0, s, li).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, li) * DAY_US),
    })
    e = n["events"]
    gaps = rng.exponential(30 * DAY_US / e, e)
    ts = EPOCH_2024 + np.cumsum(gaps).astype("int64")
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n["users"], e).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.06:
            # near-duplicate of an earlier doc: copy + a trailing word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], d),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    v = n["embeddings"]
    emb = rng.normal(0, 1, (v, EMB_DIM)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    })
    return t


def star_schema(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tb in _base_unit(np.random.default_rng(seed)).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tb.num_rows
    return counts
