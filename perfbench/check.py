"""Result checks, run outside every timed span.

* ``canon`` / ``same`` — the parity gate's canonical form: columns sorted
  by name, floats rounded to 9 significant digits, rows sorted; two results
  agree when their canonical frames are equal cell for cell.
* ``Oracles`` — the registry's DuckDB ``oracle`` SQL over the generated
  parquet tables, computed once per input set and cached on disk.
* ``report_expected`` — an independent numpy computation of the ORCLOG
  report (zero-padded median filter, gradient, per-run RMS/min/max,
  per-group means and Welch t) from the generator's ground truth.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle

import numpy as np
import pandas as pd


def _cell(v):
    """Canonical cell: NULL/NaN -> None, integral floats -> int, other
    floats rounded to 9 significant digits, sequences element-wise."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return None
        if math.isinf(v):
            return v
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if v is pd.NA:
        return None
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    """Rows of the canonical form: columns in name order, cells through
    ``_cell``, rows sorted."""
    cols = sorted(df.columns)
    values = [[_cell(v) for v in df[c].tolist()] for c in cols]
    return sorted(zip(*values), key=repr)


def same(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """None when the canonical forms agree, else a one-line reason."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    ra, rb = canon(a), canon(b)
    bad = [i for i, (x, y) in enumerate(zip(ra, rb)) if x != y]
    if bad:
        return f"{len(bad)} rows differ, e.g. {ra[bad[0]]!r} != {rb[bad[0]]!r}"
    return None


def perturbed(df: pd.DataFrame) -> pd.DataFrame:
    """The self-test input: a copy with its first non-null number changed
    past the comparator's rounding, or with its first row dropped."""
    out = df.copy()
    for c in out.columns:
        col = out[c]
        if (len(out) and pd.api.types.is_numeric_dtype(col)
                and not pd.api.types.is_bool_dtype(col) and pd.notna(col.iloc[0])):
            out[c] = col.astype("float64")
            out.iloc[0, out.columns.get_loc(c)] = col.iloc[0] * 1.001 + 1
            return out
    return out.iloc[1:]


class Oracles:
    """DuckDB oracle results per query over one generated table dir, cached
    under ``cache_dir`` keyed on the input identity and the SQL text."""

    def __init__(self, sf_dir: str, cache_dir: str, input_key: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.input_key = input_key
        self._con = None

    def _connect(self):
        import duckdb

        from orc_spark.sources.tables import TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        return con

    def get(self, name: str, sql: str) -> pd.DataFrame:
        key = hashlib.sha1(f"{self.input_key}\0{name}\0{sql}".encode()).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if self._con is None:
            self._con = self._connect()
        df = self._con.execute(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(df, fh)
        os.replace(path + ".tmp", path)
        return df

    def close(self):
        if self._con is not None:
            self._con.close()
            self._con = None


# --------------------------------------------------------------------------
# ORCLOG report, computed independently from the generator's ground truth
# --------------------------------------------------------------------------

def _medfilt(x: np.ndarray, k: int = 15) -> np.ndarray:
    """scipy.signal.medfilt semantics: zero padding at both edges."""
    h = k // 2
    p = np.concatenate([np.zeros(h), x, np.zeros(h)])
    return np.median(np.lib.stride_tricks.sliding_window_view(p, k), axis=1)


def report_expected(runs: dict) -> dict:
    """metric -> {n_runs_on, n_runs_off, avg_<stat>_on/off, t_<stat>}."""
    per = {True: [], False: []}
    for (_f, enabled, _r), vals in runs.items():
        fa = _medfilt(vals[:, 0])
        series = {
            "accel": fa,
            "pitch": _medfilt(vals[:, 1]),
            "roll": _medfilt(vals[:, 2]),
            "jerk": np.gradient(fa) if len(fa) > 1 else np.zeros(1),
        }
        per[enabled].append({
            (m, s): f(v)
            for m, v in series.items()
            for s, f in (
                ("rms", lambda v: math.sqrt(np.mean(v * v))),
                ("min", np.min),
                ("max", np.max),
            )
        })
    out = {}
    for m in ("accel", "pitch", "roll", "jerk"):
        row = {"n_runs_on": len(per[True]), "n_runs_off": len(per[False])}
        for s in ("rms", "min", "max"):
            a = np.array([r[(m, s)] for r in per[True]])
            b = np.array([r[(m, s)] for r in per[False]])
            row[f"avg_{s}_on"] = a.mean()
            row[f"avg_{s}_off"] = b.mean()
            se2 = a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
            row[f"t_{s}"] = (a.mean() - b.mean()) / math.sqrt(se2)
        out[m] = row
    return out


def check_report(pdf: pd.DataFrame, expected: dict, rtol: float = 1e-7) -> str | None:
    if sorted(pdf["metric"]) != sorted(expected):
        return f"metrics {sorted(pdf['metric'])}"
    for _, r in pdf.iterrows():
        exp = expected[r["metric"]]
        for k, v in exp.items():
            got = r[k]
            if k.startswith("n_runs"):
                if int(got) != v:
                    return f"{r['metric']}.{k}: {got} != {v}"
            elif not math.isclose(float(got), v, rel_tol=rtol, abs_tol=1e-12):
                return f"{r['metric']}.{k}: {got!r} != {v!r}"
    return None


def parse_counts_expected(runs: dict) -> dict:
    """(file basename, enabled, run_idx) -> valid data rows."""
    return {k: len(v) for k, v in runs.items()}
