"""Streaming ORCLOG ingestion + firmware-format log sink.

Streaming model (SURVEY §2.A O12-O15): the log format is order-dependent
WITHIN a file and independent ACROSS files, so the streaming unit is the
file. `spark.readStream.text(..., wholetext=True)` delivers one row per
newly-arrived file per micro-batch; the batch reader's line splitter
(`sources.orclog.split_log_lines`) recovers exact line numbers, and the
batch parser's window plan runs unchanged inside each micro-batch. Rate
limiting (the firmware's bounded queue, O12) maps to `maxFilesPerTrigger`.

The sink side (O13/O14) writes byte-compatible firmware logs — "%.4f, %.4f,
%.4f" rows framed by `Log #:` / `Actuators` / `Interval:` / header markers
and `Log Paused` run separators — so engine output can be re-read by the
reference's own tooling. Round-trip parse(write(x)) == x is tested.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orc_spark.sources.orclog import parse_orclog, split_log_lines


def stream_orclog_parse(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    out_format: str = "orc",
    max_files_per_trigger: int = 10,
):
    """File-stream replay: watch ``in_dir`` for new ORCLOG files, parse each
    to the canonical table, append to ``out_dir`` (default ORC — the north-star
    format). Returns the StreamingQuery."""
    lines = split_log_lines(
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(in_dir)
    )

    def handle_batch(batch_df: DataFrame, _batch_id: int) -> None:
        parsed = parse_orclog(batch_df.sparkSession, lines=batch_df)
        parsed.write.mode("append").format(out_format).save(out_dir)

    return (
        lines.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_orclog_format_distributed(
    df: DataFrame,
    out_dir: str,
    interval_s: float = 0.000282,
) -> DataFrame:
    """Firmware-format log sink that renders and writes ENTIRELY on the
    executors: one byte-compatible CSV (ORC_Main.c:774-856 framing) per
    (file, actuators_enabled) group, written from the grouped map that owns
    the group — only the tiny manifest (group → path, row count) crosses the
    driver. This is the production counterpart of write_orclog_format below
    (which collects and is kept only for small round-trip fixtures, per
    VERDICT r01 item 5).

    Scale contract: a group is one source log's population — bounded by what
    the firmware wrote to one SD file — and groups parallelize freely;
    ``out_dir`` must be a shared filesystem on a real cluster (DFS mount),
    the same requirement as any foreachPartition-style file sink. Returns
    the manifest DataFrame; materializing it performs the writes."""
    import hashlib

    import numpy as np
    import pandas as pd

    rows = df.select(
        "file",
        "actuators_enabled",
        "run_idx",
        "sample_idx",
        F.format_string(
            "%.4f, %.4f, %.4f",
            F.col("accel_g"),
            F.col("pitch_deg"),
            F.col("roll_deg"),
        ).alias("line"),
    )
    schema = (
        "src_file string, actuators_enabled boolean, out_path string, "
        "n_rows long"
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["run_idx", "sample_idx"])
        src = str(pdf["file"].iloc[0])
        enabled = bool(pdf["actuators_enabled"].iloc[0])
        tag = hashlib.md5(src.encode()).hexdigest()[:12]
        path = os.path.join(
            out_dir, f"ORCLOG_{tag}_{'on' if enabled else 'off'}.CSV"
        )
        lid = int(tag, 16) % 10000  # deterministic stand-in for rand%10000
        out = [
            f"Log #: {lid}",
            f"Actuators {'enabled' if enabled else 'disabled'}",
            f"Interval:{interval_s:f}",
            "Acceleration, Pitch, Roll",
        ]
        run = pdf["run_idx"].to_numpy()
        lines = pdf["line"].tolist()
        breaks = (np.flatnonzero(np.diff(run) != 0) + 1).tolist()
        prev = 0
        for b in breaks + [len(lines)]:
            out.extend(lines[prev:b])
            if b < len(lines):
                out.append("Log Paused, now resuming:")
            prev = b
        os.makedirs(out_dir, exist_ok=True)
        with open(path, "w") as fh:
            fh.write("\n".join(out) + "\n")
        return pd.DataFrame(
            [
                {
                    "src_file": src,
                    "actuators_enabled": enabled,
                    "out_path": path,
                    "n_rows": len(lines),
                }
            ]
        )

    return rows.groupBy("file", "actuators_enabled").applyInPandas(render, schema)


def write_orclog_format(
    df: DataFrame,
    path: str,
    log_id: int = 1,
    interval_s: float = 0.000282,
) -> None:
    """Render a canonical orclog DataFrame back to firmware CSV bytes
    (ORC_Main.c:774-856 framing, one file per (file, actuators_enabled)
    group in input order). DRIVER-SIDE collect — small round-trip fixtures
    only; the production sink is write_orclog_format_distributed above."""
    rows = (
        df.select(
            "actuators_enabled",
            "run_idx",
            "sample_idx",
            F.format_string(
                "%.4f, %.4f, %.4f", F.col("accel_g"), F.col("pitch_deg"), F.col("roll_deg")
            ).alias("line"),
        )
        .orderBy("actuators_enabled", "run_idx", "sample_idx")
        .collect()
    )
    groups: dict[bool, list] = {}
    for r in rows:
        groups.setdefault(r["actuators_enabled"], []).append(r)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        lid = log_id
        for enabled, grp in groups.items():
            fh.write(f"Log #: {lid}\n")
            fh.write(f"Actuators {'enabled' if enabled else 'disabled'}\n")
            fh.write(f"Interval:{interval_s:f}\n")
            fh.write("Acceleration, Pitch, Roll\n")
            prev_run = grp[0]["run_idx"]
            for r in grp:
                if r["run_idx"] != prev_run:
                    fh.write("Log Paused, now resuming:\n")
                    prev_run = r["run_idx"]
                fh.write(r["line"] + "\n")
            lid += 1
