"""K1-K3 sinks: stdout stream, per-response files, stderr status log.

The reference hard-codes ONE response worker so stdout lines never
interleave (execcontext/execcontext.go:63-64); our ordering contract is
stronger — lines are emitted in seq order at ANY parallelism (orderBy on
the tiny result of the distributed plan). The file sink's
one-file-per-response layout (responses/responses.go:56-79,313-343) is an
anti-pattern at 10^10 rows, so it exists as the small-scale compat mode;
`write_files_partitioned` is the scale path (one parquet dataset
partitioned by shard).
"""

from __future__ import annotations

import os
import sys
from typing import TextIO

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ganda_spark.config import EngineConfig
from ganda_spark.functions.transforms import (
    json_envelope,
    plain_output,
    sanitize_filename,
    shard_dir,
)

GREEN = "\033[32m"
RED = "\033[31m"
RESET = "\033[0m"


def _line_col(cfg: EngineConfig, columns: list[str]):
    if cfg.json_envelope:
        if "context_json" in columns:  # JSON-lines input: raw JSON context
            ctx = F.col("context_json")
        elif "context" in columns:  # TSV input: []string context
            ctx = F.when(F.col("context").isNotNull(), F.to_json(F.col("context")))
        else:
            ctx = None
        return json_envelope(
            F.col("url"), F.col("status"), F.col("body"), cfg.response_body,
            context_json=ctx,
        )
    return plain_output(F.col("body"), cfg.response_body)


def emit_stdout(
    results: DataFrame, cfg: EngineConfig, out: TextIO | None = None
) -> int:
    """K1: ordered line printer — `line + "\\n"` per non-empty emit
    (responses/responses.go:91-103) to `out`, default the sys.stdout of
    the call (not of the import). Returns lines written."""
    out = sys.stdout if out is None else out
    lines = (
        results.select("seq", _line_col(cfg, results.columns).alias("line"))
        .where(F.col("line").isNotNull())
        .orderBy("seq")
    )
    n = 0
    for row in lines.toLocalIterator():
        out.write(row["line"])
        out.write("\n")
        n += 1
    return n


def emit_status_log(
    results: DataFrame, cfg: EngineConfig, err: TextIO | None = None
) -> None:
    """K3: `Response: <code> <url>` per response; <400 green / ≥400 red in
    color mode; nothing when silent (logger/logger.go:34-66). `err`
    defaults to the sys.stderr of the call."""
    err = sys.stderr if err is None else err
    if cfg.silent:
        return
    rows = results.select("seq", "status", "url", "fetch_error").orderBy("seq")
    for row in rows.toLocalIterator():
        if row["fetch_error"] is not None:
            msg = f"{row['url']} Error: {row['fetch_error']}"
            err.write(f"{RED}{msg}{RESET}\n" if cfg.color else msg + "\n")
            continue
        msg = f"Response: {row['status']} {row['url']}"
        if cfg.color:
            hue = GREEN if row["status"] < 400 else RED
            err.write(f"{hue}{msg}{RESET}\n")
        else:
            err.write(msg + "\n")


def write_files(results: DataFrame, cfg: EngineConfig, base_dir: str) -> DataFrame:
    """K2 compat mode: one file per response at
    base/[md5-prefix/]sanitized-url (responses/responses.go:56-79,325-343).
    Runs on executors via foreachPartition — correct on one node or a
    shared filesystem; returns the (filename, shard) manifest DataFrame."""
    named = results.select(
        "url",
        "body",
        sanitize_filename(F.col("url")).alias("filename"),
        shard_dir(sanitize_filename(F.col("url")), cfg.subdir_length).alias("shard"),
    )

    def save_partition(rows):
        for row in rows:
            directory = (
                os.path.join(base_dir, row["shard"]) if row["shard"] else base_dir
            )
            os.makedirs(directory, exist_ok=True)
            with open(os.path.join(directory, row["filename"]), "w") as f:
                if row["body"]:
                    f.write(row["body"])

    named.foreachPartition(save_partition)
    return named.select("filename", "shard")


def write_files_partitioned(
    results: DataFrame, cfg: EngineConfig, base_dir: str
) -> None:
    """K2 at scale: ONE dataset, hidden-partitioned by shard — what the
    md5-prefix directory trick (responses.go:325-343) actually wants."""
    out = results.select(
        "url",
        "status",
        "body",
        shard_dir(sanitize_filename(F.col("url")), max(cfg.subdir_length, 1)).alias(
            "shard"
        ),
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(base_dir)
