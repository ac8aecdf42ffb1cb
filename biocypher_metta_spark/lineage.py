"""Partitioned triple materialization with per-partition lineage
manifests and idempotent resume.

North-rule requirements (BASELINE.json): triples land in partitioned
tables with per-partition lineage manifests and checkpointed
resumability so any failed partition re-derives exactly its triple
subset. Parquet with hive-style partition dirs stands in for Iceberg in
this sandbox — the mechanics (dynamic partition overwrite == Iceberg
overwritePartitions, manifest-per-partition) are identical.

Contrast with the reference: appended-file semantics (metta_writer.py:
99,120 open(..., 'a')) make re-runs DUPLICATE output — not idempotent.
Here `write_partitioned` uses dynamic partition overwrite, so re-running
any subset of partitions replaces exactly those partitions.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str,
                      partition_by: list[str]) -> None:
    """Dynamic partition overwrite: only partitions present in `df` are
    replaced (resume = re-run the failed partitions' input slice). The
    mode is a writer option, so the session conf is left alone and
    concurrent writers do not race on it."""
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_by).parquet(path))


def partition_manifest(df: DataFrame, partition_by: list[str]) -> list[dict]:
    """Per-partition lineage rows: key -> row count + order-insensitive
    content hash over the non-partition columns (sum of row xxhashes mod
    2^64 — distributed, no sort)."""
    cols = [c for c in df.columns if c not in partition_by]
    row_hash = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                            for c in cols])
    # A sum, unlike a xor, does not cancel equal rows in pairs. It runs as
    # two long sums of the hash's 32-bit halves, which ANSI mode cannot
    # overflow below 2^31 rows per partition; the halves recombine below.
    agg = (df.withColumn("_rh", row_hash)
           .groupBy(*partition_by)
           .agg(F.count("*").alias("n_rows"),
                F.sum(F.col("_rh").bitwiseAND(0xFFFFFFFF)).alias("_lo"),
                F.sum(F.shiftright("_rh", 32)).alias("_hi")))
    rows = []
    for r in agg.collect():
        d = r.asDict()
        d["content_hash"] = ((d.pop("_hi") << 32) + d.pop("_lo")) % 2**64
        rows.append(d)
    return rows


def write_manifest(manifest_rows: list[dict], path: str, run_id: str) -> None:
    out = {
        "run_id": run_id,
        "written_at": time.time(),
        "partitions": sorted(manifest_rows,
                             key=lambda r: json.dumps(r, sort_keys=True, default=str)),
    }
    p = Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(out, indent=1, default=str))


def read_manifest(path: str) -> dict | None:
    p = Path(path)
    if not p.exists():
        return None
    return json.loads(p.read_text())


def failed_partitions(expected: dict, actual: dict) -> list[dict]:
    """Diff two manifests: partitions whose count/hash mismatch (the
    resume work-list)."""
    def key(r):
        return json.dumps({k: v for k, v in r.items()
                           if k not in ("n_rows", "content_hash")},
                          sort_keys=True, default=str)

    amap = {key(r): r for r in actual.get("partitions", [])}
    out = []
    for r in expected.get("partitions", []):
        a = amap.get(key(r))
        if a is None or a["n_rows"] != r["n_rows"] \
                or a["content_hash"] != r["content_hash"]:
            out.append(r)
    return out
