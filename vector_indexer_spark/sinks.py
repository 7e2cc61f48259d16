"""Training-shard sink: the last stage of the corpus pipeline.

After clean → dedup → decontaminate → split → mixture → pack, the
corpus must land on disk as the fixed set of shard files a training
job streams. This sink makes that layout deterministic and
self-describing:

- shard routing is the engine's portable ``(seed, id)`` md5 bucket —
  a pure function of the row, so re-running the pipeline yields the
  SAME shard for every row regardless of partitioning (``partitionBy``
  on a random or monotonic id would not);
- rows are sorted inside each shard by caller-chosen columns (e.g.
  ``bin_id`` from ``pack_sequences``) so a trainer reads examples in a
  reproducible order and parquet row-group stats support range reads;
- a ``manifest.json`` records shard count, per-shard row counts, the
  routing seed, and format version — the index-root pattern
  (reference meta.json, src/ivf_index.rs:269-295) applied to corpus
  output.

Scale: one exchange (the shard route) and one sorted write; shards are
Hive partitions, so selective reads prune to the shard directories —
the same partition-pruning shape the vector index uses for clusters.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_indexer_spark.ioutil import atomic_write_json

SHARD_FORMAT_VERSION = 1
CONTENT_HASH_SEED = 23


def content_hash_expr(cols, *, seed: int = CONTENT_HASH_SEED):
    """Per-row 32-bit content hash over ``cols`` (unit-separator-joined
    string forms). Summed per shard it yields an ORDER-INDEPENDENT
    integer digest: integer addition commutes, so any partitioning /
    task order produces the same sum — the property a distributed
    integrity check needs (a rolling/order-sensitive hash would not
    survive repartitioning).

    NULLs are encoded distinctly per column (a 0/1 null flag prefixed
    to each value) — plain ``concat_ws`` silently *skips* null
    columns, so ``(NULL, 'x')`` and ``('x', NULL)`` would hash
    identically and corruption that nulls one column while shifting
    its value into a neighbor would be invisible to the verifier.
    """
    encoded = [
        F.concat(
            F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0")),
            F.coalesce(F.col(c).cast("string"), F.lit("")),
        )
        for c in cols
    ]
    payload = F.concat_ws("\u001f", *encoded)
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), payload)), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
    )


def shard_expr(id_col, n_shards: int, *, seed: int = 11):
    """Deterministic shard id: ``md5("{seed}:{id}") mod n_shards`` —
    same portable bucket family as splitting/sampling (distinct seed
    keeps shard routing independent of those draws)."""
    from vector_indexer_spark.operators.splits import _bucket_expr

    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    return (_bucket_expr(id_col, seed) % n_shards).cast("long")


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int = 16,
    id_col: str = "doc_id",
    sort_cols: tuple = (),
    seed: int = 11,
    content_cols: tuple | None = None,
) -> dict:
    """Write the corpus as ``path/data/shard=S/`` parquet partitions
    plus ``path/manifest.json``; returns the manifest dict.

    Rows are routed by ``shard_expr`` and sorted within each shard by
    ``sort_cols + (id_col,)`` — fully deterministic output layout.
    ``content_cols`` (default: all input columns) selects the columns
    folded into each shard's order-independent content digest,
    recorded in the manifest and recheckable with
    :func:`verify_training_shards`.
    """
    if content_cols is None:
        content_cols = tuple(df.columns)
    routed = df.withColumn("shard", shard_expr(id_col, n_shards, seed=seed))
    (
        routed.repartition(n_shards, "shard")
        .sortWithinPartitions(*[*sort_cols, id_col])
        .write.partitionBy("shard")
        .mode("errorifexists")
        .parquet(os.path.join(path, "data"))
    )
    stats = {
        int(r["shard"]): (int(r["n"]), int(r["csum"]))
        for r in routed.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.sum(content_hash_expr(content_cols)).alias("csum"),
        )
        .collect()
    }
    manifest = {
        "version": SHARD_FORMAT_VERSION,
        "n_shards": n_shards,
        "seed": seed,
        "id_col": id_col,
        "sort_cols": list(sort_cols),
        "content_cols": list(content_cols),
        "rows": sum(n for n, _ in stats.values()),
        "shard_rows": {
            str(s): stats.get(s, (0, 0))[0] for s in range(n_shards)
        },
        "shard_content_sums": {
            str(s): stats.get(s, (0, 0))[1] for s in range(n_shards)
        },
    }
    atomic_write_json(os.path.join(path, "manifest.json"), manifest)
    return manifest


def read_training_shards(
    spark: SparkSession, path: str, *, shards: list | None = None
) -> DataFrame:
    """Reopen a shard set; ``shards`` restricts the scan to those
    partition directories (partition pruning — the selective-read
    path, S8 shape)."""
    mpath = os.path.join(path, "manifest.json")
    if not os.path.exists(mpath):
        raise FileNotFoundError(f"no training shards at {path!r}")
    with open(mpath) as f:
        manifest = json.load(f)
    if manifest.get("version") != SHARD_FORMAT_VERSION:
        raise ValueError(
            f"unsupported shard format version {manifest.get('version')!r}"
        )
    out = spark.read.parquet(os.path.join(path, "data"))
    if shards is not None:
        out = out.where(F.col("shard").isin([int(s) for s in shards]))
    return out


def verify_training_shards(spark: SparkSession, path: str) -> dict:
    """Integrity check: recompute per-shard row counts and content
    digests from the data files and diff them against the manifest —
    catches truncated writes, lost partitions, and silent row
    corruption in the columns the digest covers. Returns
    ``{"ok": bool, "mismatched_shards": [...]}``; one distributed
    aggregation, no driver-side row data.
    """
    mpath = os.path.join(path, "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    data = spark.read.parquet(os.path.join(path, "data"))
    stats = {
        int(r["shard"]): (int(r["n"]), int(r["csum"]))
        for r in data.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                content_hash_expr(manifest["content_cols"])
            ).alias("csum"),
        )
        .collect()
    }
    bad = []
    for s in range(manifest["n_shards"]):
        n, csum = stats.get(s, (0, 0))
        if (
            n != manifest["shard_rows"][str(s)]
            or csum != manifest["shard_content_sums"][str(s)]
        ):
            bad.append(s)
    return {"ok": not bad, "mismatched_shards": bad}
