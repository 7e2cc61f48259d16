"""IVF index build, persist, and load (K8 + S5–S7 + P5).

The reference's build pipeline (src/ivf_index.rs:57-177) trains
k-means, groups vectors into IVF lists, groups lists into
``ceil(sqrt(nlist))`` shards via a super-centroid k-means over the
centroids (seed·31+7), drops empty lists, renumbers centroid ids
densely, and writes a custom binary format (src/shards.rs:68-177).

Spark-first re-expression — *tables, not files*:

- the shard/cluster two-level binary layout becomes Hive partitioning:
  ``vectors/shard_id=S/cluster_id=C/*.parquet`` (S7). The reference's
  per-cluster byte-range index (CentroidIndex) is exactly what Parquet
  partition pruning gives us for free at search time.
- the index root (centroids + centroid→shard map + dimension,
  src/ivf_index.rs:269-316) becomes a small ``centroids`` Parquet
  table + a JSON metadata sidecar (S5/S6).
- empty-list filtering + dense renumbering (P5, src/ivf_index.rs:122-146)
  is a count join + driver-side relabel of the (tiny) centroid set.

At 100 TB: the only full-data passes are the k-means iterations
(O(partitions·k·d) shuffle each, see operators.kmeans) and the final
assigned write, which shuffles once on (shard_id, cluster_id) so each
partition directory is written by one task.

Every persisted IVF tier — flat here, IVF-SQ (operators.sq), IVF-BQ
(operators.ivfbq), IVF-RaBitQ (operators.rabitq) and IVF-PQ
(operators.pq, which IVF-OPQ composes over) — shares this layout. The
layout decisions live here once: the coarse stage
(:func:`check_build_input` + :func:`coarse_stage`), the sharded write
(:func:`write_sharded`), the centroid table
(:func:`write_centroids` / :func:`load_layout`), the meta sidecar
(:func:`write_meta` / :func:`read_meta` / :func:`update_meta_count`),
the add path (:func:`append_rows`) and the base handle
(:class:`IvfHandle`). A tier module keeps only its quantizer: train,
encode and the scoring kernel.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_indexer_spark.ioutil import atomic_write_json
from vector_indexer_spark.config import (
    SUPER_KMEANS_ITERS,
    calculate_max_iterations,
    num_shards,
    suggest_nlist,
    super_centroid_seed,
)
from vector_indexer_spark.operators.kmeans import (
    assign_clusters,
    assign_nearest,
    kmeans_fit,
    kmeans_numpy,
)

FORMAT_VERSION = 1


@dataclass
class IvfHandle:
    """The fields every persisted IVF handle carries (flat and every
    compressed tier): metadata plus the driver-resident centroid
    matrix that probe ranking and assignment run against."""

    path: str
    dimension: int
    nlist: int
    n_shards: int
    seed: int
    n_vectors: int
    # (nlist, d) float64, dense ids 0..nlist-1; None for a lazy handle
    # (load_index(lazy_centroids=True)) — search then ranks probes
    # relationally against the centroid table instead
    centroids: np.ndarray | None
    centroid_shards: np.ndarray | None  # (nlist,) int64 centroid→shard map

    def codes_path(self) -> str:
        return os.path.join(self.path, "codes")

    def codes(self, spark: SparkSession) -> DataFrame:
        """The compressed tiers' shard-partitioned codes table."""
        return self.read_table(spark, self.codes_path())

    def read_table(self, spark: SparkSession, path: str) -> DataFrame:
        """Open one of this index's Parquet tables. The handle's first
        open of ``path`` infers its schema (a footer-reading Spark job)
        and caches it on the handle, as :meth:`probe_hierarchy` caches
        the hierarchy; every later open passes that schema and runs no
        job. The directory is still listed on every open, so files
        appended since (``add_vectors``, the streaming sink, a
        compaction's swap) are read."""
        # setdefault: concurrent searches on one handle share one dict
        schemas = self.__dict__.setdefault("_schemas", {})
        schema = schemas.get(path)
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
        table = spark.read.parquet(path)
        schemas[path] = table.schema
        return table

    def centroids_df(self, spark: SparkSession) -> DataFrame:
        """``(centroid_id, cvec array<float>)`` built from the driver
        matrix — the centroid frame the composable tier stages take."""
        return spark.createDataFrame(
            [
                (int(i), [float(x) for x in self.centroids[i]])
                for i in range(self.nlist)
            ],
            "centroid_id long, cvec array<float>",
        )

    def probe_hierarchy(self) -> tuple[np.ndarray, np.ndarray]:
        """(meta_centroids, meta_labels) over the centroid matrix, for
        hierarchical probe ranking at large nlist (K7 reused for
        search). Built lazily from the persisted centroids with the
        index's own seed — deterministic per index — and cached on the
        handle so repeated search batches pay it once."""
        if self.centroids is None:
            raise ValueError(
                "probe_hierarchy needs the centroid matrix; this handle "
                "was loaded with lazy_centroids=True (relational probe "
                "ranking does not use a hierarchy)"
            )
        if not hasattr(self, "_probe_hierarchy"):
            from vector_indexer_spark.operators.kmeans import (  # noqa: PLC0415
                build_centroid_hierarchy,
            )

            self._probe_hierarchy = build_centroid_hierarchy(
                np.asarray(self.centroids, dtype=np.float64), self.seed
            )
        return self._probe_hierarchy


@dataclass
class IvfIndex(IvfHandle):
    """Handle to a persisted flat index: metadata + lazy table accessors."""

    id_col: str = "id"  # column names in the persisted vector table
    vec_col: str = "values"

    @property
    def vectors_path(self) -> str:
        return os.path.join(self.path, "vectors")

    @property
    def centroids_path(self) -> str:
        return os.path.join(self.path, "centroids")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def vectors(self, spark: SparkSession) -> DataFrame:
        return self.read_table(spark, self.vectors_path)

    def centroids_df(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.centroids_path)


def dense_relabel_and_shards(
    counts: dict, raw_centroids: np.ndarray, seed: int
):
    """P5 + super-centroid sharding, the step of :func:`coarse_stage`
    every tier's build goes through: drop empty clusters, renumber
    densely, then k-means the surviving centroids into ``num_shards``
    super-clusters (derived seed, reference src/ivf_index.rs:103-109,
    122-146).

    Returns ``(relabel, centroids, eff_nlist, n_shards, shard_of)``
    where ``relabel`` maps raw→dense cluster ids and ``shard_of[i]`` is
    the shard of dense cluster ``i``.
    """
    live = sorted(c for c in counts if counts[c] > 0)
    relabel = {old: new for new, old in enumerate(live)}
    centroids = raw_centroids[live]
    eff_nlist = len(live)
    n_sh = num_shards(eff_nlist)
    if n_sh >= eff_nlist:
        shard_of = np.arange(eff_nlist, dtype=np.int64)
        n_sh = eff_nlist
    else:
        supers = kmeans_numpy(
            centroids,
            n_sh,
            max_iters=SUPER_KMEANS_ITERS,
            seed=super_centroid_seed(seed),
        )
        shard_of = assign_nearest(centroids, supers)
    return relabel, centroids, eff_nlist, int(n_sh), shard_of


def check_build_input(
    df: DataFrame, vec_col: str, dimension: int | None
) -> tuple[int, int]:
    """Build-input contract of every tier: non-empty (reference: an
    empty build is an error, tests/api_tests.rs:265-271) and P1 — one
    dimension for every record, checked before any training. Returns
    ``(n, dimension)``; ``dimension`` defaults to the first row's.
    The row count and the P1 count are one aggregation."""
    empty = ValueError("cannot build an index from an empty DataFrame")
    if not dimension:
        first = df.select(vec_col).first()
        if first is None:
            raise empty
        dimension = len(first[0])
    n, bad = df.agg(
        F.count("*"), F.count(F.when(F.size(vec_col) != dimension, 1))
    ).first()
    if n == 0:
        raise empty
    if bad:
        raise ValueError(
            f"{bad} records have dimension != {dimension} (dim validation, P1)"
        )
    return n, dimension


def coarse_stage(
    df: DataFrame,
    path: str,
    n: int,
    dimension: int,
    *,
    vec_col: str,
    nlist: int | None,
    seed: int,
    mode: str,
    max_iters: int | None,
) -> tuple[DataFrame, DataFrame, IvfHandle]:
    """The coarse quantizer every tier builds on: train (K1/K2),
    assign (J1; J2 shortlist above k=100 — the build seed drives the
    hierarchy so training and final assignment agree), then P5 dense
    renumber + super-centroid sharding (driver-side: the cluster set
    is ≈4√n rows).

    Returns ``(assigned, dense, handle)``: ``assigned`` is the cached
    raw assignment — it is consumed twice (counts collect + the tier's
    write), so the full-table assignment pass runs once; unpersist it
    after the write. ``dense`` is every input column plus the dense
    ``cluster_id`` and its ``shard_id``. ``handle`` carries the eight
    base fields."""
    spark = df.sparkSession
    model = kmeans_fit(
        df,
        nlist or suggest_nlist(n),
        vec_col=vec_col,
        max_iters=max_iters or calculate_max_iterations(n),
        seed=seed,
        mode=mode,
    )
    assigned = assign_clusters(
        df, model.centroids, vec_col=vec_col, out_col="__raw_cluster", seed=seed
    ).cache()
    counts = {
        r["__raw_cluster"]: r["cnt"]
        for r in assigned.groupBy("__raw_cluster").agg(F.count("*").alias("cnt")).collect()
    }
    relabel, centroids, eff_nlist, n_sh, shard_of = dense_relabel_and_shards(
        counts, model.centroids, seed
    )
    mapping = spark.createDataFrame(
        [(int(old), int(new), int(shard_of[new])) for old, new in relabel.items()],
        "__raw_cluster long, cluster_id long, shard_id long",
    )
    dense = assigned.join(F.broadcast(mapping), "__raw_cluster").drop(
        "__raw_cluster"
    )
    handle = IvfHandle(
        path=path,
        dimension=dimension,
        nlist=eff_nlist,
        n_shards=n_sh,
        seed=seed,
        n_vectors=n,
        centroids=centroids,
        centroid_shards=shard_of,
    )
    return assigned, dense, handle


def attach_shards(df: DataFrame, index: IvfHandle) -> DataFrame:
    """Append each row's ``shard_id`` from its ``cluster_id`` through
    the index's centroid→shard map (an nlist-row broadcast)."""
    shard_map = df.sparkSession.createDataFrame(
        [(int(c), int(s)) for c, s in enumerate(index.centroid_shards)],
        "cluster_id long, shard_id long",
    )
    return df.join(F.broadcast(shard_map), "cluster_id").select(
        *df.columns, "shard_id"
    )


def write_sharded(df: DataFrame, path: str, mode: str) -> None:
    """S7 — the one physical layout of every IVF row table (vectors or
    codes; builds, adds, rewrites and the streaming sink): one shuffle
    on the shard key, then partitioned write with rows sorted by
    cluster_id inside each shard file. This mirrors the reference
    layout exactly (one shard file containing cluster blocks + a
    per-cluster byte-range index, src/shards.rs:68-177): Hive pruning
    skips whole shards, and the cluster_id sort gives parquet
    row-group min/max stats that skip non-probed clusters inside a
    shard. A cluster_id-level directory layout would create nlist≈4√n
    tiny dirs — file-listing overhead dominates long before 100 TB."""
    (
        df.repartition("shard_id")
        .sortWithinPartitions("shard_id", "cluster_id")
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(path)
    )


def write_centroids(
    spark: SparkSession,
    path: str,
    vec_col: str,
    centroids: np.ndarray,
    shard_of: np.ndarray,
    rhos: np.ndarray | None = None,
) -> None:
    """S5 — the nlist-row ``centroids`` table, one file:
    ``(centroid_id, <vec_col> array<float>, shard_id[, rho double])``.
    The flat and PQ tiers name the vector column ``vector``, the SQ,
    BQ and RaBitQ tiers ``cvec``; only IVF-BQ stores its per-cluster
    ``rho`` scales here."""
    rows = [
        (int(i), [float(x) for x in centroids[i]], int(shard_of[i]))
        for i in range(len(centroids))
    ]
    schema = f"centroid_id long, {vec_col} array<float>, shard_id long"
    if rhos is not None:
        rows = [(*r, float(rho)) for r, rho in zip(rows, rhos)]
        schema += ", rho double"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "centroids"))


def write_meta(path: str, name: str, meta: dict) -> None:
    """S5 — the JSON meta sidecar, always through
    :func:`~vector_indexer_spark.ioutil.atomic_write_json`: a crash
    mid-rebuild leaves the previous sidecar loadable."""
    os.makedirs(path, exist_ok=True)
    atomic_write_json(os.path.join(path, name), meta)


def handle_meta(handle: IvfHandle, version: int, kind: str | None) -> dict:
    """The base-handle keys of a meta sidecar, in their on-disk order
    (tiers append their own keys; flat carries no ``kind``)."""
    return {
        "version": version,
        **({} if kind is None else {"kind": kind}),
        "dimension": handle.dimension,
        "nlist": handle.nlist,
        "n_shards": handle.n_shards,
        "seed": handle.seed,
        "n_vectors": handle.n_vectors,
    }


def read_meta(path: str, name: str, version: int, label: str) -> dict:
    """S6 — read a meta sidecar with the version check."""
    meta_path = os.path.join(path, name)
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"no {label} index at {path!r} (missing {name})"
        )  # api_tests.rs:252-262
    with open(meta_path) as f:
        meta = json.load(f)
    if meta.get("version") != version:
        raise ValueError(f"unsupported {label} version {meta.get('version')!r}")
    return meta


def load_layout(
    spark: SparkSession,
    path: str,
    meta: dict,
    vec_col: str,
    with_centroids: bool = True,
) -> tuple[dict, list]:
    """S6 — the base-handle fields of a persisted index from its meta
    and centroid table. Returns ``(fields, centroid_rows)``; the rows
    let a tier read its own extra centroid columns (IVF-BQ's ``rho``).
    ``with_centroids=False`` leaves the matrix unread (lazy handle)."""
    fields = {
        k: meta[k] for k in ("dimension", "nlist", "n_shards", "seed", "n_vectors")
    }
    fields.update(path=path, centroids=None, centroid_shards=None)
    rows = []
    if with_centroids:
        rows = (
            spark.read.parquet(os.path.join(path, "centroids"))
            .orderBy("centroid_id")
            .collect()
        )
        fields["centroids"] = np.array(
            [r[vec_col] for r in rows], dtype=np.float64
        )
        fields["centroid_shards"] = np.array(
            [r["shard_id"] for r in rows], dtype=np.int64
        )
    return fields, rows


def update_meta_count(index: IvfHandle, name: str, update) -> int:
    """Rewrite the sidecar's ``n_vectors`` as ``update(recorded)``
    (atomically) and mirror it on the handle. Returns the previously
    recorded count."""
    meta_path = os.path.join(index.path, name)
    with open(meta_path) as f:
        meta = json.load(f)
    recorded = int(meta["n_vectors"])
    meta["n_vectors"] = update(recorded)
    atomic_write_json(meta_path, meta)
    index.n_vectors = meta["n_vectors"]
    return recorded


def collect_centroids(
    centroids: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Collect a (possibly id-restricted) centroid frame into a dense
    id-indexed float64 matrix plus a ``present`` mask: absent ids stay
    zero-filled rows that callers must bar from ranking and
    encoding."""
    rows = centroids.select(id_col, vec_col).collect()
    if not rows:
        raise ValueError(
            "the centroid frame is empty: no clusters to probe or encode against"
        )
    nlist = 1 + max(r[0] for r in rows)
    cents = np.zeros((nlist, len(rows[0][1])), dtype=np.float64)
    present = np.zeros(nlist, dtype=bool)
    for r in rows:
        cents[r[0]] = np.asarray(r[1], dtype=np.float64)
        present[r[0]] = True
    return cents, present


def build_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    vec_col: str = "values",
    dimension: int | None = None,
    nlist: int | None = None,
    seed: int = 42,
    mode: str = "full",
    max_iters: int | None = None,
) -> IvfIndex:
    """K8 — train, shard, and persist an IVF index from a vector table.

    ``df`` must carry a unique ``id_col`` and an ``ARRAY<FLOAT>``
    ``vec_col``; all other columns are carried through to the persisted
    vector table as payload (the reference carries external_id + ts,
    src/shards.rs:139-144).
    """
    n, dimension = check_build_input(df, vec_col, dimension)
    assigned, dense, base = coarse_stage(
        df, path, n, dimension, vec_col=vec_col, nlist=nlist, seed=seed,
        mode=mode, max_iters=max_iters,
    )
    write_sharded(dense, os.path.join(path, "vectors"), "overwrite")
    assigned.unpersist()
    write_centroids(
        df.sparkSession, path, "vector", base.centroids, base.centroid_shards
    )
    index = IvfIndex(**vars(base), id_col=id_col, vec_col=vec_col)
    meta = handle_meta(index, FORMAT_VERSION, None)
    meta.update(id_col=id_col, vec_col=vec_col)
    write_meta(path, "meta.json", meta)
    return index


def load_index(
    spark: SparkSession, path: str, *, lazy_centroids: bool = False
) -> IvfIndex:
    """S6/S11 — reopen a persisted index from its directory.

    ``lazy_centroids=True`` skips collecting the centroid matrix to
    the driver entirely (``index.centroids is None``): the handle can
    still search — ``search_index`` routes such handles through the
    fully-relational probe ranking (search.rank_probes_relational),
    which scans the centroid *table* instead. This is the open-a-
    100TB-index-from-a-laptop-driver mode: at nlist≈1.3M, d=768 the
    matrix is ~8 GB and has no business on the driver. Operators that
    genuinely need the matrix (streaming ingest assignment, PQ/SQ
    search, arrow kNN-style scoring) require an eager load.
    """
    meta = read_meta(path, "meta.json", FORMAT_VERSION, "IVF")
    fields, _ = load_layout(
        spark, path, meta, "vector", with_centroids=not lazy_centroids
    )
    return IvfIndex(
        **fields,
        id_col=meta.get("id_col", "id"),
        vec_col=meta.get("vec_col", "values"),
    )


def cluster_stats(assigned: DataFrame, *, cluster_col: str = "cluster_id") -> DataFrame:
    """Index observability: one-row summary of the cluster-size
    distribution (count / total / min / max / mean / imbalance factor).

    ``imbalance = max_size / avg_size`` is the standard IVF list-balance
    metric (1.0 = perfectly balanced; the probe-time worst case scales
    with it, because a probe that hits the fattest list does
    ``imbalance×`` the average work). Two map-side-combined
    aggregations over the assignment table — no wide shuffle beyond
    the per-cluster counts, so it is as scalable as the build itself.
    """
    sizes = assigned.groupBy(cluster_col).agg(F.count("*").alias("n"))
    avg_size = F.sum("n").cast("double") / F.count("*").cast("long")
    return sizes.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("n").cast("long").alias("n_vectors"),
        F.min("n").cast("long").alias("min_size"),
        F.max("n").cast("long").alias("max_size"),
        avg_size.alias("avg_size"),
        (F.max("n").cast("double") / avg_size).alias("imbalance"),
    )


def _parquet_file_count(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _staged_rewrite(
    spark: SparkSession, src: str, df: DataFrame, op: str, validate
) -> tuple[int, int]:
    """Shared table-rewrite protocol for maintenance ops: write the
    rewritten table to a staging dir in the as-built layout, run
    ``validate(n_before, n_after)`` (raise to abort with the live
    table untouched — Spark cannot safely overwrite a path it reads),
    then swap atomically. Returns ``(n_before, n_after)``.
    """
    staging, backup = f"{src}__{op}__staging", f"{src}__{op}__backup"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    if os.path.exists(backup):
        if not os.path.exists(src):
            # a previous run crashed between the two renames: the live
            # table is stranded in the backup dir — restore it
            os.rename(backup, src)
        else:
            # stale backup from an interrupted earlier run; the live
            # table exists, so the backup is dead weight blocking the
            # os.rename(src, backup) below (non-empty dir target)
            shutil.rmtree(backup)
    n_before = spark.read.parquet(src).count()
    write_sharded(df, staging, "overwrite")
    n_after = spark.read.parquet(staging).count()
    try:
        validate(n_before, n_after)
    except Exception:
        shutil.rmtree(staging)
        raise
    os.rename(src, backup)
    os.rename(staging, src)
    shutil.rmtree(backup)
    return n_before, n_after


def compact_index(spark: SparkSession, index: IvfIndex) -> dict:
    """Compact the index's vector table: rewrite each shard partition
    as few large cluster-sorted files instead of the many small ones
    incremental ingest accumulates (one file per shard per
    micro-batch).

    Why this is a first-class maintenance op at scale: the small-files
    problem degrades everything downstream — scan task count grows
    with file count (scheduler pressure), per-file open/footer costs
    dominate tiny reads, and cluster-id row-group pruning weakens
    because each appended file carries its own near-full cluster range
    of row groups. Compaction restores the as-built layout: one
    shuffle on ``shard_id``, rows re-sorted by ``(shard, cluster)`` so
    parquet row-group stats prune again, written partition-parallel.

    Safety: the rewrite lands in a staging directory and is swapped in
    only after a row-count parity check — the live table is never
    overwritten in place (Spark cannot safely overwrite a path it is
    reading). Returns ``{rows, files_before, files_after}``.
    """
    return compact_table(spark, index.vectors_path)


def compact_table(spark: SparkSession, src: str) -> dict:
    """Compact ANY shard-partitioned cluster-sorted table at ``src`` —
    the flat index's ``vectors`` dir (via :func:`compact_index`) or a
    compressed tier's ``codes`` dir (IVF-PQ / IVF-SQ appends from
    their ``add_vectors_*`` accumulate small files the same way).
    Same staged-swap + row-count-parity protocol."""
    files_before = _parquet_file_count(src)

    def _same_rows(n_before, n_after):
        if n_after != n_before:
            raise RuntimeError(
                f"compaction row-count mismatch: {n_before} -> {n_after};"
                " staging discarded, live table untouched"
            )

    n_before, _ = _staged_rewrite(
        spark, src, spark.read.parquet(src), "compact", _same_rows
    )
    return {
        "rows": n_before,
        "files_before": files_before,
        "files_after": _parquet_file_count(src),
    }


def delete_vectors(
    spark: SparkSession, index: IvfIndex, ids: DataFrame | list
) -> dict:
    """Delete vectors by id: anti-join rewrite of the vector table
    through the same staged-swap protocol as :func:`compact_index`
    (parquet is immutable — deletion is a rewrite; at warehouse scale
    a format with deletion vectors (Delta/Iceberg) makes this a
    metadata op, and this function is the compaction-style fallback).

    ``ids`` is a one-column DataFrame or a small list. The delete set
    broadcasts (anti-joins are build-side-small by construction here);
    untouched rows keep their shard/cluster assignment, so pruning
    layout survives. Returns ``{rows_before, rows_after, n_deleted}``.
    """
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame(
            [(int(i),) for i in ids], f"{index.id_col} long"
        )
    ids = ids.select(F.col(ids.columns[0]).alias(index.id_col))
    src = index.vectors_path
    kept = spark.read.parquet(src).join(
        F.broadcast(ids), index.id_col, "left_anti"
    )

    def _not_grown(n_before, n_after):
        if n_after > n_before:
            raise RuntimeError("delete rewrite grew the table; aborted")

    n_before, n_after = _staged_rewrite(
        spark, src, kept, "delete", _not_grown
    )
    return {
        "rows_before": n_before,
        "rows_after": n_after,
        "n_deleted": n_before - n_after,
    }


def validate_add_batch(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dimension: int,
    existing_ids: DataFrame | None,
) -> int:
    """Shared add-batch contract for every index tier that takes adds
    (flat, IVF-SQ and IVF-PQ, through :func:`append_rows`): non-empty,
    P1 dimension check, unique ids within the batch, and (when ``existing_ids`` is given) no collision with ids
    already in the index — that last check is a column-pruned scan of
    the live table; at warehouse scale pass ``None`` and enforce
    uniqueness upstream. Returns the batch row count.

    The row count, the P1 count and the distinct-id count are one
    aggregation over the batch grouped by id (one shuffle). Grouping
    keeps ``distinct()``'s null semantics: all null ids form one
    group, so one null id counts as a value and two are duplicates."""
    n_new, bad, n_ids = (
        df.groupBy(id_col)
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.size(vec_col) != dimension, 1)).alias("bad"),
        )
        .agg(F.sum("n"), F.sum("bad"), F.count("*"))
        .first()
    )
    if not n_new:
        raise ValueError("cannot add an empty DataFrame")
    if bad:
        raise ValueError(
            f"{bad} records have dimension != {dimension}"
            " (dim validation, P1)"
        )
    if n_ids != n_new:
        raise ValueError("duplicate ids within the batch")
    if existing_ids is not None:
        keyed = df.select(F.col(id_col).alias("__add_id"))
        n_dup = keyed.join(
            existing_ids.select(F.col(existing_ids.columns[0]).alias("__add_id")),
            "__add_id",
            "semi",
        ).count()
        if n_dup:
            raise ValueError(f"{n_dup} ids already present in the index")
    return n_new


def append_rows(
    spark: SparkSession,
    index: IvfHandle,
    batch: DataFrame,
    table: str,
    meta_name: str,
    *,
    id_col: str,
    vec_col: str,
    check_duplicate_ids: bool,
    encode,
) -> int:
    """The add path every tier shares: :func:`validate_add_batch` →
    assign to the FROZEN centroids (:func:`assign_clusters`, J1 exact
    / J2 hierarchical above the same threshold as build, same seed —
    an added row lands in exactly the cluster a from-scratch build
    with these centroids would put it in, so search pruning stays
    correct by construction) → the tier's ``encode`` (identity for
    flat) → shard routing → sharded append to ``table`` → meta count
    bump. One shuffle of the NEW batch only; the live table is never
    read (beyond the optional duplicate-id scan) or rewritten. Returns
    the number of rows added."""
    n_new = validate_add_batch(
        batch,
        id_col=id_col,
        vec_col=vec_col,
        dimension=index.dimension,
        existing_ids=(
            index.read_table(spark, table).select(id_col)
            if check_duplicate_ids
            else None
        ),
    )
    assigned = assign_clusters(
        batch,
        index.centroids,
        vec_col=vec_col,
        out_col="cluster_id",
        seed=index.seed,
    )
    write_sharded(attach_shards(encode(assigned), index), table, "append")
    update_meta_count(index, meta_name, lambda n: n + n_new)
    return n_new


def add_vectors(
    spark: SparkSession,
    index: IvfIndex,
    df: DataFrame,
    *,
    check_duplicate_ids: bool = True,
) -> dict:
    """Incremental ingest into a built index (Faiss ``IndexIVF.add``
    semantics — the reference is build-once, src/ivf_index.rs; this is
    the maintenance op a long-lived 100 TB index needs): assign the new
    batch to the EXISTING centroids (no retraining — recall drifts only
    as the data distribution does; rebuild via :func:`build_index` when
    it matters), route each row to its cluster's shard, and append
    shard-partitioned, cluster-sorted files to the live vector table.

    Assignment reuses :func:`assign_clusters` (J1 exact / J2
    hierarchical above the same threshold as build, same seed), so an
    added row lands in exactly the cluster a from-scratch build with
    these centroids would put it in — search pruning stays correct by
    construction, which ``ivf_add_search_fixed`` proves against a
    whole-table SQL oracle.

    At scale: the append is one shuffle of the NEW batch only
    (repartition on shard_id); the live table is never read or
    rewritten. Each micro-batch appends ~n_shards small files —
    :func:`compact_index` is the companion op that restores the
    as-built file layout. ``check_duplicate_ids`` adds an id-column
    anti-join against the existing table (column-pruned scan); at
    warehouse scale turn it off and enforce uniqueness upstream.

    Returns ``{n_added, n_vectors, files_after}``.
    """
    if index.centroids is None:
        raise ValueError(
            "add_vectors needs the centroid matrix; reload the index "
            "without lazy_centroids"
        )
    id_col, vec_col = index.id_col, index.vec_col
    # schema alignment first: the batch must carry exactly the
    # persisted payload columns (parquet append with a divergent
    # schema would silently fork the table schema)
    live_cols = [
        f.name
        for f in index.vectors(spark).schema.fields
        if f.name not in ("cluster_id", "shard_id")
    ]
    missing = set(live_cols) - set(df.columns)
    if missing:
        raise ValueError(f"batch is missing index columns: {sorted(missing)}")
    n_new = append_rows(
        spark,
        index,
        df.select(*live_cols),
        index.vectors_path,
        "meta.json",
        id_col=id_col,
        vec_col=vec_col,
        check_duplicate_ids=check_duplicate_ids,
        encode=lambda assigned: assigned,
    )
    return {
        "n_added": n_new,
        "n_vectors": index.n_vectors,
        "files_after": _parquet_file_count(index.vectors_path),
    }


def refresh_meta_count(spark: SparkSession, index: IvfIndex) -> dict:
    """Re-derive ``n_vectors`` from the live table and rewrite the meta
    sidecar. The streaming ingest sink (streaming/ingest.py) appends
    rows without touching meta — by design: a JSON rewrite per
    micro-batch from executor-adjacent code would race — so a
    long-running stream drifts the recorded count. Run this after the
    stream drains (or on any suspicion of drift: ``add_vectors``
    interrupted between write and meta update). Returns
    ``{n_vectors, drift}`` where drift = actual − previously recorded.
    """
    actual = spark.read.parquet(index.vectors_path).count()
    recorded = update_meta_count(index, "meta.json", lambda _: actual)
    return {"n_vectors": actual, "drift": actual - recorded}


def merge_indexes(
    spark: SparkSession, dst: IvfIndex, src: IvfIndex
) -> dict:
    """Absorb every vector of ``src`` into ``dst`` (Faiss
    ``merge_from``): reads ``src``'s payload rows (its cluster/shard
    labels are dropped — they are meaningless under ``dst``'s
    centroids) and routes them through :func:`add_vectors`, so all the
    batch guards (dup ids, dimension, schema) apply. ``src`` is left
    untouched; delete its directory when done with it. The id spaces
    must be disjoint — overlaps fail the duplicate-id check before
    anything is written. Returns the add stats."""
    if src.dimension != dst.dimension:
        raise ValueError(
            f"dimension mismatch: src {src.dimension} != dst {dst.dimension}"
        )
    rows = src.vectors(spark).drop("cluster_id", "shard_id")
    return add_vectors(spark, dst, rows)
