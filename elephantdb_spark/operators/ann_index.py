"""IVF ANN index persisted as a versioned domain (VERDICT r3 item 3).

`ivf_topk`/`ivf_knn_join` retrain the coarse quantizer per call — right
for one-shot queries, wrong for a serving surface. This module composes
E2 similarity search with the engine's own versioned-store machinery
(A17 commit protocol, A18 version resolution, A24 hot-swap semantics —
reference: elephantdb-core/src/jvm/elephantdb/store/VersionedStore.java:
21-146, DomainStore.java:16-54): train once, persist the quantizer plus
the cell-assigned vectors as an immutable published version, then serve
probes as partition-pruned reads.

Layout (the KV domain layout with cell standing in for shard):

    <root>/domain-spec.json          num_shards = n_cells; opts carry
                                     id/vec column names + train params
    <root>/<version>/_centroids.json the trained quantizer (n_cells x dim)
    <root>/<version>/shard=<cell>/   id-sorted Parquet of the cell's vectors
    <root>/<version>.version         publish token (atomic visibility)

Because the partition column is literally ``shard``, the store's
copy-forward (`synchronize_versions`, DomainStore.java:156-180) works
unchanged: an incremental re-index that touches few cells can copy the
rest forward. A probe resolves the current version via the token (readers
never see a half-built index — the same hot-swap guarantee the KV path
has), computes its n_probe nearest cells driver-side from the tiny
centroid file, and reads ONLY those ``shard=<cell>`` directories:
Catalyst partition pruning turns the probe into an
O(n_probe/n_cells · N) scan, no training, no full pass.

At 100 TB: cells play the role shards play for the KV engine — size
n_cells so a cell is a few hundred MB (n_cells ≈ corpus_bytes / 512 MB),
train on the bounded sample (never the corpus), and the probe cost is
n_probe cell files regardless of corpus size.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephantdb_spark.build import _rewrite_shards, _write_shards
from elephantdb_spark.operators.ann import (
    _probe_cells_udf,
    add_ivf_cell,
    brute_force_topk,
    score_probes_against_cells,
    train_ivf_centroids,
    train_ivf_centroids_hierarchical,
)

#: At/above this cell count build_ivf_index trains with the two-level
#: (hierarchical) k-means instead of flat Lloyd's.
HIERARCHICAL_CELLS_MIN = 2048
from elephantdb_spark.spec import DomainSpec
from elephantdb_spark.store import DomainStore, shard_dirname

#: Scheme tag marking an index domain's placement as IVF-cell (not
#: md5-mod): spec round-trip validation (A30) rejects opening an index
#: domain as a KV domain with a mismatched spec, same as any other domain.
IVF_CELL_SCHEME = "ivf-cell"

CENTROIDS_FILENAME = "_centroids.json"


def build_ivf_index(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    n_cells: int = 16,
    version: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int | None = None,
    centroids: np.ndarray | None = None,
) -> int:
    """Train (or accept) IVF centroids and publish centroids + cell-assigned
    vectors as a new immutable version of the index domain at ``root``.
    Returns the published version id.

    One shuffle (the cell exchange with exact 1:1 cell→partition
    placement), one sort, one partitioned write — the KV build shape
    (SURVEY §3.2) with cell as the shard key.
    """
    # validate before any disk mutation: a column typo must not persist a
    # poisoned spec that blocks the corrected retry (spec equality, A30)
    missing = [c for c in (id_col, vec_col) if c not in df.columns]
    if missing:
        raise ValueError(f"columns {missing} not in frame: {df.columns}")
    spec = DomainSpec(
        num_shards=n_cells,
        shard_scheme=IVF_CELL_SCHEME,
        persistence_opts={
            "index_kind": "ivf",
            "id_col": id_col,
            "vec_col": vec_col,
            "seed": seed,
        },
    )
    store = DomainStore.create_or_open(root, spec)
    with store.publishing(version) as (version, vpath):
        if centroids is None:
            # flat Lloyd's is O(sample·n_cells·dim)/iter — fine to a few
            # thousand cells; production counts (100 TB → ~200k cells)
            # switch to the two-level trainer, O(sample·sqrt(n_cells)·dim)
            if n_cells >= HIERARCHICAL_CELLS_MIN:
                centroids = train_ivf_centroids_hierarchical(
                    df, n_cells, vec_col, id_col, sample_size=sample_size, seed=seed
                )
            else:
                centroids = train_ivf_centroids(
                    df, n_cells, vec_col, id_col,
                    sample_size=sample_size or 10_000, seed=seed,
                )
        assigned = add_ivf_cell(df, centroids, vec_col, out_col="shard").select(
            id_col, vec_col, "shard"
        )
        # no writer options: the spec's opts are index params, and index
        # domains keep Spark's default row groups
        _write_shards(spark, assigned, store.spec, id_col, vpath, {})
        with open(os.path.join(vpath, CENTROIDS_FILENAME), "w") as fh:
            json.dump([[float(x) for x in c] for c in centroids], fh)
    return version


def update_ivf_index(
    spark: SparkSession,
    new_df: DataFrame,
    root: str,
    version: int | None = None,
) -> int:
    """Incremental re-index (the A20 update path applied to the ANN index):
    assign the new vectors to the EXISTING quantizer's cells, merge only
    the touched cells (a new vector wins per id — LWW, the KV update
    rule), and file-copy every untouched cell forward
    (``synchronize_versions``, DomainStore.java:156-180). Publishes a new
    version under the same token rule, so probes hot-swap atomically and
    a pinned probe of the previous version keeps serving unchanged.

    The quantizer is deliberately NOT retrained: cell assignments of
    existing vectors stay valid, which is what makes the update
    batch-sized instead of corpus-sized. Centroid drift from many updates
    degrades recall gradually — run :func:`build_ivf_index` for a
    periodic full re-train, exactly as a KV domain reshard is the
    periodic heavy-weight companion of incremental updates.

    Scale shape: the batch is assigned cells via the broadcast centroid
    matmul; touched-cell discovery additionally costs ONE column-pruned
    (id, shard) scan of the index against the broadcast batch ids — the
    price of exact LWW without an id→cell sidecar (a re-ingested vector
    can have MOVED cells, and its old cell must rewrite to evict the
    stale copy). The merge itself stays batch-shaped: old data is
    partition-pruned to the touched cells and anti-joined on the cached
    batch's ids (``build._rewrite_shards``, which the planner broadcasts
    from the measured batch size), and the write re-uses the exact 1:1
    cell→partition placement, emitting files only for touched cells.
    """
    store = DomainStore.open(root)
    prev = store.most_recent_version()
    if prev is None:
        raise RuntimeError(f"index domain at {root} has no published version")
    centroids, vectors, spec, _ = load_ivf_index(spark, root, prev)
    id_col = spec.persistence_opts["id_col"]
    vec_col = spec.persistence_opts["vec_col"]
    missing = [c for c in (id_col, vec_col) if c not in new_df.columns]
    if missing:
        raise ValueError(f"columns {missing} not in frame: {new_df.columns}")
    # The documented invariant is one row per id after the merge ("new
    # vector wins per id — LWW"); the anti-join below only evicts
    # PRIOR-version copies, so an intra-batch duplicate id would write
    # both rows. A batch carries no order to break the tie with, so
    # reject it eagerly (bounded: limit(1) on the duplicate-id agg).
    dup = (
        new_df.groupBy(id_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"update batch has duplicate id {dup[0][id_col]!r}: collapse "
            f"the batch to one row per {id_col} before update_ivf_index "
            "(a batch carries no write order, so LWW cannot break the tie)"
        )
    with store.publishing(version) as (version, vpath):
        assigned = add_ivf_cell(
            new_df.select(id_col, vec_col), centroids, vec_col, out_col="shard"
        ).cache()
        try:
            new_cells = {
                r["shard"] for r in assigned.select("shard").distinct().collect()
            }
            # cells where a batch id CURRENTLY lives must also rewrite: a
            # re-ingested vector whose new embedding moves it to a
            # different cell would otherwise leave a stale duplicate in
            # its (untouched, copy-forwarded) old cell. One column-pruned
            # scan of (id, shard) against the broadcast batch ids.
            old_cells = {
                r["shard"]
                for r in vectors.select(id_col, "shard")
                .join(F.broadcast(assigned.select(id_col)), id_col)
                .select("shard")
                .distinct()
                .collect()
            }
            touched = sorted(new_cells | old_cells)
            _rewrite_shards(
                spark, store, store.version_path(prev), touched, vpath, {},
                batch=assigned,
            )
            # a touched cell that ended up EMPTY (its only vectors moved
            # elsewhere) gets no shard dir from the write — materialize
            # an empty one so synchronize_versions does not copy the old
            # cell (with its evicted vectors) back in
            for cell in touched:
                os.makedirs(
                    os.path.join(vpath, shard_dirname(cell)), exist_ok=True
                )
        finally:
            assigned.unpersist()
        with open(os.path.join(vpath, CENTROIDS_FILENAME), "w") as fh:
            json.dump([[float(x) for x in c] for c in centroids], fh)
        store.synchronize_versions(prev, version)
    return version


def load_ivf_index(
    spark: SparkSession, root: str, version: int | None = None
) -> tuple[np.ndarray, DataFrame, DomainSpec, int]:
    """Resolve a published index version (most recent unless pinned) and
    return (centroids, cell-partitioned vector frame, spec, version). The
    frame's ``shard`` column is the cell id, read from the partition
    directory names — no recomputation."""
    store = DomainStore.open(root)
    if version is None:
        version = store.most_recent_version()
        if version is None:
            raise RuntimeError(f"index domain at {root} has no published version")
    elif not store.has_version(version):
        raise RuntimeError(f"index version {version} not published at {root}")
    vpath = store.version_path(version)
    with open(os.path.join(vpath, CENTROIDS_FILENAME)) as fh:
        centroids = np.array(json.load(fh), dtype=np.float64)
    vectors = (
        spark.read.option("basePath", vpath)
        .parquet(vpath)
        .withColumn("shard", F.col("shard").cast("int"))
    )
    return centroids, vectors, store.spec, version


def ivf_index_probe(
    spark: SparkSession,
    root: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    version: int | None = None,
) -> DataFrame:
    """Serve one top-k query from a persisted index: nearest-cell selection
    happens driver-side on the centroid file, and the scan is pruned to the
    ``n_probe`` chosen ``shard=<cell>`` directories (assert `Location`/
    partition filters in the plan — the probe never reads other cells).
    ``n_probe == n_cells`` is exact brute force (the q77 oracle anchor)."""
    centroids, vectors, spec, _ = load_ivf_index(spark, root, version)
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in np.argsort(d2, kind="stable")[:n_probe]]
    candidates = vectors.filter(F.col("shard").isin(probe))
    return brute_force_topk(
        candidates,
        query_vec,
        k,
        spec.persistence_opts["id_col"],
        spec.persistence_opts["vec_col"],
    )


def ivf_index_knn_join(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    version: int | None = None,
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    scorer: str = "arrow",
    prune_cells: bool = True,
) -> DataFrame:
    """Batch kNN against a persisted index: each query row is scored only
    inside its ``n_probe`` nearest cells. The data side comes straight off
    the index's partition layout (cells were assigned at build time — the
    join reuses them instead of re-running the quantizer over the corpus);
    only the probe side computes cells, via the centroid file.

    ``prune_cells`` (default on): collect the UNION of probed cells (one
    small job over the query batch; result bounded by n_cells) and filter
    the index scan to those ``shard=<cell>`` partitions — Catalyst
    partition pruning then skips every untouched cell's files, exactly as
    the single-query probe does. At 100 TB the index is the big side; a
    query batch that probes 40 of 200k cells must not scan the other
    199,960. Turn off only when the batch is known to touch ~all cells
    (the extra probe-side job then buys nothing)."""
    centroids, vectors, spec, _ = load_ivf_index(spark, root, version)
    id_col = query_id_col or spec.persistence_opts["id_col"]
    vec_col = query_vec_col or spec.persistence_opts["vec_col"]
    data = vectors.select(
        F.col(spec.persistence_opts["id_col"]).alias("b"),
        F.col(spec.persistence_opts["vec_col"]).alias("vb"),
        F.col("shard").alias("cell"),
    )
    probes = (
        queries.withColumn(
            "__cells", _probe_cells_udf(centroids, n_probe)(F.col(vec_col))
        )
        .select(
            F.col(id_col).alias("a"),
            F.col(vec_col).alias("va"),
            F.explode("__cells").alias("cell"),
        )
    )
    if prune_cells:
        touched = sorted(
            r["cell"] for r in probes.select("cell").distinct().collect()
        )
        data = data.filter(F.col("cell").isin(touched))
    return score_probes_against_cells(
        probes, data, k, dict(queries.dtypes)[id_col], scorer
    )
