"""Persisted IVF index: build once, search many, extend without refit.

The ``ann_ivf`` query demonstrates the IVF *plan* (fitted coarse
quantizer, top-``n_probe`` cell search) but re-assigns the whole corpus
on every call — right for a self-contained benchmark query, wrong for a
production deployment, where the index build is paid ONCE and each
search should touch only the probed fraction of the *storage*, not just
of the shuffle.  This module persists the index in the layout that makes
that true at 100 TB:

- ``<index>/centroids/``  — the K fitted centroids (tiny, one file);
- ``<index>/cells/cell_id=<c>/`` — every vector, partitioned by its
  nearest-centroid cell.  A search enumerates its probe cells (a
  driver-side list of ``n_queries × n_probe`` ints), and the cell scan's
  PartitionFilters prune to those directories — at K=1024 cells and
  n_probe=8, a query reads <1% of the corpus FILES.  The benchmark
  query's shape only reduced the shuffle; this reduces the scan.

``add_vectors`` assigns new vectors with the STORED centroids and
appends their cell partitions — the standard IVF maintenance path (new
data lands in existing cells; refit is an offline rebuild, not a
serving-path operation).

Rebuild atomicity: centroids and cells must always come from the SAME
fit — cells partitioned by a new assignment paired with old centroids
makes search probe the wrong directories and silently lose neighbors.
A (re)build therefore writes everything under a fresh ``gen-<n>/`` dir
and commits with an atomic ``_GEN`` pointer swap (the dedup-store /
upsert snapshot discipline); a crash mid-rebuild leaves the live
generation untouched.  ``build_index``/``add_vectors`` take the store
commit lock so a rebuild and an append cannot interleave (an append
landing in a generation that the rebuild is about to supersede would be
silently lost).  ``search`` is lock-free; a search racing an offline
rebuild may fail on the swept old generation and should be retried —
never silently wrong.

Fit, assignment and probe reuse the expressions of
``queries/similarity.py``, and ``search`` ends in the same
``_probed_top_k`` step (join, self-drop, cosine, per-query top-k) as the
``ann_ivf`` query, so a search over a freshly built index is
row-identical to ``ann_ivf`` on the same corpus by construction
(tests/test_ivf_index.py pins that, plus the partition-pruned plan).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the pointer-file and commit-lock disciplines are shared with the other
# persisted stores — one protocol, one set of failure modes
from pdf_extractor_spark.job.upsert import (
    _acquire_lock,
    _commit_pointer,
    _read_pointer,
    _release_lock,
)
from pdf_extractor_spark.queries.base import load
from pdf_extractor_spark.queries.similarity import (
    _N_PROBE,
    _TOP_K,
    _assign_cells,
    _fitted_centroids,
    _probe_cells,
    _probed_top_k,
)


def _gen_root(index_dir: str) -> str:
    """Directory of the COMMITTED generation."""
    gen = _read_pointer(index_dir, "_GEN")
    if gen is None:
        raise ValueError(
            f"no built IVF index at {index_dir} (no _GEN pointer); "
            "run build_index first"
        )
    return os.path.join(index_dir, f"gen-{gen}")


def _cells_dir(index_dir: str) -> str:
    return os.path.join(_gen_root(index_dir), "cells")


def _cells_reader_at(spark: SparkSession, root: str):
    """Reader for a generation root's cell layout with the PERSISTED
    schema: a zero-row corpus writes only ``_SUCCESS`` under cells/, and
    a schema-inferring read of that raises UNABLE_TO_INFER_SCHEMA — an
    empty index must return empty search results, not abort (same
    totality rule as sink.batch_input)."""
    reader = spark.read
    path = os.path.join(root, "_CELLS_SCHEMA.json")
    if os.path.exists(path):
        with open(path) as f:
            reader = reader.schema(StructType.fromJson(json.load(f)))
    return reader


def build_index(spark: SparkSession, sf_dir: str, index_dir: str) -> int:
    """Fit the coarse quantizer on ``sf_dir``'s embeddings and persist
    centroids + cell-partitioned vectors into a fresh generation,
    committed by an atomic ``_GEN`` pointer swap.  Returns the vector
    count.  Safe to call on a live index (rebuild): a crash anywhere
    before the swap leaves the committed generation untouched; the swap
    is the single commit point after which searches see the new fit."""
    import shutil

    os.makedirs(index_dir, exist_ok=True)
    lock = _acquire_lock(index_dir)
    try:
        old_gen = _read_pointer(index_dir, "_GEN")
        new_gen = 0 if old_gen is None else old_gen + 1
        root = os.path.join(index_dir, f"gen-{new_gen}")
        if os.path.exists(root):            # crashed earlier attempt
            shutil.rmtree(root)
        os.makedirs(root)

        cents = _fitted_centroids(spark, sf_dir)
        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        # an empty corpus fits zero centroids; the assignment expression
        # needs ≥1 centroid to build, so stamp the (zero) rows directly —
        # the layout stays valid and search returns empty
        if not cents:
            assigned = e.withColumn("cell_id", F.lit(0).cast("bigint"))
        else:
            assigned = _assign_cells(e, cents, "embedding")
        # materialize once: the count rides the same job as the write
        # input instead of a full re-read of the just-written cell files
        # (the add_vectors pattern) — at index scale that second scan is
        # the whole corpus again
        assigned = assigned.localCheckpoint(eager=True)
        n = assigned.count()
        (
            assigned.write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(os.path.join(root, "cells"))
        )
        with open(os.path.join(root, "_CELLS_SCHEMA.json"), "w") as f:
            json.dump(json.loads(assigned.schema.json()), f)
        (
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(cents)],
                "cell_id int, centroid array<double>",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(root, "centroids"))
        )
        _commit_pointer(index_dir, new_gen, "_GEN")    # COMMIT POINT
        for d in os.listdir(index_dir):
            if d.startswith("gen-") and d != f"gen-{new_gen}":
                shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
        return n
    finally:
        _release_lock(*lock)


def load_centroids(spark: SparkSession, index_dir: str) -> list[list[float]]:
    return _load_centroids_at(spark, _gen_root(index_dir))


def _load_centroids_at(spark: SparkSession, root: str) -> list[list[float]]:
    rows = spark.read.parquet(os.path.join(root, "centroids")).collect()
    return [
        [float(x) for x in r.centroid]
        for r in sorted(rows, key=lambda r: r.cell_id)
    ]


def add_vectors(spark: SparkSession, index_dir: str,
                vectors: DataFrame) -> int:
    """Assign ``vectors`` (vec_id, embedding) with the STORED centroids
    and append them to their cell partitions — no refit, no rewrite of
    existing cells.  Returns the number of vectors added.  Takes the
    commit lock so an append cannot interleave with a rebuild (the
    append would land in a generation about to be swept)."""
    lock = _acquire_lock(index_dir)
    try:
        cents = load_centroids(spark, index_dir)
        if not cents:
            # an index built from an empty corpus has no quantizer; the
            # assignment expression over zero centroids is an analysis
            # error (array<void> matrix) — fail with the actual contract
            raise ValueError(
                f"index at {index_dir} has no fitted centroids (built "
                "from an empty corpus); rebuild with build_index once "
                "data exists"
            )
        # materialize once: count() would otherwise run the full scan +
        # k×dim assignment job and the write would recompute it from
        # scratch
        assigned = _assign_cells(
            vectors.select("vec_id", "embedding"), cents, "embedding"
        ).localCheckpoint(eager=True)
        n = assigned.count()
        (
            assigned.write.mode("append")
            .partitionBy("cell_id")
            .parquet(_cells_dir(index_dir))
        )
        return n
    finally:
        _release_lock(*lock)


def search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    top_k: int = _TOP_K,
    n_probe: int = _N_PROBE,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-``top_k`` neighbors per query row (q_id, q_emb) from the
    persisted index.  The probe-cell set is collected to the driver (a
    ``n_queries × n_probe`` int list) and pushed into the cell scan as a
    LITERAL partition predicate, so the read prunes to the probed
    directories — the scan-level saving the persisted layout exists for.

    ``exclude_self`` drops candidates whose ``vec_id`` equals the query's
    ``q_id``.  It is OFF by default: query ids and index ids are
    independent namespaces in this API, and a caller numbering its
    queries 0..N would otherwise silently lose stored vector ``vec_id=k``
    — possibly the true nearest neighbor — from query ``k``'s results.
    Pass ``True`` only when the queries ARE corpus rows (the ann_ivf
    query's convention, where self is a degenerate score-1.0 match).
    """
    # Resolve the committed generation ONCE and read centroids, schema,
    # and cells from that pinned root: re-resolving _GEN per artifact
    # would let a concurrent build_index commit between the reads and
    # pair gen-N centroids with gen-N+1 cells — probe cells computed
    # from the old fit filtering the new fit's partitions silently loses
    # neighbors.  With the pinned root, a rebuild that sweeps it mid-
    # search fails LOUDLY (missing path, retryable) — the documented
    # "may fail, never silently wrong" contract.
    root = _gen_root(index_dir)
    cents = _load_centroids_at(spark, root)
    if not cents:
        # empty index (zero-row build): no cells to probe — empty result
        # with the search schema, not an analysis error
        return (
            queries.select("q_id").limit(0)
            .withColumn("rank", F.lit(0))
            .withColumn("n_id", F.lit(0).cast("bigint"))
            .withColumn("score", F.lit(0.0))
            .withColumn("cell_id", F.lit(0).cast("bigint"))
        )
    # pin ONE probe assignment: the collect below and the join both
    # consume probes — without the checkpoint a non-deterministic
    # queries source could be re-assigned on the join side to a cell the
    # collected literal filter already pruned away (silent lost
    # candidates), and even a deterministic source pays the k×dim
    # scoring pass twice
    probes = _probe_cells(queries, "q_emb", cents, n_probe) \
        .localCheckpoint(eager=False)
    probe_cells = sorted(
        r.cell_id for r in probes.select("cell_id").distinct().collect()
    )
    cells = _cells_reader_at(spark, root) \
        .parquet(os.path.join(root, "cells")).filter(
            F.col("cell_id").isin(probe_cells)
        ).select(
            "cell_id",
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_emb"),
        )
    return _probed_top_k(probes, cells, top_k, exclude_self)
