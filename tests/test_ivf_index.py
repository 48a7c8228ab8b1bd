"""Persisted IVF index: equality with the ann_ivf query, scan-level
partition pruning, and refit-free incremental adds."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_extractor_spark.job.ivf_index import (
    add_vectors,
    build_index,
    load_centroids,
    search,
)
from pdf_extractor_spark.queries.base import load
from pdf_extractor_spark.queries.similarity import (
    _N_QUERIES,
    _ann_ivf,
    _fitted_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


def _queries_df(spark):
    return (
        load(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_emb"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_search_matches_ann_ivf_query(spark, tmp_path):
    """A fresh index over the same corpus must return row-identical
    results to the self-contained ann_ivf query (same fit, same probes,
    same scoring expressions)."""
    idx = str(tmp_path / "ivf")
    n = build_index(spark, SF_DIR, idx)
    assert n == load(spark, SF_DIR, "embeddings").count()

    # the queries here ARE corpus rows (ann_ivf's convention), so self
    # is a degenerate score-1.0 match and must be excluded to compare
    got = search(spark, idx, _queries_df(spark), exclude_self=True)
    want = _ann_ivf(spark, SF_DIR)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)

    # persisted centroids round-trip exactly (parquet doubles are the
    # same IEEE values the fit produced — assignment stays bit-identical)
    assert load_centroids(spark, idx) == _fitted_centroids(spark, SF_DIR)


def test_search_scan_is_partition_pruned(spark, tmp_path):
    """The probed cells reach the cell scan as PartitionFilters: a
    search reads only its probe directories, not the whole index — the
    scan-level saving that distinguishes the persisted index from the
    query-shape (which re-scans the corpus to assign cells)."""
    idx = str(tmp_path / "ivf")
    build_index(spark, SF_DIR, idx)
    result = search(spark, idx, _queries_df(spark), exclude_self=True)
    plan = result._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell_id" in ln for ln in pf_lines), plan


def test_add_vectors_without_refit(spark, tmp_path):
    """New vectors are assigned with the stored centroids and appended
    to their cells; a subsequent search finds an appended near-duplicate
    at rank 1 without any refit or rewrite of existing partitions."""
    idx = str(tmp_path / "ivf")
    build_index(spark, SF_DIR, idx)
    cents_before = load_centroids(spark, idx)

    # near-duplicates of the query vectors (cosine-invariant jitter)
    e = load(spark, SF_DIR, "embeddings")
    dups = e.filter(F.col("vec_id") < _N_QUERIES).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
        ).alias("embedding"),
    )
    n_added = add_vectors(spark, idx, dups)
    assert n_added == _N_QUERIES
    assert load_centroids(spark, idx) == cents_before, "no refit"

    hits = search(
        spark, idx, _queries_df(spark), exclude_self=True
    ).filter(F.col("rank") == 1)
    top1 = {r.q_id: r.n_id for r in hits.collect()}
    # every query's rank-1 neighbor is now its jittered copy
    assert top1 == {q: q + 1_000_000 for q in range(_N_QUERIES)}


def test_search_default_keeps_same_id(spark, tmp_path):
    """Query ids and index ids are independent namespaces: by default a
    query whose q_id collides with a stored vec_id must still see that
    vector — here q_id=k IS vector k, so its rank-1 hit is itself at
    score 1.0 (the self-exclusion is opt-in for corpus-derived queries)."""
    idx = str(tmp_path / "ivf")
    build_index(spark, SF_DIR, idx)
    hits = search(spark, idx, _queries_df(spark)).filter(
        F.col("rank") == 1
    )
    top1 = {r.q_id: (r.n_id, r.score) for r in hits.collect()}
    assert top1 == {q: (q, 1.0) for q in range(_N_QUERIES)}


def test_empty_index_searches_total(spark, tmp_path):
    """A zero-row corpus writes only _SUCCESS under cells/; search must
    return an empty frame (persisted schema), not UNABLE_TO_INFER_SCHEMA."""
    import pyspark.sql.functions as SF

    idx = str(tmp_path / "ivf-empty")
    empty_sf = str(tmp_path / "sf-empty")
    os.makedirs(empty_sf)
    (
        load(spark, SF_DIR, "embeddings")
        .filter(SF.lit(False))
        .write.parquet(os.path.join(empty_sf, "embeddings.parquet"))
    )
    n = build_index(spark, empty_sf, idx)
    assert n == 0
    assert search(spark, idx, _queries_df(spark)).count() == 0


def test_index_layout_is_cell_partitioned(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    build_index(spark, SF_DIR, idx)
    from pdf_extractor_spark.job.ivf_index import _cells_dir

    cell_dirs = [
        d for d in os.listdir(_cells_dir(idx))
        if d.startswith("cell_id=")
    ]
    assert len(cell_dirs) > 1, "vectors must spread across cell dirs"


def test_rebuild_commits_atomically_and_sweeps(spark, tmp_path):
    """A rebuild writes a fresh generation and swaps the _GEN pointer;
    the superseded generation is swept, and search keeps answering
    identically (centroids and cells always come from ONE fit)."""
    from pdf_extractor_spark.job.ivf_index import _gen_root

    idx = str(tmp_path / "ivf")
    build_index(spark, SF_DIR, idx)
    g0 = _gen_root(idx)
    before = {
        (r.q_id, r.rank, r.n_id)
        for r in search(spark, idx, _queries_df(spark)).collect()
    }
    build_index(spark, SF_DIR, idx)          # offline rebuild
    g1 = _gen_root(idx)
    assert g1 != g0 and not os.path.exists(g0)
    after = {
        (r.q_id, r.rank, r.n_id)
        for r in search(spark, idx, _queries_df(spark)).collect()
    }
    assert after == before


def test_add_vectors_on_empty_index_fails_clearly(spark, tmp_path):
    """An index built from an empty corpus has no quantizer: add_vectors
    must raise the contract error, not an analysis exception about a
    VOID-typed centroid matrix."""
    import pyspark.sql.functions as SF
    import pytest

    from pdf_extractor_spark.job.ivf_index import add_vectors

    idx = str(tmp_path / "ivf-empty")
    empty_sf = str(tmp_path / "sf-empty")
    os.makedirs(empty_sf)
    (
        load(spark, SF_DIR, "embeddings")
        .filter(SF.lit(False))
        .write.parquet(os.path.join(empty_sf, "embeddings.parquet"))
    )
    build_index(spark, empty_sf, idx)
    vecs = load(spark, SF_DIR, "embeddings").limit(3) \
        .select("vec_id", "embedding")
    with pytest.raises(ValueError, match="no fitted centroids"):
        add_vectors(spark, idx, vecs)


def test_search_on_unbuilt_index_fails_clearly(spark, tmp_path):
    """No committed _GEN pointer means no index: refuse with the contract
    error instead of reading a guessed layout."""
    import pytest

    with pytest.raises(ValueError, match="no built IVF index"):
        search(spark, str(tmp_path / "never-built"), _queries_df(spark))


def test_search_pins_one_generation(spark, tmp_path, monkeypatch):
    """search() must resolve the committed _GEN pointer exactly ONCE and
    read centroids, schema, and cells from that pinned root — resolving
    per-artifact would let a concurrent build_index commit between the
    reads and pair gen-N centroids with gen-N+1 cells (probe cells from
    the old fit filtering the new fit's partitions: silently lost
    neighbors).  Pin the mechanism: one _gen_root resolution per search."""
    from pdf_extractor_spark.job import ivf_index as mod

    idx = str(tmp_path / "ivf")
    build_index(spark, SF_DIR, idx)

    calls = []
    real = mod._gen_root

    def counting(index_dir):
        calls.append(index_dir)
        return real(index_dir)

    monkeypatch.setattr(mod, "_gen_root", counting)
    got = search(spark, idx, _queries_df(spark), exclude_self=True)
    assert _rows(got) == _rows(_ann_ivf(spark, SF_DIR))
    assert len(calls) == 1, (
        f"search resolved _GEN {len(calls)} times; a rebuild committing "
        "between resolutions would mix generations"
    )
