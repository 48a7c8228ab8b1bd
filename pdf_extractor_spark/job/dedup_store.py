"""Incremental dedup: check a new batch against a PERSISTED signature
store without ever re-shuffling the corpus.

The dedup *queries* (queries/dedup.py) are batch self-joins — right for
a one-shot corpus pass, wrong for the production cadence of a
training-data pipeline, where data arrives in batches and each batch
must be checked against everything already accepted.  Re-running the
self-join over corpus+batch re-reads and re-shuffles the full corpus
per batch — the read-amplification mistake the resumable sink already
closed, reappearing at the dedup layer.

The store persists two BUCKETED tables (Spark datasource bucketing —
the storage layout IS the hash partitioning):

- ``<name>_fp``    — (doc_id, fingerprint), bucketed by fingerprint:
  exact-dup membership;
- ``<name>_bands`` — (doc_id, band_no, band_hash) LSH band rows
  (identical band construction to the ``dedup_minhash_lsh`` query via
  the shared ``queries.dedup.band_rows``), bucketed by band_hash:
  near-dup candidates.

``check_batch`` joins the (small) batch against each table on the
bucket key.  Because the store's layout already satisfies the join's
required distribution, the corpus-sized side needs NO exchange — only
O(batch) rows move, at ANY store size (tests/test_dedup_store.py pins
the bucketed scan + single batch-side exchange).  ``add_batch`` appends
the batch's signatures through the same bucket spec, so the invariant
survives growth.  At 100 TB this is the difference between a nightly
dedup that shuffles 100 TB and one that shuffles the day's intake.

Store tables live in the session catalog over an explicit filesystem
path; ``open_store`` re-registers them from the path after a restart
(the catalog entry is metadata — the bucketed files are the store).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the pointer-file and commit-lock disciplines are shared with the upsert
# table (one protocol, one recovery contract: a crashed writer leaves a
# stale lock; upsert.force_unlock clears it after operator review)
from pdf_extractor_spark.job.upsert import (
    _acquire_lock,
    _commit_pointer,
    _read_pointer,
    _release_lock,
)
from pdf_extractor_spark.queries.dedup import band_rows

N_STORE_BUCKETS = 16           # default bucket count for NEW stores
TARGET_FILE_BYTES = 256 << 20  # compaction's per-file size target


_FP_SCHEMA = "doc_id BIGINT, fingerprint STRING"
_BANDS_SCHEMA = "doc_id BIGINT, band_no INT, band_hash STRING"


def _fp_table(name: str) -> str:
    return f"{name}_fp"


def _bands_table(name: str) -> str:
    return f"{name}_bands"


def _subdirs(gen: int) -> tuple[str, str]:
    """(fp, bands) physical subdir names of compaction generation ``gen``."""
    return f"fp-g{gen}", f"bands-g{gen}"


def _fingerprints(docs: DataFrame) -> DataFrame:
    # NULL text is fingerprinted as the empty string: md5(NULL) is NULL,
    # and an equi-join never matches NULL keys — a NULL-text doc would
    # otherwise be reported clean forever no matter how many NULL-text
    # docs the store holds.  Coalescing merges the NULL and empty-text
    # dup groups (both are content-free; both also produce zero band
    # rows, so the near path treats them identically).
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fingerprint"),
    )


def _n_buckets(store_dir: str) -> int:
    """The bucket count this store's files were WRITTEN with — a store
    CREATION property persisted in ``_N_BUCKETS`` (like ``_GEN``), read
    by every writer/reader so the physical layout and the catalog DDL
    can never disagree.  ``create_store`` writes the marker LAST, so a
    missing marker means no committed store lives here (a wrong path or
    a crash mid-create): refuse rather than guess a count."""
    n = _read_pointer(store_dir, "_N_BUCKETS")
    if n is None:
        raise ValueError(
            f"no committed dedup store at {store_dir} (no _N_BUCKETS "
            "marker); create it with create_store"
        )
    return n


def create_store(store_dir: str, name: str, docs: DataFrame,
                 n_buckets: int = N_STORE_BUCKETS) -> None:
    """Create the store from an initial corpus (may be empty).

    ``n_buckets`` is a store-CREATION parameter, persisted in
    ``_N_BUCKETS`` and honored by every later writer/reader — size it to
    the expected store volume (the bucket count caps both compaction's
    write parallelism and the minimum file count a scan must open).

    Marker order is the creation commit protocol: data dirs first, then
    ``_GEN``, then ``_N_BUCKETS`` LAST — callers (cmd_curate) treat
    ``_N_BUCKETS`` as "store exists", so a crash mid-create leaves no
    marker and the store is simply re-created."""
    fp_dir, bands_dir = _subdirs(0)
    fp = _fingerprints(docs)
    (
        fp.write.format("parquet").mode("overwrite")
        .bucketBy(n_buckets, "fingerprint")
        .sortBy("fingerprint")
        .option("path", os.path.join(store_dir, fp_dir))
        .saveAsTable(_fp_table(name))
    )
    # bands only for one representative per distinct text: copies share
    # every band with their rep, so storing them would only multiply
    # candidate pairs (same rep-filter as the dedup_minhash_lsh query)
    reps = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    rep_docs = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    ).join(reps, "doc_id", "semi")
    (
        band_rows(rep_docs).write.format("parquet").mode("overwrite")
        .bucketBy(n_buckets, "band_hash")
        .sortBy("band_hash")
        .option("path", os.path.join(store_dir, bands_dir))
        .saveAsTable(_bands_table(name))
    )
    _commit_pointer(store_dir, 0, "_GEN")
    _commit_pointer(store_dir, n_buckets, "_N_BUCKETS")


def open_store(spark: SparkSession, store_dir: str, name: str) -> None:
    """Re-register the store's tables from their files after a restart —
    the bucketed files are the store; the catalog entry is metadata.

    The bucket count the files were WRITTEN with is persisted
    (``_N_BUCKETS``) and drives the DDL: bucket ids are baked into file
    names, so re-registering 16-bucket files as a 32-bucket table would
    make the bucketed join probe the wrong partition and silently report
    real duplicates as clean — registering with the store's own persisted
    count makes that mismatch unconstructible."""
    stored = _n_buckets(store_dir)
    fp_dir, bands_dir = _subdirs(_read_pointer(store_dir, "_GEN"))
    for table, schema, sub, key in (
        (_fp_table(name), _FP_SCHEMA, fp_dir, "fingerprint"),
        (_bands_table(name), _BANDS_SCHEMA, bands_dir, "band_hash"),
    ):
        ddl = (
            f"CREATE TABLE IF NOT EXISTS {table} ({schema}) "
            f"USING PARQUET CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {stored} BUCKETS "
            f"LOCATION '{os.path.join(store_dir, sub)}'"
        )
        spark.sql(ddl)
        # IF NOT EXISTS silently keeps a previously-registered table: in
        # a long-lived session, open_store(dirA, name) followed by
        # open_store(dirB, name) would leave the catalog pointing at
        # dirA and every check_batch would consult the WRONG store —
        # real duplicates reported clean forever.  Verify the entry
        # actually resolves to THIS store's files.  A stale pointer
        # WITHIN this store (an old compaction generation — e.g. a crash
        # between the _GEN swap and re-registration) is healed by
        # re-registering at the committed generation instead.
        registered = _table_location(spark, table)
        expected = os.path.realpath(os.path.join(store_dir, sub))
        if registered != expected:
            if registered is not None and registered.startswith(
                os.path.realpath(store_dir) + os.sep
            ):
                spark.sql(f"DROP TABLE {table}")
                spark.sql(ddl)
            else:
                raise ValueError(
                    f"catalog table {table} points at {registered}, not "
                    f"{expected}; a store with this name is already open "
                    "on a different path — use a distinct store name or "
                    "DROP the stale table first"
                )


def _table_location(spark: SparkSession, table: str) -> str | None:
    """Filesystem path the catalog entry resolves to (realpath, scheme
    stripped), or None if unlisted."""
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if r.col_name.strip() == "Location":
            loc = r.data_type.strip()
            if loc.startswith("file:"):
                loc = loc[len("file:"):]
            return os.path.realpath(loc)
    return None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fname in files:
            try:
                total += os.path.getsize(os.path.join(root, fname))
            except OSError:
                pass
    return total


def compact_store(spark: SparkSession, store_dir: str, name: str,
                  target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """Rewrite both tables into a fresh generation of SIZE-BOUNDED files.

    ``add_batch`` appends one file per touched bucket per batch, so a
    store ingesting B batches accumulates O(B × buckets) files; the
    bucketed-join invariant survives, but every future scan pays
    file-open overhead proportional to the store's entire ingest
    HISTORY, not its size.  Compaction reads each table once and
    repartitions on the bucket key into ``n_buckets × m`` partitions,
    where ``m = ceil(table_bytes / (n_buckets · target_file_bytes))`` —
    Spark's repartition hash (pmod(murmur3, n·m)) REFINES the bucket-id
    formula (pmod(murmur3, n)): every row in repartition-partition ``p``
    has bucket id ``p mod n``, so each task still holds keys of exactly
    ONE bucket and the bucketed write lands exactly one file per task =
    ``m`` files per bucket, each ~``target_file_bytes``.  One file per
    bucket (the round-3 shape) meant a multi-TB store compacted into
    16 multi-TB files with a 16-way read cap; the size bound keeps file
    granularity — and thus scan/AQE parallelism — proportional to store
    SIZE while the bucket count stays the creation-time constant the
    join layout requires.  The new files go to generation ``g+1`` dirs;
    commit is an atomic swap of the ``_GEN`` pointer (the upsert
    snapshot discipline), re-registers the catalog entries, and deletes
    the old generation.  A crash before the swap leaves the live store
    untouched (the new dirs are uncommitted garbage, cleared by the next
    compact); a crash after the swap is healed by ``open_store``, which
    re-points intra-store stale catalog entries at the committed
    generation, and any generation dirs a post-commit crash left behind
    are swept by the NEXT compact.  Returns the new generation.

    Holds the store commit lock for the whole read→write→swap→sweep
    span: a concurrent ``add_batch`` would otherwise append its
    signature files into the generation being superseded — the commit
    would not include them and the sweep would DELETE them, silently
    admitting every future copy of those texts as clean."""
    import shutil

    lock = _acquire_lock(store_dir)
    try:
        n_buckets = _n_buckets(store_dir)
        new_gen = _read_pointer(store_dir, "_GEN") + 1
        old_fp, old_bands = _subdirs(new_gen - 1)
        keep = new_fp, new_bands = _subdirs(new_gen)
        specs = (
            (_fp_table(name), _FP_SCHEMA, old_fp, new_fp, "fingerprint"),
            (_bands_table(name), _BANDS_SCHEMA, old_bands, new_bands,
             "band_hash"),
        )
        for table, schema, old_sub, sub, key in specs:
            tmp_table = f"{table}__compact"
            spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
            target = os.path.join(store_dir, sub)
            if os.path.exists(target):          # crashed earlier attempt
                shutil.rmtree(target)
            # read the PHYSICAL files, not the catalog table: the bucketed
            # scan advertises HashPartitioning so Catalyst elides the
            # repartition, but an auto-disabled bucketed scan actually
            # reads file-per-split — the write then lands one file per
            # (task, bucket) and the fragmentation survives compaction.
            # A plain path read has no claimed partitioning, so the
            # repartition stands and each task holds exactly its one
            # bucket.  Explicit schema keeps an empty store compactable.
            src_dir = os.path.join(store_dir, old_sub)
            src = spark.read.schema(schema).parquet(src_dir)
            # m output files per bucket, sized to the source bytes (the
            # compacted files are ~the same bytes re-encoded)
            m = max(
                1, -(-_dir_bytes(src_dir) // (n_buckets * target_file_bytes))
            )
            (
                src.repartition(n_buckets * m, F.col(key))
                .write.format("parquet").mode("overwrite")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", target)
                .saveAsTable(tmp_table)
            )
            spark.sql(f"DROP TABLE {tmp_table}")   # external — files stay
        _commit_pointer(store_dir, new_gen, "_GEN")   # COMMIT POINT
        for table, *_ in specs:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        open_store(spark, store_dir, name)
        # sweep EVERY superseded data dir, not just this run's source: a
        # crash after a previous commit but before its cleanup leaves
        # that generation's dirs (corpus-sized signature copies) leaked
        # forever otherwise
        for d in os.listdir(store_dir):
            if d not in keep and d.startswith(("fp-g", "bands-g")):
                shutil.rmtree(os.path.join(store_dir, d),
                              ignore_errors=True)
        return new_gen
    finally:
        _release_lock(*lock)


def check_batch(spark: SparkSession, name: str,
                batch: DataFrame) -> dict[str, DataFrame]:
    """Check a (doc_id, text) batch against the store AND against itself.

    Returns ``{"exact": (doc_id, dup_of), "near": (doc_id, near_of)}`` —
    exact matches pair each batch doc with the smallest doc sharing its
    fingerprint (store doc or earlier batch doc); near candidates pair
    batch docs with store/batch docs sharing an LSH band (excluding docs
    that already matched exactly, and excluding identity when
    re-checking ingested docs).  The INTRA-batch check matters: the
    store knows nothing about texts arriving twice within one batch, and
    a check→add flow without it would admit both copies forever.  The
    intra joins are batch×batch (small); the store side of the
    cross joins reads its bucketed layout, so the corpus-sized table is
    never exchanged."""
    fp = _fingerprints(batch).localCheckpoint(eager=False)
    store_fp = spark.table(_fp_table(name))
    cross_exact = (
        fp.alias("b")
        .join(store_fp.alias("s"),
              F.col("b.fingerprint") == F.col("s.fingerprint"))
        .filter(F.col("b.doc_id") != F.col("s.doc_id"))
        .select(F.col("b.doc_id").alias("doc_id"),
                F.col("s.doc_id").alias("dup_of"))
    )
    # intra-batch exact: every copy points at the batch's smallest doc
    # with the same text (O(k) rows per dup group, same rep shape as the
    # dedup queries)
    batch_reps = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("rep_id")
    )
    intra_exact = (
        fp.join(batch_reps, "fingerprint")
        .filter(F.col("doc_id") > F.col("rep_id"))
        .select("doc_id", F.col("rep_id").alias("dup_of"))
    )
    exact = (
        cross_exact.unionByName(intra_exact)
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
    )

    batch_bands = band_rows(
        batch.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
    ).localCheckpoint(eager=False)
    store_bands = spark.table(_bands_table(name))
    cross_near = (
        batch_bands.alias("b")
        .join(
            store_bands.alias("s"),
            (F.col("b.band_hash") == F.col("s.band_hash"))
            & (F.col("b.band_no") == F.col("s.band_no"))
            & (F.col("b.doc_id") != F.col("s.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("s.doc_id").alias("near_of"),
        )
    )
    # intra-batch near: later doc flagged against the earlier one
    intra_near = (
        batch_bands.alias("b1")
        .join(
            batch_bands.alias("b2"),
            (F.col("b1.band_hash") == F.col("b2.band_hash"))
            & (F.col("b1.band_no") == F.col("b2.band_no"))
            & (F.col("b1.doc_id") > F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_id"),
            F.col("b2.doc_id").alias("near_of"),
        )
    )
    near = (
        cross_near.unionByName(intra_near)
        .distinct()
        .join(exact.select("doc_id"), "doc_id", "anti")
    )
    return {"exact": exact, "near": near}


def dedup_flags(spark: SparkSession, name: str,
                batch: DataFrame) -> DataFrame:
    """``check_batch`` as one verdict per flagged doc: (doc_id, verdict,
    matched) with verdict ``exact_dup`` (matched = ``dup_of``) or
    ``near_dup`` (matched = the smallest ``near_of``).  Docs that are
    neither have no row."""
    got = check_batch(spark, name, batch)
    exact = got["exact"].select(
        "doc_id",
        F.lit("exact_dup").alias("verdict"),
        F.col("dup_of").alias("matched"),
    )
    near = (
        got["near"]
        .groupBy("doc_id")
        .agg(F.min("near_of").alias("matched"))
        .select("doc_id", F.lit("near_dup").alias("verdict"), "matched")
    )
    return exact.unionByName(near)


def add_batch(spark: SparkSession, name: str, batch: DataFrame) -> None:
    """Ingest a batch: append its fingerprints, and band rows for docs
    whose text is NEW to the store (reps of unseen fingerprints).
    Appends go through the same bucket spec, so the no-shuffle check
    invariant survives store growth.

    Holds the store commit lock for the anti-join→append span so an
    append can never interleave with a compaction (see compact_store —
    an append into the generation being superseded would be deleted by
    the sweep)."""
    store_dir = _store_dir_of(spark, name)
    lock = _acquire_lock(store_dir)
    try:
        _add_batch_locked(spark, name, batch, _n_buckets(store_dir))
    finally:
        _release_lock(*lock)


def _store_dir_of(spark: SparkSession, name: str) -> str:
    """The store root (parent of the generation data dir) the catalog
    entry resolves to — the lock must live at the store root so every
    writer (add_batch here, compact_store via its explicit store_dir)
    contends on the SAME file."""
    loc = _table_location(spark, _fp_table(name))
    if loc is None:
        raise ValueError(f"store table {_fp_table(name)} is not open")
    return os.path.dirname(loc)


def _add_batch_locked(spark: SparkSession, name: str,
                      batch: DataFrame, n_buckets: int) -> None:
    fp = _fingerprints(batch)
    store_fp = spark.table(_fp_table(name))
    new_fp = fp.join(store_fp, "fingerprint", "anti")
    new_reps = new_fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    rep_docs = batch.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    ).join(new_reps, "doc_id", "semi")
    # materialize both BEFORE either append: each derives from an
    # anti-join against the store tables being written
    new_bands = band_rows(rep_docs).localCheckpoint(eager=True)
    new_fp = new_fp.select("doc_id", "fingerprint") \
        .localCheckpoint(eager=True)
    # bands append FIRST: new_fp is the retry guard (a fingerprint
    # already in the store anti-joins the doc away), so a crash between
    # the two appends must leave the fingerprints missing, not the
    # bands — then a retry recomputes and re-appends BOTH.  The reverse
    # order would make the retry a no-op with the bands permanently
    # missing: every future near-copy of those texts would be admitted
    # as clean.  A retry after a bands-committed crash appends duplicate
    # band rows, which only produce duplicate candidate pairs that
    # check_batch's distinct() absorbs — benign, vs. silent blindness.
    (
        new_bands.write.format("parquet").mode("append")
        .bucketBy(n_buckets, "band_hash")
        .sortBy("band_hash")
        .saveAsTable(_bands_table(name))
    )
    (
        new_fp.write.format("parquet").mode("append")
        .bucketBy(n_buckets, "fingerprint")
        .sortBy("fingerprint")
        .saveAsTable(_fp_table(name))
    )
