"""Corpus curation: the end-to-end filtering job the training-data
operators exist for.

One pass routes every incoming document to accepted/rejected with a
recorded reason — the composition a 100 TB pretraining intake actually
runs, assembled from the already-proven pieces:

1. **Quality + language gate** — the NARROW stage: per-row expressions
   (the same ``quality_cols``/``langid_cols`` the hash-checked
   ``quality_score``/``lang_id`` queries select from) computed in one
   projection, no shuffle.  Cheap filters run first so the expensive
   dedup only sees survivors.
2. **Dedup gate** — ``check_batch`` against the persisted bucketed
   store (exact + LSH near, intra-batch included); the corpus-sized
   store side never shuffles.
3. **Route + ingest** — accepted docs are appended to the store (so
   the next curation run dedups against them) and written to
   ``accepted/``; every doc's (verdict, reason, matched) goes to
   ``decisions/``; a one-row audit summary (counts + accepted BPE
   token total — the number a training run budgets against) goes to
   ``audit/``.

Rejection reasons are checked in gate order (low_quality → wrong_lang →
exact_dup → near_dup): a short non-English duplicate reports
``low_quality``, matching how production pipelines attribute loss.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.core.bpe import load_merges
from pdf_extractor_spark.job.dedup_store import add_batch, dedup_flags
from pdf_extractor_spark.queries.textops import (
    CURATE_MIN_QUALITY,
    bpe_token_udf,
    langid_cols,
    quality_cols,
)
from pdf_extractor_spark.shipping import ensure_workers

# shared with the hash-gated curation_route query so the job and its
# declarative mirror can never drift on the threshold
DEFAULT_MIN_QUALITY = CURATE_MIN_QUALITY


def curate(
    spark: SparkSession,
    docs: DataFrame,
    store_name: str,
    out_dir: str,
    min_quality: float = DEFAULT_MIN_QUALITY,
    lang: str = "en",
    run_id: str | None = None,
) -> dict:
    """Route ``docs`` (doc_id, text) through the gates; returns the
    audit summary as a dict.

    ``run_id`` namespaces the published outputs under
    ``<out_dir>/runs/<run_id>/`` so repeated intakes accumulate instead
    of clobbering: with the default (None) the outputs live directly in
    ``out_dir`` and a re-run OVERWRITES the previous run's accepted/
    decisions/audit — single-shot semantics.  The store ingest is
    cumulative either way (day 2 still dedups against day 1); only the
    published files need the namespace."""
    if run_id is not None:
        out_dir = os.path.join(out_dir, "runs", run_id)
    q = quality_cols()
    lid = langid_cols()
    # the audit's token budget is the REAL learned-merges BPE count
    # (core/bpe.py): downstream mixture/packing decisions spend against
    # it, and the regex proxy diverges on exactly the text quality gates
    # select for.  Arrow-batched scalar UDF in the same narrow
    # projection; merges ride in the closure (~5 KB).
    ensure_workers(spark)
    n_bpe = bpe_token_udf(load_merges())
    gated = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "text",
        q["quality_score"].alias("quality_score"),
        lid["pred_lang"].alias("pred_lang"),
        n_bpe("text").alias("bpe_tokens"),
    ).localCheckpoint(eager=False)

    survivors = gated.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("pred_lang") == lang)
    )
    dedup = dedup_flags(spark, store_name,
                        survivors.select("doc_id", "text"))

    decisions = (
        gated.join(dedup, "doc_id", "left")
        .select(
            "doc_id",
            "quality_score",
            "pred_lang",
            "bpe_tokens",
            F.when(F.col("quality_score") < min_quality, "low_quality")
            .when(F.col("pred_lang") != lang, "wrong_lang")
            .when(F.col("verdict").isNotNull(), F.col("verdict"))
            .otherwise("accepted")
            .alias("reason"),
            "matched",
        )
        .localCheckpoint(eager=True)
    )

    accepted_ids = decisions.filter(F.col("reason") == "accepted") \
        .select("doc_id")
    # materialize once: both the store ingest and the publish consume
    # this frame, and its lineage re-scans + re-semi-joins the raw input
    # corpus — the dominant I/O of the whole step — if left lazy
    accepted = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    ).join(accepted_ids, "doc_id", "semi").localCheckpoint(eager=True)
    # ingest first (idempotent on replay), then publish
    add_batch(spark, store_name, accepted)
    accepted.write.mode("overwrite").parquet(
        os.path.join(out_dir, "accepted")
    )
    decisions.write.mode("overwrite").parquet(
        os.path.join(out_dir, "decisions")
    )

    audit = (
        decisions.groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens"),
        )
        .orderBy("reason")
    )
    audit.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "audit")
    )
    rows = {r.reason: (r.n_docs, r.bpe_tokens) for r in audit.collect()}
    n_in = sum(n for n, _ in rows.values())
    n_acc, tok_acc = rows.get("accepted", (0, 0))
    return {
        "n_input": n_in,
        "n_accepted": n_acc,
        "accepted_bpe_tokens": tok_acc,
        "by_reason": {k: v[0] for k, v in rows.items()},
    }
