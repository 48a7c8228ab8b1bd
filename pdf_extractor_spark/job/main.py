"""spark-submit entry point.

Cluster usage (north_rule packaging):

    python -c "from pdf_extractor_spark.shipping import package_zip; \\
               print(package_zip())"   # → /tmp/pdf_extractor_spark_pyfiles.zip
    spark-submit --py-files /tmp/pdf_extractor_spark_pyfiles.zip \\
        pdf_extractor_spark/job/main.py extract \\
        --input  <transcripts parquet/iceberg path> \\
        --output <output dir> [--resume] [--buckets 256] [--batches 16]

Local smoke:

    python -m pdf_extractor_spark.job.main extract \\
        --generate 50 --output /tmp/extract_out

Subcommands: ``extract`` (flagship resumable pipeline), ``audit`` (print
the lineage table of a previous run), ``errors`` (first N failing spans),
``curate`` (quality/lang/dedup intake over a documents table, cumulative
across runs via the persisted dedup store), ``bench-corpus``
(materialize a deterministic synthetic corpus to parquet).

Replaces the reference's Typer CLI (/root/reference/src/cli.py:12-289)
with the flag-driven, prompt-free shape a cluster job needs (SURVEY.md
§7.5: interactive stdin prompts are hostile to spark-submit).
"""

from __future__ import annotations

import argparse
import sys
import time


def _spark(cores: str | None):
    from pdf_extractor_spark.job.session import get_spark

    return get_spark(app_name="pdf-extractor-spark", cores=cores)


def cmd_extract(args: argparse.Namespace) -> int:
    spark = _spark(args.cores)
    if args.generate:
        from pdf_extractor_spark.queries.extraction import transcripts_df

        transcripts = transcripts_df(spark, n_convs=args.generate)
    else:
        if not args.input:
            print("error: --input or --generate required", file=sys.stderr)
            return 2
        transcripts = spark.read.parquet(args.input)

    from pdf_extractor_spark.job.sink import run_resumable

    t0 = time.time()
    summary = run_resumable(
        spark,
        transcripts,
        args.output,
        n_buckets=args.buckets,
        n_batches=args.batches,
    )
    wall = time.time() - t0
    n = transcripts.count()
    print(
        f"extract: {summary} turns={n} wall={wall:.1f}s "
        f"tps={n / wall:.1f}"
    )
    return 0 if summary["complete"] else 1


def cmd_audit(args: argparse.Namespace) -> int:
    spark = _spark(args.cores)
    from pdf_extractor_spark.job.sink import read_audit

    read_audit(spark, args.output).orderBy("bucket").show(
        args.limit, truncate=False
    )
    return 0


def cmd_errors(args: argparse.Namespace) -> int:
    """O5 error-display limit (≙ reference cli.py:119-123 'Show first 5'):
    evaluate a previous run's output and print the first N failing spans
    in deterministic (conv_id, span_id) order."""
    spark = _spark(args.cores)
    from pdf_extractor_spark.job.evaluate import evaluate_spans
    from pdf_extractor_spark.job.sink import read_output

    qa = evaluate_spans(read_output(spark, args.output))
    failing = (
        qa.filter(~qa.overall_passed)
        .orderBy("conv_id", "span_id")
        .select("qa_id", "latex_well_formed", "answer_preserved",
                "review_priority")
        .limit(args.limit)
    )
    rows = failing.collect()
    if not rows:
        print("no failing spans")
        return 0
    print(f"first {len(rows)} failing spans:")
    for r in rows:
        print(f"  {r.qa_id}: well_formed={r.latex_well_formed} "
              f"preserved={r.answer_preserved} priority={r.review_priority}")
    return 1


def cmd_curate(args: argparse.Namespace) -> int:
    """Corpus curation intake: quality/lang gates + cumulative dedup
    against a persisted store.  First run creates the store; later runs
    re-open it, so every invocation dedups against everything accepted
    before — the cron-shaped intake a pretraining corpus actually runs."""
    import os

    spark = _spark(args.cores)
    from pdf_extractor_spark.job.curate import curate
    from pdf_extractor_spark.job.dedup_store import (
        create_store,
        open_store,
    )

    if os.path.exists(os.path.join(args.store, "_N_BUCKETS")):
        open_store(spark, args.store, args.store_name)
    else:
        create_store(
            args.store, args.store_name,
            spark.createDataFrame([], "doc_id bigint, text string"),
            n_buckets=args.store_buckets,
        )
    docs = spark.read.parquet(args.input).select("doc_id", "text")
    summary = curate(
        spark, docs, args.store_name, args.output,
        min_quality=args.min_quality, lang=args.lang,
        run_id=args.run_id,
    )
    print(
        f"curate: {summary['n_accepted']}/{summary['n_input']} accepted, "
        f"{summary['accepted_bpe_tokens']} BPE-ish tokens; "
        f"by_reason={summary['by_reason']}"
    )
    return 0


def cmd_compact_store(args: argparse.Namespace) -> int:
    """Offline store maintenance: collapse the append-per-batch file
    growth to size-bounded files per bucket (generation-swap commit)."""
    spark = _spark(args.cores)
    from pdf_extractor_spark.job.dedup_store import (
        compact_store,
        open_store,
    )

    open_store(spark, args.store, args.store_name)
    gen = compact_store(spark, args.store, args.store_name,
                        target_file_bytes=args.target_file_mb << 20)
    print(f"compact-store: {args.store} now at generation {gen}")
    return 0


def cmd_bench_corpus(args: argparse.Namespace) -> int:
    spark = _spark(args.cores)
    from pdf_extractor_spark.gen.transcripts import generate_transcripts
    from pdf_extractor_spark.queries.extraction import TRANSCRIPTS_SCHEMA

    pdf = generate_transcripts(
        n_convs=args.convs, seed=args.seed, skew_conv_turns=args.skew
    )
    (
        spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
        .repartition(args.partitions)
        .write.mode("overwrite")
        .parquet(args.output)
    )
    print(f"bench-corpus: {len(pdf)} turns → {args.output}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pdf-extractor-spark")
    p.add_argument("--cores", default=None,
                   help="local[N] parallelism (default $SPARK_GRAFT_CPUS)")
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("extract", help="run the resumable pipeline")
    pe.add_argument("--input", help="transcripts parquet path")
    pe.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic conversations instead")
    pe.add_argument("--output", required=True)
    from pdf_extractor_spark.job.sink import (
        DEFAULT_N_BATCHES,
        DEFAULT_N_BUCKETS,
    )

    pe.add_argument("--buckets", type=int, default=DEFAULT_N_BUCKETS)
    pe.add_argument("--batches", type=int, default=DEFAULT_N_BATCHES)
    pe.set_defaults(fn=cmd_extract)

    pa = sub.add_parser("audit", help="show lineage table of a run")
    pa.add_argument("--output", required=True)
    pa.add_argument("--limit", type=int, default=50)
    pa.set_defaults(fn=cmd_audit)

    pr = sub.add_parser("errors", help="show first N failing spans of a run")
    pr.add_argument("--output", required=True)
    pr.add_argument("--limit", type=int, default=5)
    pr.set_defaults(fn=cmd_errors)

    pc = sub.add_parser(
        "curate", help="quality/lang/dedup intake over a documents table"
    )
    pc.add_argument("--input", required=True,
                    help="documents parquet path (doc_id, text)")
    pc.add_argument("--store-buckets", type=int, default=16,
                    help="bucket count when CREATING the store (a store "
                         "creation property, persisted in _N_BUCKETS; "
                         "ignored when the store already exists)")
    pc.add_argument("--store", required=True,
                    help="dedup store dir (created on first run)")
    pc.add_argument("--store-name", default="curate_store",
                    help="catalog name for the store tables")
    pc.add_argument("--output", required=True)
    # the shared constant, NOT a literal: a third independent 0.5 here
    # would let CLI-launched curation drift from the library default and
    # the hash-gated curation_route query if the threshold is ever tuned
    from pdf_extractor_spark.job.curate import DEFAULT_MIN_QUALITY

    pc.add_argument("--min-quality", type=float,
                    default=DEFAULT_MIN_QUALITY)
    pc.add_argument("--lang", default="en")
    pc.add_argument("--run-id", default=None,
                    help="namespace published outputs under runs/<id>/ "
                         "so repeated intakes accumulate (default: "
                         "overwrite in place — single-shot semantics)")
    pc.set_defaults(fn=cmd_curate)

    pk = sub.add_parser(
        "compact-store",
        help="rewrite the dedup store to one file per bucket",
    )
    pk.add_argument("--store", required=True)
    pk.add_argument("--target-file-mb", type=int, default=256,
                    help="compaction per-file size target")
    pk.add_argument("--store-name", default="curate_store")
    pk.set_defaults(fn=cmd_compact_store)

    pb = sub.add_parser("bench-corpus", help="materialize synthetic corpus")
    pb.add_argument("--convs", type=int, default=1500)
    pb.add_argument("--skew", type=int, default=4000)
    pb.add_argument("--seed", type=int, default=42)
    pb.add_argument("--partitions", type=int, default=64)
    pb.add_argument("--output", required=True)
    pb.set_defaults(fn=cmd_bench_corpus)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
