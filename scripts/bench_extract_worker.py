"""Subprocess worker: run the extraction job at a given parallelism.

Usage: python scripts/bench_extract_worker.py <cores> <corpus_parquet_dir>

Prints one JSON line {"cores": N, "turns": N, "wall_s": S, "tps": T}.
Run in its own process so each measurement gets a fresh JVM at exactly
`local[cores]` — the sandbox stand-in for the N vs 4N executor criterion.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extractor_spark.job.extract import run_extract
from pdf_extractor_spark.job.session import get_spark


def main() -> None:
    cores = int(sys.argv[1])
    corpus = sys.argv[2]
    spark = get_spark(
        f"bench-extract-{cores}", cores=cores, shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")

    transcripts = spark.read.parquet(corpus)
    n_turns = transcripts.count()

    # warm-up pass on a slice: JVM codegen, python worker pool, and Arrow
    # init are one-time costs a long-lived cluster job amortizes away —
    # steady-state throughput is the metric
    warm_dir = tempfile.mkdtemp(prefix=f"bench_warm_{cores}_")
    run_extract(
        transcripts.filter("conv_id like '%0'")
    ).write.mode("overwrite").parquet(warm_dir)

    try:
        os.sync()  # warm-up just wrote parquet; don't time its writeback
    except OSError:
        pass
    out_dir = tempfile.mkdtemp(prefix=f"bench_extract_{cores}_")
    t0 = time.time()
    run_extract(transcripts).write.mode("overwrite").parquet(out_dir)
    wall = time.time() - t0

    print(json.dumps({
        "cores": cores,
        "turns": n_turns,
        "wall_s": round(wall, 3),
        "tps": round(n_turns / wall, 1),
    }))
    spark.stop()
    # untimed cleanup: leftover outputs otherwise accumulate dirty pages
    # and disk across reps, taxing the NEXT measurement
    import shutil

    for d in (warm_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
