"""One fresh driver process of the benchmark: it starts a local[4] Spark
session through the engine's own entry points and runs one protocol.

    python3 perfbench/worker.py e2e   <corpus> <out_dir> <seconds>
    python3 perfbench/worker.py trace <corpus> <out_dir>

It prints one JSON object as the last line of stdout.  ``run.py`` starts
it, checks every output it writes against the oracle, and reports the
metrics; this file only drives the engine and times it.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

T_START = time.perf_counter()

CORES = 4


def start_session():
    """Fresh process → ready session: ``get_spark`` + ``ensure_workers``."""
    from pdf_extractor_spark.job.session import get_spark
    from pdf_extractor_spark.shipping import ensure_workers

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=CORES)
    t1 = time.perf_counter()
    ensure_workers(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "setup_s": t2 - T_START,
        "setup_cpu_s": tree_cpu_s(),
        "get_spark_s": t1 - t0,
        "ensure_workers_s": t2 - t1,
    }


def read_corpus(spark, corpus: str):
    from pdf_extractor_spark.queries.extraction import TRANSCRIPTS_SCHEMA

    # an explicit schema keeps the read from launching a footer-scan job
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(corpus)


def extract_to(transcripts, out: str) -> None:
    from pdf_extractor_spark.job.extract import run_extract

    run_extract(transcripts).write.parquet(out)


def proc_stat() -> dict[int, tuple[str, list[str]]]:
    """pid → (command name, the /proc/<pid>/stat fields after it), for
    every live process; a field list starts state, ppid, pgrp, session."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        cut = stat.rindex(")")
        table[int(name)] = (stat[stat.index("(") + 1:cut],
                            stat[cut + 2:].split())
    return table


def _tree_rss(root: int) -> list[int]:
    """Resident bytes of every descendant of ``root``: the driver JVM and
    the PySpark daemon and workers under it.  Of the JVM's children only
    the daemon (a Python process) is counted: any other is a fork about to
    exec a helper command, named after the JVM thread that forked it, and
    it shares the JVM's pages, so counting it would count them twice."""
    procs = proc_stat()
    children: dict[int, list[int]] = {}
    for pid, (_, fields) in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    rss, todo = [], [(pid, "") for pid in children.get(root, [])]
    while todo:
        pid, parent = todo.pop()
        comm, fields = procs[pid]
        if parent == "java" and not comm.startswith("python"):
            continue
        rss.append(int(fields[21]) * page)
        todo.extend((c, comm) for c in children.get(pid, []))
    return rss


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    driver JVM, the PySpark daemon and its workers), including those of
    descendants already reaped."""
    procs = proc_stat()
    children: dict[int, list[int]] = {}
    for pid, (_, fields) in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in procs[pid][1][11:15])
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the process tree's resident memory every 200 ms; keeps the
    peak total and the per-process split at that peak."""

    def __init__(self) -> None:
        self.peak = 0
        self.at_peak: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = _tree_rss(os.getpid())
        if sum(rss) > self.peak:
            self.peak = sum(rss)
            self.at_peak = sorted(rss, reverse=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.2)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _timed_op(fn) -> tuple[float, str | None]:
    t0 = time.perf_counter()
    try:
        fn()
    except Exception as e:  # a failed job is counted, not fatal
        return time.perf_counter() - t0, f"{type(e).__name__}: {e}"[:300]
    return time.perf_counter() - t0, None


def run_e2e(corpus: str, out_dir: str, seconds: float) -> dict:
    """Closed loop, one job at a time: a cold first job, then warm jobs
    until ``seconds`` have been measured (at least one)."""
    spark, setup = start_session()
    transcripts = read_corpus(spark, corpus)
    ops = []

    def op(name: str) -> None:
        out = os.path.join(out_dir, name)
        cpu = tree_cpu_s()
        wall, err = _timed_op(lambda: extract_to(transcripts, out))
        ops.append({"name": name, "out": out, "wall_s": wall, "error": err,
                    "cpu_s": tree_cpu_s() - cpu})

    with PeakRss() as rss:
        op("first")
        t0 = time.perf_counter()
        while len(ops) < 2 or time.perf_counter() - t0 < seconds:
            op(f"rep{len(ops)}")
    return {**setup, "ops": ops, "peak_rss_mb": rss.peak / 2**20,
            "rss_mb_at_peak": [round(b / 2**20) for b in rss.at_peak]}


class Tracer:
    """One span per call into a layer; each span runs its Spark jobs under
    a job group of the same name, so the event log attributes them."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "start": t0, "end": time.perf_counter()}
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def _edge_filter(block_size: int):
    """The edge predicate of ``job.extract._merge_block_edges``: spans
    whose open continuation flag touches a block boundary."""
    from pyspark.sql import functions as F

    b = F.lit(block_size)
    return (
        (F.col("head_cont_prev") & (F.col("turn_start") % b == 0))
        | (F.col("tail_cont_next") & ((F.col("turn_end") + 1) % b == 0))
    )


def run_trace(corpus: str, out_dir: str) -> dict:
    """Warm up, run the job once untraced, then once split into its layers
    (materializing between calls), then the resumable sink crashed after
    two batches and resumed."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.job import extract as X
    from pdf_extractor_spark.job import sink

    spark, setup = start_session()
    tr = Tracer(spark)
    transcripts = read_corpus(spark, corpus)
    ops = []

    def op(name: str, fn, out: str | None = None) -> None:
        with tr.span(name):
            wall, err = _timed_op(fn)
        ops.append({"name": name, "out": out, "wall_s": wall, "error": err})

    for name in ("warmup", "untraced"):
        out = os.path.join(out_dir, name)
        op(name, lambda out=out: extract_to(transcripts, out), out)

    B = X.DEFAULT_BLOCK_SIZE
    layered: dict = {}
    traced_out = os.path.join(out_dir, "traced")

    def layered_run() -> None:
        from pdf_extractor_spark.shipping import ensure_workers

        ensure_workers(spark)
        parsed = transcripts.select("conv_id", "turn_idx", "text") \
            .mapInPandas(X.parse_batches, X.PARSED_SCHEMA)
        with tr.span("extract.parse"):
            layered["parse"] = parsed.localCheckpoint(eager=True)
        with tr.span("extract.stitch"):
            layered["stitch"] = X._link_and_stitch_blocks(
                layered["parse"], B).localCheckpoint(eager=True)
        with tr.span("extract.edge_merge"):
            layered["edge_merge"] = X._merge_block_edges(
                layered["stitch"], B).localCheckpoint(eager=True)
        with tr.span("extract.resolve"):
            layered["resolve"] = X._resolve_references(
                layered["edge_merge"]).localCheckpoint(eager=True)
        with tr.span("extract.finalize"):
            X.sort_key_columns(X._finalize(layered["resolve"])) \
                .write.parquet(traced_out)

    t0 = time.perf_counter()
    wall, err = _timed_op(layered_run)
    ops.append({"name": "traced", "out": traced_out, "wall_s": wall,
                "error": err})
    traced = {"start": t0, "wall_s": wall}

    counts: dict = {}
    if err is None:
        with tr.span("count"):
            for layer, df in layered.items():
                counts[f"extract.{layer}.rows_out"] = df.count()
            counts["extract.finalize.rows_out"] = \
                spark.read.parquet(traced_out).count()
            counts["extract.parse.fragments_out"] = \
                counts["extract.parse.rows_out"]
            counts["extract.edge_merge.candidates"] = \
                layered["stitch"].filter(_edge_filter(B)).count()
            refs = layered["resolve"].filter(F.col("ref_id").isNotNull())
            counts["extract.resolve.referenced"] = refs.count()
            counts["extract.resolve.unresolved"] = refs.filter(
                F.col("resolved") == F.col("answer_latex")).count()

    sink_dir = os.path.join(out_dir, "sink")
    resumed: dict = {}

    def crash() -> None:
        try:
            sink.run_resumable(spark, transcripts, sink_dir,
                               fail_after_batches=2)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("fail_after_batches=2 did not fail")

    op("sink.stage", lambda: sink.stage_corpus(
        transcripts, sink_dir, sink.DEFAULT_N_BUCKETS))
    op("sink.batch", crash)
    op("sink.resume", lambda: resumed.update(
        sink.run_resumable(spark, transcripts, sink_dir)), sink_dir)
    counts["sink.resume.skipped_batches"] = resumed.get("skipped", -1)

    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log
    return {**setup, "ops": ops, "spans": tr.spans, "traced": traced,
            "counts": counts, "app_id": app_id}


def main(argv: list[str]) -> None:
    mode = argv[0]
    if mode == "e2e":
        result = run_e2e(argv[1], argv[2], float(argv[3]))
    elif mode == "trace":
        result = run_trace(argv[1], argv[2])
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    print(json.dumps(result), flush=True)
    # run.py kills the JVM and its Python workers once this process is
    # gone; stopping the session here would only add its teardown time
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1:])
