"""Benchmark of the extraction engine: one workload per call.

    python3 perfbench/run.py --workload mixed_convs --seed 1 --seconds 5 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the separate traced protocol and prints the
per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; per-run detail goes to
``.perfbench/runs/`` and every finished call appends its record to
``.perfbench/results.jsonl``.  The exit code is non-zero when any output
disagrees with the oracle or any job fails.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zlib
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4

SPARK_LAYERS = (
    "extract.parse", "extract.stitch", "extract.edge_merge",
    "extract.resolve", "extract.finalize",
    "sink.stage", "sink.batch", "sink.resume",
)
# job groups of the traced run that are not layers of the job under test
AUX_GROUPS = ("warmup", "untraced", "count")
LAYER_STATS = {
    "wall_s": "s", "cpu_s": "s", "tasks": "count", "busy_share": "ratio",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "rows_out": "rows",
}
MB = 2**20


def fail_usage(msg: str) -> "None":
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------------
# inputs: generated from the seed, cached with their oracle expectations
# --------------------------------------------------------------------------

def load_inputs(workload: str, seed: int) -> dict:
    """Corpus parquet + oracle expectations for (workload, seed, size),
    built once and cached under .perfbench/cache/."""
    import pandas as pd

    import workloads as W
    from pdf_extractor_spark.core.oracle import OUTPUT_COLUMNS, extract_table

    key = f"{workload}-{W.size_key(workload)}-s{seed}"
    cache = os.path.join(WORK, "cache", key)
    meta_path = os.path.join(cache, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{cache}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        df = W.generate(workload, seed)
        W.write_parquet(df, os.path.join(tmp, "corpus"))
        sample = W.oracle_sample(df)
        expect = pd.DataFrame(
            extract_table(df[df["conv_id"].isin(sample)].to_dict("records")),
            columns=OUTPUT_COLUMNS,
        )
        expect.to_parquet(os.path.join(tmp, "expect.parquet"), index=False)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({
                "turns": len(df), "convs": int(df["conv_id"].nunique()),
                "checksum": W.checksum(df), "sample": sample,
                "buckets": sorted({zlib.crc32(c.encode()) % 32
                                   for c in df["conv_id"].unique()}),
            }, f)
        shutil.rmtree(cache, ignore_errors=True)
        os.replace(tmp, cache)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["corpus"] = os.path.join(cache, "corpus")
    expect = pd.read_parquet(os.path.join(cache, "expect.parquet"))
    meta["expect"] = canonical(expect.itertuples(index=False, name=None))
    return meta


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------

def canonical(rows) -> list[tuple]:
    """Rows in ORDER BY conv_id, turn_idx, span_id (then the rest)."""
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((v is None, str(v)) for v in r),
    )


def read_spans(path: str):
    import pyarrow.dataset as ds

    from pdf_extractor_spark.core.oracle import OUTPUT_COLUMNS

    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=OUTPUT_COLUMNS)


def rowset_digest(table) -> str:
    rows = canonical(zip(*(table.column(c).to_pylist()
                           for c in table.column_names)))
    return hashlib.sha256(repr(rows).encode("utf-8")).hexdigest()


def check_output(path: str, inputs: dict) -> dict:
    """Per-turn equality of the oracle sample, plus the output's row
    count and row-set digest for cross-run comparison."""
    import pyarrow as pa
    import pyarrow.compute as pc

    table = read_spans(path)
    got = table.filter(pc.is_in(table["conv_id"],
                                value_set=pa.array(inputs["sample"])))
    got_rows = canonical(zip(*(got.column(c).to_pylist()
                               for c in got.column_names)))
    return {"oracle_ok": got_rows == inputs["expect"],
            "rows": table.num_rows, "digest": rowset_digest(table)}


def check_sink(sink_dir: str, inputs: dict, reference_digest: str) -> dict:
    """The resumed sink output equals the uninterrupted job's output, and
    every bucket that holds input rows has exactly one audit row."""
    import pyarrow.dataset as ds

    table = read_spans(os.path.join(sink_dir, "data"))
    audit = ds.dataset(os.path.join(sink_dir, "audit"), format="parquet",
                       partitioning="hive").to_table(columns=["bucket"])
    per_bucket = Counter(audit.column("bucket").to_pylist())
    batches = ds.dataset(os.path.join(sink_dir, "data"), format="parquet",
                         partitioning="hive").to_table(columns=["batch"])
    return {
        "digest_ok": rowset_digest(table) == reference_digest,
        "audit_ok": sorted(per_bucket) == inputs["buckets"]
        and set(per_bucket.values()) == {1},
        "complete": os.path.exists(os.path.join(sink_dir, "_COMPLETE")),
        "rows_per_batch": Counter(batches.column("batch").to_pylist()),
    }


# --------------------------------------------------------------------------
# child processes
# --------------------------------------------------------------------------

def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    process orphaned by its parent's exit (the JVM once its worker has
    exited, the PySpark daemon once the JVM is killed) is re-parented to
    this process instead of to init, so it can be waited for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _end_session(sid: int) -> None:
    """Kill every process of a worker's session, and every process that
    was re-parented to this one, then reap each until none is left.  The
    JVM and the PySpark daemon (which moves itself and its workers into a
    process group of its own) outlive the worker process; they hold
    nothing the benchmark still needs.  The worker itself must have been
    waited for already, so its exit status is not reaped here."""
    from worker import proc_stat

    me = os.getpid()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        live = [pid for pid, (_, f) in proc_stat().items()
                if f[0] != "Z" and (int(f[3]) == sid or int(f[1]) == me)]
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child left, live or ended
            if not live:
                return
        time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} did not end")


def child_env(tmp: str, trace_dir: str | None) -> dict:
    env = dict(os.environ)
    jtmp = os.path.join(tmp, "jvm")
    os.makedirs(jtmp, exist_ok=True)
    confs = ["--conf spark.ui.showConsoleProgress=false",
             f"--driver-java-options '-Djava.io.tmpdir={jtmp} "
             "-XX:-UsePerfData'"]
    if trace_dir:
        confs += ["--conf spark.eventLog.enabled=true",
                  "--conf spark.eventLog.compress=false",
                  "--conf spark.eventLog.rolling.enabled=false",
                  f"--conf spark.eventLog.dir=file://{trace_dir}"]
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(confs) + " pyspark-shell",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_DRIVER_MEM": "2g",
        "TMPDIR": jtmp,
    })
    return env


def run_child(args: list[str], tmp: str, log: str, timeout: float,
              trace_dir: str | None = None) -> dict | None:
    """Run worker.py in its own session; return its JSON result or None."""
    t0 = time.perf_counter()
    with open(log, "ab") as err, \
            open(os.path.join(tmp, "worker.out"), "w+b") as out:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            cwd=tmp, env=child_env(tmp, trace_dir), stdout=out,
            stderr=err, start_new_session=True,
        )
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            proc.kill()
            proc.wait()
            _end_session(proc.pid)
        out.seek(0)
        lines = out.read().decode("utf-8", "replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return {**json.loads(lines[-1]), "child_wall_s": time.perf_counter() - t0}


# --------------------------------------------------------------------------
# measurement window
# --------------------------------------------------------------------------

# Each control process waits for one byte on stdin, so all of them start
# the fixed work together, then prints how long its share took.
_CPU_CONTROL = (
    "import hashlib, sys, time\n"
    "sys.stdin.buffer.read(1)\n"
    "buf = b'Z' * 2**20\n"
    "t0 = time.perf_counter()\n"
    "for _ in range(150):\n"
    "    hashlib.md5(buf).digest()\n"
    "print(time.perf_counter() - t0)\n"
)


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def window_record() -> dict:
    """Load average plus a short fixed-work CPU control on every core, so
    a loaded window can be told apart when two sets of runs disagree.
    The control is the wall of the slowest of CORES processes."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    procs = [subprocess.Popen([sys.executable, "-c", _CPU_CONTROL],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE)
             for _ in range(CORES)]
    walls = []
    try:
        for p in procs:
            p.stdin.write(b"g")
            p.stdin.close()
        for p in procs:
            walls.append(float(p.stdout.read()))
    finally:
        for p in procs:
            p.kill()
            p.wait()
            p.stdout.close()
    return {"loadavg": load, "cpu_control_s": round(max(walls), 4)}


# --------------------------------------------------------------------------
# protocols
# --------------------------------------------------------------------------

def run_e2e(inputs: dict, tmp: str, seconds: int, log: str) -> dict:
    """One fresh driver process: set-up, a cold job, then warm jobs.  Only
    one set-up per call: each is a fresh JVM (7-14 s), and a second one
    would not fit the run budget."""
    out_dir = os.path.join(tmp, "out")
    main = run_child(["e2e", inputs["corpus"], out_dir, str(seconds)],
                     tmp, log, 130)
    if main is None:
        return {"error": "worker failed"}

    failed, digests = 0, set()
    for op in main["ops"]:
        if op["error"] is None:
            op["check"] = check_output(op["out"], inputs)
            digests.add(op["check"]["digest"])
            shutil.rmtree(op["out"], ignore_errors=True)
        failed += op["error"] is not None or not op["check"]["oracle_ok"]
    # every job reads the same input, so every output must be identical
    failed += len(digests) > 1
    timed = [op["wall_s"] for op in main["ops"][1:]]
    metrics = {
        "setup_s": (main["setup_s"], "s"),
        "peak_rss_mb": (main["peak_rss_mb"], "MB"),
    }
    # Job walls swing 1.5-2x within minutes on a shared host, beyond any
    # regression bound, so they are recorded but are not bounded metrics;
    # the traced run reports them as per-layer metrics.
    fields = {
        "first_run_s": main["ops"][0]["wall_s"],
        "turns_per_s": inputs["turns"] / statistics.median(timed),
    }
    return {"metrics": metrics, "fields": fields,
            "attempted": len(main["ops"]), "failed": failed, "main": main}


def _median_us(fn, items, reps: int = 5) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(items) * 1e6


def microbench(workload: str, seed: int, inputs: dict) -> dict:
    """Single-thread cost of the in-process layers on a fixed sample of
    the workload's own turns (payload kinds the workload lacks are taken
    from the mixed_convs corpus of the same seed)."""
    import pandas as pd

    import workloads as W
    from pdf_extractor_spark.core import html_extract, html_fast, pdf_layout
    from pdf_extractor_spark.core.oracle import extract_table
    from pdf_extractor_spark.core.parse_turn import content_lines, parse_turn
    from pdf_extractor_spark.core.structure import parse_structure
    from pdf_extractor_spark.job.extract import parse_batches

    per_kind = 300
    df = pd.read_parquet(inputs["corpus"])
    frames = [df]
    if workload != "mixed_convs":
        frames.append(W.mixed_convs(seed))
    by_kind: dict[str, list] = {"plain": [], "pdf": [], "html": []}
    for frame in frames:
        order = sorted(range(len(frame)), key=lambda i: zlib.crc32(
            f"{frame['conv_id'].iat[i]}/{frame['turn_idx'].iat[i]}".encode()))
        for i in order:
            if all(len(rows) == per_kind for rows in by_kind.values()):
                break
            text = frame["text"].iat[i]
            kind = content_lines(text)[0]
            if len(by_kind[kind]) < per_kind:
                by_kind[kind].append((frame["conv_id"].iat[i],
                                      int(frame["turn_idx"].iat[i]), text))
    m: dict = {}
    for kind, rows in by_kind.items():
        m[f"core.parse_turn.us_per_turn.{kind}"] = (
            _median_us(parse_turn, [r[2] for r in rows]), "us/turn")
    html = [r[2] for r in by_kind["html"]]
    m["core.html_extract.us_per_turn"] = (
        _median_us(html_extract.extract_main_text, html), "us/turn")
    m["core.html_fast.accept_ratio"] = (
        sum(html_fast.segment_fast(t) is not None for t in html) / len(html),
        "ratio")
    m["core.pdf_layout.us_per_turn"] = (_median_us(
        pdf_layout.extract_layout_text, [r[2] for r in by_kind["pdf"]]),
        "us/turn")
    everything = [r for rows in by_kind.values() for r in rows]
    lines = [content_lines(r[2])[1] for r in everything]
    m["core.structure.us_per_turn"] = (
        _median_us(parse_structure, lines), "us/turn")
    batch = pd.DataFrame(everything, columns=["conv_id", "turn_idx", "text"])
    batch_us = _median_us(lambda b: list(parse_batches(iter([b]))), [batch])
    parse_us = _median_us(parse_turn, batch["text"].tolist()) * len(batch)
    m["job.extract.parse_batches.us_per_turn"] = (
        batch_us / len(batch), "us/turn")
    m["job.extract.parse_batches.assembly_share"] = (
        1 - parse_us / batch_us, "ratio")
    sample = df[df["conv_id"].isin(inputs["sample"])].to_dict("records")
    t0 = time.perf_counter()
    extract_table(sample)
    m["core.oracle.turns_per_s"] = (
        len(sample) / (time.perf_counter() - t0), "turns/s")
    return m


def parse_event_log(path: str) -> tuple[dict, list]:
    """Per job group: tasks, executor CPU, task time, shuffle and spill
    bytes.  Returns (stats by group, job groups in job order)."""
    stage_group: dict[int, str | None] = {}
    jobs: list = []
    stats: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append((ev.get("Properties") or {})
                            .get("spark.jobGroup.id"))
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = (
                    ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                s = stats.setdefault(group, Counter())
                tm = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sr = tm.get("Shuffle Read Metrics", {})
                s["tasks"] += 1
                s["cpu_ns"] += tm.get("Executor CPU Time", 0)
                s["task_ms"] += info["Finish Time"] - info["Launch Time"]
                s["shuffle_write"] += tm.get("Shuffle Write Metrics", {}) \
                    .get("Shuffle Bytes Written", 0)
                s["shuffle_read"] += sr.get("Remote Bytes Read", 0) \
                    + sr.get("Local Bytes Read", 0)
                s["spill"] += tm.get("Disk Bytes Spilled", 0)
    return stats, jobs


def run_trace(workload: str, seed: int, inputs: dict, tmp: str,
              log: str) -> dict:
    metrics = microbench(workload, seed, inputs)
    trace_dir = os.path.join(tmp, "eventlog")
    os.makedirs(trace_dir)
    out_dir = os.path.join(tmp, "out")
    res = run_child(["trace", inputs["corpus"], out_dir], tmp, log, 145,
                    trace_dir)
    if res is None:
        return {"error": "worker failed"}
    ops = {op["name"]: op for op in res["ops"]}
    failed = sum(op["error"] is not None for op in res["ops"])
    checks = {}
    for name in ("warmup", "untraced", "traced"):
        if ops[name]["error"] is None:
            checks[name] = check_output(ops[name]["out"], inputs)
            failed += not checks[name]["oracle_ok"]
    ref = checks.get("untraced", {}).get("digest")
    # the layered run must reproduce extract_from_parsed's output
    failed += checks.get("traced", {}).get("digest") != ref
    sink = None
    if ops["sink.resume"]["error"] is None:
        sink = check_sink(ops["sink.resume"]["out"], inputs, ref)
        failed += not (sink["digest_ok"] and sink["audit_ok"]
                       and sink["complete"])

    stats, jobs = parse_event_log(os.path.join(trace_dir, res["app_id"]))
    known = set(SPARK_LAYERS) | set(AUX_GROUPS)
    stray = [g for g in jobs if g not in known]
    walls = {s["name"]: s["end"] - s["start"] for s in res["spans"]}
    counts = dict(res["counts"])
    counts["sink.stage.rows_out"] = inputs["turns"]
    if sink:
        # the crashed run commits batches 0 and 1, the resume 2 and 3
        per_batch = sink["rows_per_batch"]
        counts["sink.batch.rows_out"] = sum(
            n for b, n in per_batch.items() if b < 2)
        counts["sink.resume.rows_out"] = sum(
            n for b, n in per_batch.items() if b >= 2)
    for layer in SPARK_LAYERS:
        s = stats.get(layer, Counter())
        wall = walls.get(layer, float("nan"))
        values = {
            "wall_s": wall,
            "cpu_s": s["cpu_ns"] / 1e9,
            "tasks": s["tasks"],
            "busy_share": s["task_ms"] / 1e3 / (wall * CORES),
            "shuffle_write_mb": s["shuffle_write"] / MB,
            "shuffle_read_mb": s["shuffle_read"] / MB,
            "spill_mb": s["spill"] / MB,
            "rows_out": counts.get(f"{layer}.rows_out", float("nan")),
        }
        for stat, unit in LAYER_STATS.items():
            metrics[f"{layer}.{stat}"] = (values[stat], unit)
    metrics["setup.get_spark.wall_s"] = (res["get_spark_s"], "s")
    metrics["setup.ensure_workers.wall_s"] = (res["ensure_workers_s"], "s")
    for name in ("extract.parse.fragments_out",
                 "extract.edge_merge.candidates",
                 "extract.resolve.referenced", "extract.resolve.unresolved",
                 "sink.resume.skipped_batches"):
        metrics[name] = (counts.get(name, float("nan")), "count")
    extract_walls = sum(walls[g] for g in SPARK_LAYERS if g in walls
                        and g.startswith("extract."))
    metrics["trace.coverage"] = (
        extract_walls / res["traced"]["wall_s"], "ratio")
    metrics["trace.overhead_s"] = (
        res["traced"]["wall_s"] - ops["untraced"]["wall_s"], "s")
    metrics["job.extract.run_extract.first_run_s"] = (
        ops["warmup"]["wall_s"], "s")
    metrics["job.extract.run_extract.turns_per_s"] = (
        inputs["turns"] / ops["untraced"]["wall_s"], "turns/s")
    return {"metrics": metrics, "attempted": len(res["ops"]),
            "failed": failed + bool(stray), "stray_jobs": stray,
            "checks": checks, "sink": sink, "worker": res}


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    become_subreaper()
    # on SIGTERM, unwind through the finally blocks that end every child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "pdf_extractor_spark",
                                       "__init__.py")):
        fail_usage(f"engine package pdf_extractor_spark not found in {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    import workloads as W

    if args.workload not in W.WORKLOADS:
        fail_usage(f"unknown workload {args.workload!r}; "
                   f"choose from {', '.join(W.WORKLOADS)}")

    t0 = time.perf_counter()
    inputs = load_inputs(args.workload, args.seed)
    window = window_record()
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    run_name = f"{args.workload}-s{args.seed}-t{args.trace}"
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    log = os.path.join(runs, f"{run_name}.log")
    open(log, "w").close()
    ticks = cpu_times()
    try:
        if args.trace:
            res = run_trace(args.workload, args.seed, inputs, tmp, log)
        else:
            res = run_e2e(inputs, tmp, args.seconds, log)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # CPU time the hypervisor gave to other guests while this call ran
    spent = [b - a for a, b in zip(ticks, cpu_times())]
    window["steal_share"] = round(spent[7] / max(1, sum(spent[:8])), 4)

    ok = "error" not in res and res["failed"] == 0
    # a failed layer leaves NaN values, which are not JSON: drop them
    metrics = {name: {"value": float(v), "unit": unit}
               for name, (v, unit) in res.get("metrics", {}).items()
               if math.isfinite(v)}
    attempted = max(1, res.get("attempted", 1))
    failed = res.get("failed", attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "turns": inputs["turns"],
        "corpus_checksum": inputs["checksum"], "window": window,
        "correct": ok, "attempted": attempted, "failed": failed,
        "wall_s": round(time.perf_counter() - t0, 3), "metrics": metrics,
        "fields": res.get("fields", {}),
    }
    with open(os.path.join(runs, f"{run_name}.json"), "w") as f:
        json.dump({**record, "detail": {k: v for k, v in res.items()
                                        if k not in ("metrics", "fields")}},
                  f, indent=1,
                  default=str)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
