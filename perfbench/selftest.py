"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Checks, on small corpora (each still holds one conversation longer than
the engine's 8192-turn block):

1. generator determinism: the same seed gives the same corpus checksum,
   another seed a different one;
2. the oracle check catches a wrong output;
3. a smoke run of both workloads through the end-to-end protocol and the
   traced protocol, with every output checked against the oracle;
4. span attribution: every Spark job of the traced run falls in exactly
   one known job group.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
import workloads as W  # noqa: E402

W.MIXED_CONVS = 40
W.CHAIN_CONVS = 1


def check(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    run.become_subreaper()
    for workload in W.WORKLOADS:
        a = W.checksum(W.generate(workload, 7))
        check(a == W.checksum(W.generate(workload, 7)),
              f"{workload}: same seed, same corpus checksum")
        check(a != W.checksum(W.generate(workload, 8)),
              f"{workload}: another seed, another corpus")

    root = os.path.join(run.WORK, "tmp", f"selftest{os.getpid()}")
    try:
        for workload in W.WORKLOADS:
            tmp = os.path.join(root, workload)
            os.makedirs(tmp)
            log = os.path.join(tmp, "worker.log")
            inputs = run.load_inputs(workload, 7)
            e2e = run.run_e2e(inputs, tmp, 1, log)
            check(e2e.get("failed") == 0,
                  f"{workload}: end-to-end smoke run matches the oracle")
            check(set(e2e["metrics"]) == {"setup_s", "peak_rss_mb"},
                  f"{workload}: every end-to-end metric reported")

            trace = run.run_trace(workload, 7, inputs, tmp, log)
            check(trace.get("failed") == 0,
                  f"{workload}: traced run, layered output and resumed "
                  "sink match")
            check(trace["stray_jobs"] == [],
                  f"{workload}: every traced job falls in one job group")
            check(0.9 <= trace["metrics"]["trace.coverage"][0] <= 1.0,
                  f"{workload}: layer walls cover the traced wall")

            # the traced run leaves its outputs in tmp; drop one expected
            # row and the same output must now fail
            inputs["expect"] = inputs["expect"][1:]
            check(not run.check_output(trace["worker"]["ops"][1]["out"],
                                       inputs)["oracle_ok"],
                  f"{workload}: a wrong expectation fails the oracle check")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
