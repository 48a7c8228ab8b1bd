"""bench.py's closing stdout lines are its record: the full record, then a
last line small enough for a tail capture to hold it whole, whatever the
full record grows to.  Also the registry surface bench times: ``Q.fn``
honours the sf dir, ``Q.run`` applies the query's pin."""

from __future__ import annotations

import json

import bench
from pdf_extractor_spark.queries import QUERIES
from pdf_extractor_spark.queries.base import Q


def _pair(tps_n: float, tps_4n: float, accepted: bool) -> dict:
    ctl = {"md5_s": 0.533, "bw_s": 0.305}
    return {
        "turns_per_sec_n": tps_n,
        "turns_per_sec_4n": tps_4n,
        "speedup": round(tps_4n / tps_n, 3),
        "efficiency": round(tps_4n / tps_n / 4, 3),
        "controls": [ctl, ctl],
        "accepted": accepted,
    }


def _r05_payload() -> dict:
    """A record shaped like the one whose final line outgrew the capture:
    33 timed queries plus the extraction wall, 3 scaling pairs."""
    queries = {name: 1.234 for name in bench.HEADLINE}
    queries["extract_pipeline"] = 10.993
    ctl = {"md5_s": 0.587, "bw_s": 0.31}
    pairs = [
        _pair(8598.9, 27446.7, False),
        _pair(8935.9, 29612.2, True),
        _pair(9353.9, 33087.6, True),
    ]
    return {
        "metric": "bench_total_wall",
        "value": 67.812,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "extraction": {
            "turns": 239311,
            "wall_s": 10.993,
            "walls_s": [11.716, 13.605, 17.82, 24.983, 20.892, 10.993],
            "turns_per_sec": 21770.3,
            "converged": False,
            "controls": [ctl, ctl],
            "window_quiet": False,
            "md5_control_quiet_ref_s": 0.55,
            "bw_control_quiet_ref_s": 0.27,
        },
        "scaling": {
            "cores_n": 2,
            "cores_4n": 8,
            "pinned": True,
            "pairs": pairs,
            "samples": {
                "2": [p["turns_per_sec_n"] for p in pairs],
                "8": [p["turns_per_sec_4n"] for p in pairs],
            },
            "md5_control_quiet_ref_s": 0.55,
            "bw_control_quiet_ref_s": 0.27,
            "efficiency": 0.856,
            "basis": "median of 2 control-gated matched pairs",
        },
    }


def test_summary_of_full_record_is_compact_and_parses():
    assert len(bench.HEADLINE) == 33
    payload = _r05_payload()
    assert len(json.dumps(payload)) > 1024   # the full line does not fit

    line = json.dumps(bench.summary(payload))
    assert len(line.encode()) < 1024
    got = json.loads(line)
    assert got == {
        "metric": "bench_total_wall",
        "value": 67.812,
        "unit": "sec",
        "sf": 0.1,
        "extraction": {
            "turns_per_sec": 21770.3,
            "converged": False,
            "window_quiet": False,
            "control_margin": {"md5": 0.97, "bw": 0.883},
        },
        "scaling": {
            "efficiency": 0.856,
            "basis": "median of 2 control-gated matched pairs",
            "n_pairs": 3,
            "n_accepted": 2,
            "control_margin": {"md5": 0.881, "bw": 0.869},
        },
    }


def test_summary_reports_control_margins():
    """Each control's worst reading ÷ its cutoff: the r05 extraction
    window read md5 0.587 s against 1.10 × 0.55 s and bw 0.31 s against
    1.30 × 0.27 s — in band, by 3% and 12%."""
    got = bench.summary(_r05_payload())
    assert got["extraction"]["control_margin"] == {"md5": 0.97, "bw": 0.883}
    assert len(json.dumps(got).encode()) < 1024
    # the gate is the margin: in band iff every margin ≤ 1.0
    assert bench.controls_quiet({"md5_s": 0.605, "bw_s": 0.351})
    assert not bench.controls_quiet({"md5_s": 0.61, "bw_s": 0.351})
    assert not bench.controls_quiet({"md5_s": 0.605, "bw_s": 0.36})


def test_summary_before_scaling_runs():
    """The SIGTERM emit can fire before any pair lands."""
    payload = {
        "metric": "bench_total_wall", "value": 1.0, "unit": "sec",
        "queries": {}, "sf": 0.01,
        "extraction": {"turns_per_sec": 1.0, "converged": True,
                       "window_quiet": True},
        "scaling": {"status": "not_run",
                    "note": "terminated mid-measurement"},
    }
    got = json.loads(json.dumps(bench.summary(payload)))
    assert got["scaling"] == {
        "efficiency": None, "basis": "not_run", "n_pairs": 0,
        "n_accepted": 0, "note": "terminated mid-measurement",
    }


def test_final_emit_keeps_the_full_record(capsys):
    """The run ends with the full record (per-pair tps, controls and
    ``accepted`` flags) and then the compact summary as the last line."""
    payload = _r05_payload()
    bench.emit_final(payload)
    lines = capsys.readouterr().out.splitlines()
    assert len(lines[-1].encode()) < 1024
    assert json.loads(lines[-1]) == bench.summary(payload)
    full = json.loads(lines[-2])
    assert full["scaling"]["pairs"] == payload["scaling"]["pairs"]


def test_headline_names_are_registered():
    assert set(bench.HEADLINE) <= set(QUERIES)


def test_pinned_query_runs_at_its_pin():
    q = Q("x", fn=lambda s, d: d, sql=None, sf_pin="/pin")
    assert q.run(None, "/other") == "/pin"


def test_unpinned_query_runs_at_the_given_dir():
    q = Q("x", fn=lambda s, d: d, sql=None)
    assert q.run(None, "/other") == "/other"
