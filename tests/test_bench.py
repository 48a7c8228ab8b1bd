"""bench.py's final stdout line is its record: it must stay small enough for
a tail capture to hold it whole, whatever the full record grows to."""

from __future__ import annotations

import json

import bench


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


def test_summary_of_full_record_is_compact_and_parses():
    """A record shaped like the one whose final line outgrew the capture:
    33 timed queries plus the extraction wall, 3 scaling pairs."""
    assert len(bench.HEADLINE) == 33
    queries = {name: 1.234 for name in bench.HEADLINE}
    queries["extract_pipeline"] = 10.993
    ctl = {"md5_s": 0.587, "bw_s": 0.31}
    pairs = [
        _pair(8598.9, 27446.7, False),
        _pair(8935.9, 29612.2, True),
        _pair(9353.9, 33087.6, True),
    ]
    payload = {
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
        },
        "scaling": {
            "efficiency": 0.856,
            "basis": "median of 2 control-gated matched pairs",
            "n_pairs": 3,
            "n_accepted": 2,
        },
    }


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
