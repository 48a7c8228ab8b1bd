"""Registry order: the driver's correctness gate checks only the first 50
registry entries, so a query without a row in the newest driver record
must sit inside that window or its driver evidence goes stale."""

from __future__ import annotations

import glob
import json
import os
import re

from pdf_extractor_spark.queries import ALL

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CHECKED_WINDOW = 50


def _newest_record() -> dict:
    paths = glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
    newest = max(paths, key=lambda p: int(re.search(r"_r(\d+)", p)[1]))
    with open(newest) as f:
        return json.load(f)


def test_queries_without_a_driver_row_are_in_the_checked_window():
    recorded = _newest_record()
    names = [q.name for q in ALL]
    missing = [n for n in names if n not in recorded]
    outside = [n for n in missing
               if names.index(n) >= _CHECKED_WINDOW]
    assert not outside, outside
