"""The bench stdout contract (r11 verdict item 2).

The round driver keeps only the LAST ~2,000 chars of output and parses
the one JSON line; r03 and r11 both lost their per-query maps to that
window. These tests pin the fix: the compact short-name map must fit,
be unique, and be deterministic so the driver's 32-core and 8-core runs
(scaling.per_query) key on identical aliases.

No Spark session required — queries() only builds a dict of callables.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import short_names, stdout_line  # noqa: E402


def _names():
    return list(entrymod.queries())


def test_aliases_unique_and_deterministic():
    names = _names()
    a1 = short_names(names)
    a2 = short_names(list(names))
    assert a1 == a2
    assert len(set(a1.values())) == len(names), "alias collision"
    assert all(a1[n] for n in names)


def test_compact_line_fits_driver_window():
    # Reproduce bench.py's compact emission with pessimistic values
    # (every query at 99.9 s, worst-case 4-char rendering) and the real
    # aggregate payload fields. Must stay under bench.py's 1,950-char
    # line cap, which itself sits under the driver's 2,000-char stdout
    # keep (past the cap the map is dropped).
    names = _names()
    aliases = short_names(names)
    payload = {
        "metric": "sum_of_per_query_best_wall_seconds_noop_sink",
        "value": 99999.9999,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(names),
        "n_failed": 0,
        "calib_md5_sec": 0.6786,
    }
    compact = {aliases[n]: 99.9 for n in names}
    line = json.dumps({**payload, "queries": compact},
                      separators=(",", ":"))
    assert len(line) <= 1950, f"{len(line)} chars at {len(names)} queries"


def test_full_name_map_used_for_small_runs():
    # A filtered run (few queries) keeps full names on the line —
    # bench.py only falls back to aliases past 1,900 chars.
    payload = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1,
               "n_queries": 3, "n_failed": 0}
    line = json.dumps({**payload, "queries": {"q1_pricing_summary": 1.23}})
    assert len(line) <= 1900


def _payload(n: int) -> dict:
    return {
        "metric": "sum_of_per_query_best_wall_seconds_noop_sink",
        "value": 99999.9999,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": n,
        "n_failed": 0,
        "wall_total": 1234.56,
        "calib_md5_sec": 0.6786,
    }


def test_slow_queries_degrade_instead_of_failing():
    # per-query timings of 100 s and more still print a parseable
    # record inside the window: whole seconds in the compact map, and
    # past that the record without the map, saying so
    names = _names()
    for v in (123.4, 1234.5):
        line = stdout_line(_payload(len(names)), dict.fromkeys(names, v),
                           names)
        assert len(line) <= 1950, (v, len(line))
        rec = json.loads(line)
        assert set(rec["queries"].values()) == {round(v)}
    line = stdout_line(_payload(len(names)), dict.fromkeys(names, 99999.9),
                       names)
    assert len(line) <= 1950
    rec = json.loads(line)
    assert "queries" not in rec and "queries_omitted" in rec
    assert rec["value"] == 99999.9999 and rec["n_queries"] == len(names)


def test_filtered_run_uses_full_run_aliases():
    # a filtered run long enough for the compact map keys it by the
    # FULL queries() alias table, not by aliases of its own subset
    names = _names()
    subset = names[1::2]
    full = short_names(names)
    own = short_names(subset)
    assert any(own[n] != full[n] for n in subset), "subset is no test"
    line = stdout_line(_payload(len(subset)), dict.fromkeys(subset, 1.2345),
                       names)
    assert set(json.loads(line)["queries"]) == {full[n] for n in subset}
