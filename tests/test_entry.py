"""The computed verify window: ``queries()`` ranks the registry from
the CORRECTNESS verdict files beside the entry module."""

from __future__ import annotations

import json
import os

import __spark_entry__ as e

_MATCH = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
_ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}


def _write_round(folder, rnd: int, verdicts: dict) -> None:
    with open(os.path.join(folder, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(verdicts, f)


def test_no_verdict_files_keep_registration_order(tmp_path):
    assert e._verdicts(str(tmp_path)) == {}
    assert e._ranked(e.QUERIES, e.ORACLE, {}) == list(e.QUERIES)


def test_each_registered_name_appears_once(tmp_path):
    names = list(e.QUERIES)
    _write_round(tmp_path, 1, {n: _MATCH for n in names[:60]})
    _write_round(tmp_path, 2, {n: _MATCH for n in names[30:90]})
    _write_round(tmp_path, 3, {"no_longer_registered": _MATCH})
    ranked = e._ranked(e.QUERIES, e.ORACLE, e._verdicts(str(tmp_path)))
    assert sorted(ranked) == sorted(names)
    assert len(ranked) == len(set(ranked)) == len(e.QUERIES)


def test_tiers_come_in_order(tmp_path):
    names = ["old", "never", "upgraded", "newer", "rows_only", "mismatch"]
    oracle = {n: "SELECT 1" for n in ("old", "upgraded", "newer", "mismatch")}
    _write_round(tmp_path, 1, {
        "old": _MATCH, "upgraded": _ROWS_ONLY, "rows_only": _ROWS_ONLY,
    })
    _write_round(tmp_path, 2, {
        "newer": _MATCH, "mismatch": {**_MATCH, "hash_match": False},
    })
    verdicts = e._verdicts(str(tmp_path))
    assert sorted(verdicts) == [1, 2]
    # (0) never checked; (1) newest verdict not a hash match but an
    # oracle now exists, registration order kept; (2) the rest by the
    # round of the newest verdict, oldest first. A query that is still
    # rows-only ranks by its round, not with the upgraded ones.
    assert e._ranked(names, oracle, verdicts) == [
        "never", "upgraded", "mismatch", "old", "rows_only", "newer",
    ]


def test_a_newer_round_rotates_the_window(tmp_path):
    names = list(e.QUERIES)
    oracle = dict.fromkeys(names, "SELECT 1")
    _write_round(tmp_path, 1, {n: _MATCH for n in names})
    assert e._ranked(names, oracle, e._verdicts(str(tmp_path))) == names
    window = names[:50]
    _write_round(tmp_path, 2, {n: _MATCH for n in window})
    ranked = e._ranked(names, oracle, e._verdicts(str(tmp_path)))
    assert ranked[:50] == names[50:100]
    assert ranked[-50:] == window


def test_real_window_skips_the_newest_round():
    """The shipped verdict files rank a window that shares no name with
    the newest round's, and every name in it has an oracle."""
    here = os.path.dirname(os.path.abspath(e.__file__))
    newest = max(e._verdicts(here))
    with open(os.path.join(here, f"CORRECTNESS_r{newest:02d}.json")) as f:
        last = set(json.load(f))
    q = list(e.queries())
    assert len(q) == len(set(q)) == len(e.QUERIES)
    window = q[:50]
    assert not set(window) & last
    assert all(n in e.oracle_sql() for n in window)
