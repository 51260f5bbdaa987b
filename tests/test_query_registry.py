"""The registry order the driver's graded window follows
(queries/__init__.py): _driver_rows reads the CORRECTNESS files and
_prioritized sorts by one rule, pinned here against synthetic files and
a copy of the real history.

Rules under test:
- latest round wins per slug; err/rows/hash gates decide green
- the order is one stable sort by (vintage, registry position), where
  vintage is the round of the latest row if green, else -1
- no slug starves: with a 50-slot window every slug is graded within
  ceil(N / 50) rounds
"""

from __future__ import annotations

import json

from dug_data_ingest_spark import queries as Q


def _write(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


GOOD = {"err": None, "rows_match": True, "schema_match": True, "hash_match": True}


def test_latest_round_wins_and_gates(tmp_path):
    _write(tmp_path, 1, {"a": GOOD, "b": GOOD, "c": GOOD, "d": GOOD})
    _write(
        tmp_path,
        2,
        {
            "b": {**GOOD, "err": "boom"},           # errored -> not ok
            "c": {**GOOD, "rows_match": False},      # rows mismatch -> not ok
            "d": {**GOOD, "hash_match": False},      # explicit hash mismatch -> not ok
        },
    )
    latest, mx = Q._driver_rows(root=str(tmp_path))
    assert mx == 2
    assert latest["a"] == (1, True)
    assert latest["b"] == (2, False)
    assert latest["c"] == (2, False)
    assert latest["d"] == (2, False)


def test_rows_only_row_still_counts_green(tmp_path):
    # non-SQL-expressible slugs get rows-only grading: no hash key
    _write(tmp_path, 3, {"s": {"err": None, "rows_match": True}})
    latest, _ = Q._driver_rows(root=str(tmp_path))
    assert latest["s"] == (3, True)


def _rows_from(monkeypatch, path):
    real = Q._driver_rows
    monkeypatch.setattr(Q, "_driver_rows", lambda root=None: real(root=str(path)))


def test_window_ordering_rules(tmp_path, monkeypatch):
    # never-graded n, failed f (r3), r1 green s, r3 green b, and two r4
    # greens a and g that tie on vintage.
    _write(tmp_path, 1, {"s": GOOD})
    _write(tmp_path, 3, {"b": GOOD, "f": {**GOOD, "err": "x"}})
    _write(tmp_path, 4, {"a": GOOD, "g": GOOD})
    _rows_from(monkeypatch, tmp_path)
    order = Q._prioritized(["a", "b", "f", "g", "n", "s"])
    # vintage -1 (f, n) leads in registry order, then greens oldest
    # first; the r4 tie keeps registry order (a before g)
    assert order == ["f", "n", "s", "b", "a", "g"]


_WINDOW = 50


def test_every_slug_graded_within_ceil_n_over_window(tmp_path, monkeypatch):
    # From a copy of the real correctness history, simulate rounds in
    # which the driver grades the first _WINDOW slugs green. Every
    # registered slug must be graded within ceil(N / _WINDOW) rounds.
    import glob
    import math
    import os
    import shutil

    from dug_data_ingest_spark.queries import all_queries

    slugs = list(all_queries())  # force registration first
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__)))
    )
    real_files = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    assert real_files, repo  # guard against a wrong repo-root guess
    for f in real_files:
        shutil.copy(f, tmp_path)
    _rows_from(monkeypatch, tmp_path)
    _, mx = Q._driver_rows()

    rounds = math.ceil(len(slugs) / _WINDOW)
    graded: set[str] = set()
    for rnd in range(mx + 1, mx + 1 + rounds):
        window = Q._prioritized(slugs)[:_WINDOW]
        _write(tmp_path, rnd, {s: GOOD for s in window})
        graded.update(window)
    assert set(slugs) - graded == set()

    # a slug whose latest row failed jumps to the front of the window
    victim = Q._prioritized(slugs)[-1]
    _write(tmp_path, mx + 1 + rounds, {victim: {**GOOD, "hash_match": False}})
    assert Q._prioritized(slugs)[0] == victim
