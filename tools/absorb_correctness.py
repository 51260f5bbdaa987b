"""Report driver-correctness coverage of the query registry.

The registry order is DERIVED at import time from the CORRECTNESS_r*.json
files at the repo root (see `_prioritized` in
dug_data_ingest_spark/queries/__init__.py) — nothing to paste anywhere.
This tool just prints the derived view so a round's coverage plan can
be sanity-checked:

    python tools/absorb_correctness.py

Output: green count (slugs whose latest driver row is ok), the next
driver window (the first 50 registry entries) with each slug's latest
row, and any slug whose LATEST driver row is a failure (regression to
fix before the next round).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from dug_data_ingest_spark.queries import _driver_rows, all_queries

    ordered = list(all_queries())
    latest, _ = _driver_rows()
    # restrict to the live registry: retired slugs may still have
    # driver rows on disk
    green = {s for s in ordered if latest.get(s, (0, False))[1]}
    n = len(ordered)
    print(f"{len(green)} driver-green, {n - len(green)} not green of {n}")
    print("next driver window (first 50):")
    for i, slug in enumerate(ordered[:50]):
        if slug not in latest:
            mark = "NEW"
        else:
            rnd, ok = latest[slug]
            mark = f"r{rnd:02d} {'green' if ok else 'FAIL'}"
        print(f"  {i + 1:2d}. [{mark}] {slug}")
    failed = [s for s in ordered if s in latest and not latest[s][1]]
    if failed:
        print(f"latest driver row failed ({len(failed)}): {failed}")


if __name__ == "__main__":
    main()
