"""Query registry: binds every SURVEY.md §2 slug (plus the §7
extension operators) to the driver's testdata tables.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus, where
SQL-expressible, an ANSI-SQL oracle string that DuckDB runs on the same
parquet (views: region nation customer supplier part orders lineitem
events documents embeddings). The driver hash-compares the two — this
is the correctness gate described in /root/repo/__spark_entry__.py.

Import side effects register queries; ``all_queries()`` /
``all_oracles()`` expose the final dicts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(slug: str, oracle: str | None = None):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under
    ``slug`` with an optional DuckDB oracle SQL string."""

    def deco(fn):
        QUERIES[slug] = fn
        if oracle is not None:
            ORACLES[slug] = " ".join(oracle.split())
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table.

    ``events.parquet`` has shipped with ``ts`` as either TIMESTAMP(NANOS)
    (which Spark's parquet reader rejects unless nanos are read as long)
    or plain timestamp[us]. Branch on the dtype that actually comes back
    from the scan (see ``streaming.events.normalize_events_ts``) so both
    encodings yield the same TIMESTAMP column. The legacy conf is only
    set when the default read fails with the specific nanos
    schema-conversion error (and rolled back if the retry fails), so
    sessions over micros data — or hitting unrelated read errors —
    never see it.
    """
    path = f"{sf_dir}/{table}.parquet"
    if table != "events":
        return spark.read.parquet(path)

    from dug_data_ingest_spark.streaming.events import (
        normalize_events_ts,
        read_events_parquet,
    )

    return normalize_events_ts(read_events_parquet(spark, path))


def dec_money(col) -> "Column":
    """Engine-stable money rendering: ROUND(x, 2) → DECIMAL(18,2).
    Accepts a column name or a Column expression.

    The one convention every cross-engine-exact aggregate and
    serialization in the registry shares (oracles mirror it as
    ``CAST(ROUND(x, 2) AS DECIMAL(18,2))``); centralized so a future
    precision change cannot drift between the query sites that must
    agree bit-for-bit (e.g. the audit fingerprint vs. its oracle).
    """
    from pyspark.sql import functions as F

    return F.round(col, 2).cast("decimal(18,2)")


# Exact-revenue idiom (dec_money's 4-decimal sibling): the true item
# revenue l_extendedprice·(1−l_discount) has ≤4 decimal digits (2dp
# price × 2dp discount), so ROUND(·,4) recovers the exact value from
# the double, and summing as DECIMAL is associative — the group total
# is identical under ANY partitioning / summation order, in both
# engines. Plain SUM(double) is order-dependent in the last bits,
# which flips ROUND(·,2) when a group lands on a .xx5 boundary
# (observed: 307843.595 at sf0.01).
DEC_REV_SQL = "CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4))"

# dec_money's SQL twin, for 2dp-exact source columns (o_totalprice,
# l_extendedprice): summing the decimal is order-independent.
DEC_MONEY_SQL = "CAST(ROUND({x}, 2) AS DECIMAL(18,2))"


def dec_rev() -> "Column":
    """Exact per-item revenue as DECIMAL(18,4) — see DEC_REV_SQL."""
    from pyspark.sql import functions as F

    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return F.round(rev, 4).cast("decimal(18,4)")


def _register_all() -> None:
    # Import for side effects: each module registers its slugs.
    from dug_data_ingest_spark.queries import (  # noqa: F401
        analytics,
        relational,
        scalars,
        sources,
        extensions,
        pipelines,
        streaming,
        curation,
    )


# The driver's correctness gate grades a prefix of the registry (the
# first 50 entries in dict order) each round, so the registry order
# decides which slugs it grades. That order is DERIVED from the
# CORRECTNESS_r*.json files the driver writes at the repo root (latest
# round wins per slug), so a testdata regeneration that flips old greens
# to red rotates them back into the graded window automatically.


def _driver_rows(root: str | None = None) -> tuple[dict[str, tuple[int, bool]], int]:
    """Latest driver correctness row per slug: ``{slug: (round, ok)}``
    plus the newest round number seen on disk.

    A row is ``ok`` when it ran without error, the row counts matched,
    and the driver did not record an explicit hash mismatch
    (``hash_match is not False`` — rows-only slugs, where the driver
    omits the hash, still qualify, but a recorded mismatch never does).

    ``root`` overrides the correctness-file directory (tests only;
    defaults to the repo root the driver writes to).
    """
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    latest: dict[str, tuple[int, bool]] = {}
    max_round = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        max_round = max(max_round, rnd)
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for slug, r in rows.items():
            if not isinstance(r, dict):
                continue
            ok = (
                r.get("err") is None
                and r.get("rows_match") is True
                and r.get("hash_match") is not False
            )
            if slug not in latest or rnd >= latest[slug][0]:
                latest[slug] = (rnd, ok)
    return latest, max_round


def _prioritized(keys):
    """Order the registry for the driver's graded prefix: one stable sort
    by ``(vintage, registry position)``. A slug's vintage is the round of
    its latest driver row when that row is green, and -1 when the row
    failed or the slug was never graded, so those lead the window and
    greens follow oldest first. A slug graded green this round sorts
    behind every slug graded earlier, so with a W-slot window all N
    slugs are graded within ceil(N / W) rounds."""
    latest, _ = _driver_rows()

    def vintage(k):
        rnd, ok = latest.get(k, (-1, False))
        return rnd if ok else -1

    # sorted() is stable: registry position breaks ties within a vintage
    return sorted(keys, key=vintage)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _register_all()
    return {k: QUERIES[k] for k in _prioritized(QUERIES)}


def all_oracles() -> dict[str, str]:
    _register_all()
    order = _prioritized(QUERIES)
    return {k: ORACLES[k] for k in order if k in ORACLES}
