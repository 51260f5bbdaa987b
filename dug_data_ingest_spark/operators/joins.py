"""Join operators (SURVEY.md §2.3).

Every join in the reference is an equi / semi / anti join on study or
data-dictionary identifiers — there are no theta/range/as-of joins.
Scale notes per operator: the small side is always broadcast (the
reference's dict-lookups are the moral equivalent), the big fact side
stays shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enrich_left_broadcast(
    fact: DataFrame, dim: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Fact ⟕ broadcast(dim): the Gen3-study × PicSure-variable driving
    join of the BDC fallback pipeline.

    Reference: per-study lookup at scripts/bdc/xml_generator.py:246-259
    and row fetch at scripts/bdc/run_dbgap_xml_gen_fallback.py:201-203.
    At 100 TB the variables table is the fact side; the study table is
    tiny (10^4 rows) and must broadcast — no shuffle of the fact.
    """
    return fact.join(F.broadcast(dim), on, how)


def semi_overlap_count(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """|left ⋉ right| as a 1-row DataFrame (column ``overlap``).

    Reference: ``gen3_ids.intersection(pic_ids)`` overlap scoreboard
    (scripts/bdc/run_dbgap_xml_gen_fallback.py:87-111).
    """
    return left.join(right, on, "left_semi").agg(F.count("*").alias("overlap"))


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """left ∖ right by key — studies without data dictionaries, stray
    dds, and the idempotent skip-if-ingested manifest check.

    Reference: ``set(metadata_ids) - set(datadict_ids)``
    (scripts/heal/get_heal_platform_mds_data_dicts.py:97-106, 229);
    skip-if-downloaded (scripts/bdc/get_dbgap_data_dicts.py:230-235).
    """
    return left.join(right, on, "left_anti")


def broadcast_map_enrich(
    rows: DataFrame, mapping: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Enrich with a small mapping table (≈1.4k rows in the reference).

    Reference: HDPID → research-network/study-type dict built at
    scripts/heal/get_heal_platform_mds_data_dicts.py:635-644 and
    applied via lambdas at :673-675. Broadcast-hash join — the Spark
    equivalent of a driver-side dict, but it scales to any fact size.
    """
    return rows.join(F.broadcast(mapping), on, how)


def edge_gen(
    df: DataFrame, subject, object_, predicate: str = "biolink:related_to"
) -> DataFrame:
    """Derive KGX edges (subject, predicate, object) from one table —
    a pure projection, no shuffle.

    Reference: ``make_edge_link`` + per-consent loop
    (scripts/bdc/get_bdc_studies_from_gen3.py:319-352).
    """
    return df.select(
        F.col(subject).cast("string").alias("subject"),
        F.lit(predicate).alias("predicate"),
        F.col(object_).cast("string").alias("object"),
    )


def fuzzy_join_qgram(
    cands: DataFrame,
    probes: DataFrame,
    cand_id: str,
    cand_str: str,
    probe_id: str,
    probe_str: str,
    max_dist: int = 2,
    q: int = 3,
) -> DataFrame:
    """Fuzzy string join (levenshtein ≤ ``max_dist``) with q-gram
    blocking: returns ``(probe_id, match_id, lev)`` — every candidate
    within edit distance ``max_dist`` of each probe. The probe side is
    assumed small (a lookup / correction list) and is broadcast; the
    candidate side can be arbitrarily large and is never shuffled
    except for one map-side-combined gram-frequency aggregate and one
    distinct over the (small) surviving candidate pairs.

    Blocking is COMPLETE — no true match is ever missed — so callers
    (and oracles) may treat the result as the exact fuzzy join:

    * An edit operation rewrites at most ``q`` of a string's q-gram
      occurrences, so ``max_dist`` edits destroy at most ``q·max_dist``
      occurrences (6 for trigrams/lev 2).
    * Long probes (length ≥ ``q + q·max_dist``): index the
      ``q·max_dist + 1`` RAREST distinct gram types of the probe that
      occur anywhere in the candidate corpus. Any true match c
      preserves at least one indexed occurrence verbatim — and a
      surviving gram is BY DEFINITION in c, hence has corpus df ≥ 1,
      so restricting the pool to df ≥ 1 types loses nothing (the df
      table is computed over the same corpus being joined, which is
      what makes this argument airtight). Rarest-first selection is a
      pure efficiency choice: completeness holds for ANY
      ``q·max_dist + 1`` distinct types (type-pigeonhole) and for ALL
      types when fewer exist (occurrence-pigeonhole, ≥ q·max_dist + 1
      occurrences guaranteed by the length bound).
    * Short probes (< ``q + q·max_dist``): too few grams for the
      pigeonhole, so they fall back to exact-length blocking — the
      probe explodes its ``2·max_dist + 1`` admissible candidate
      lengths and equi-joins on ``length(cand)``. Complete because an
      edit changes length by at most 1.

    A length prefilter (|len(p) − len(c)| ≤ max_dist) prunes gram
    collisions before the distinct, and exact levenshtein verifies
    inside blocks only. Unlike length-band blocking alone, narrow
    length distributions don't degrade candidate generation: hot
    buckets are rare GRAMS, and rarest-first selection explicitly
    avoids them — the shared-shingle df-cap idea of
    ``ngram_jaccard_pairs`` (ext/dedup.py) turned into a lossless
    selection rule.
    """
    n_sel = q * max_dist + 1
    min_len = q + q * max_dist

    from dug_data_ingest_spark.ext.dedup import fan_out

    # Local test corpora arrive as 1-2 parquet files, which would put
    # the whole explode + levenshtein pipeline on 1-2 tasks; a
    # real-scale input is already wide and fan_out is a no-op there.
    c = fan_out(
        cands.select(
            F.col(cand_id).alias("match_id"), F.col(cand_str).alias("cand_str")
        )
    )
    p = probes.select(
        F.col(probe_id).alias("probe_id"), F.col(probe_str).alias("probe_str")
    )
    lev = F.levenshtein(F.col("probe_str"), F.col("cand_str"))
    is_short = F.length("probe_str") < min_len

    # Probe gram types (distinct; long probes only — short probes use
    # length keys below). The probe side is small, so these frames are
    # broadcast-sized by assumption.
    p_tri = (
        p.filter(~is_short)
        .withColumn(
            "pos",
            F.explode(F.sequence(F.lit(1), F.length("probe_str") - (q - 1))),
        )
        .select(
            "probe_id",
            "probe_str",
            F.col("probe_str").substr(F.col("pos"), F.lit(q)).alias("gram"),
        )
        .distinct()
    )
    p_gram_vals = p_tri.select("gram").distinct()

    # Rarity pass: corpus occurrence-frequency of PROBE grams only — the
    # broadcast semi-restriction means the map-side-combined aggregate
    # shuffles at most |probe gram types| rows, not the corpus
    # vocabulary. df-0 probe grams drop out here; they can never
    # witness a match (a surviving gram is in the matched candidate,
    # hence df ≥ 1 — see completeness notes above).
    c_tri = (
        c.filter(F.length("cand_str") >= q)
        .withColumn(
            "pos",
            F.explode(F.sequence(F.lit(1), F.length("cand_str") - (q - 1))),
        )
        .select(
            "match_id",
            "cand_str",
            F.col("cand_str").substr(F.col("pos"), F.lit(q)).alias("gram"),
        )
    )
    gram_freq = (
        c_tri.join(F.broadcast(p_gram_vals), "gram")
        .groupBy("gram")
        .agg(F.count("*").alias("gram_freq"))
    )
    sel = (
        gram_freq.join(F.broadcast(p_tri), "gram")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy("gram_freq", "gram")
            ),
        )
        .filter(F.col("rk") <= n_sel)
        .select("gram", "probe_id", "probe_str")
    )

    # ONE candidate-generation join for both probe classes, on a tagged
    # key: "G:<gram>" for long probes' rarest grams, "L:<length>" for
    # short probes' admissible candidate lengths. The candidate side
    # emits its gram keys plus one length key per row; the probe side
    # (selected grams ∪ exploded lengths) broadcasts once.
    probe_keys = sel.select(
        F.concat(F.lit("G:"), F.col("gram")).alias("bkey"),
        "probe_id",
        "probe_str",
    ).unionByName(
        p.filter(is_short)
        .withColumn(
            "clen",
            F.explode(
                F.array(
                    *[
                        F.length("probe_str") + d
                        for d in range(-max_dist, max_dist + 1)
                    ]
                )
            ),
        )
        .select(
            F.concat(F.lit("L:"), F.col("clen")).alias("bkey"),
            "probe_id",
            "probe_str",
        )
    )
    # Position 0 encodes the length key; positions 1..n_grams encode
    # gram keys — one integer-sequence explode, no per-row string-array
    # materialization.
    n_grams = F.greatest(F.length("cand_str") - (q - 1), F.lit(0))
    cand_keys = (
        c.withColumn("pos", F.explode(F.sequence(F.lit(0), n_grams)))
        .select(
            "match_id",
            "cand_str",
            F.when(
                F.col("pos") == 0,
                F.concat(F.lit("L:"), F.length("cand_str")),
            )
            .otherwise(
                F.concat(
                    F.lit("G:"),
                    F.col("cand_str").substr(F.col("pos"), F.lit(q)),
                )
            )
            .alias("bkey"),
        )
    )

    # Verify-then-distinct: the length prefilter and exact levenshtein
    # run per gram-hit INSIDE codegen (strings already ride the rows),
    # so the distinct shuffles only true matches (≤ n_sel rows per
    # matched pair), not the full candidate set.
    return (
        cand_keys.join(F.broadcast(probe_keys), "bkey")
        .filter(
            (F.abs(F.length("cand_str") - F.length("probe_str")) <= max_dist)
            & (lev <= max_dist)
        )
        .select("probe_id", "match_id", lev.cast("int").alias("lev"))
        .distinct()
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: the skewed (left) side gets a random salt
    in [0, salt), the small-but-not-broadcastable right side is
    replicated salt times, and the join key becomes (key, salt) — a
    hot key's rows spread over ``salt`` reducers instead of one.

    Use when the hot side is too big to broadcast AND AQE's skew
    splitting isn't available/enough (e.g. a single study id carrying
    10^8 variable rows). Semantics identical to ``left.join(right, on,
    how)`` for the supported ``how`` values; only the physical
    distribution changes. Output drops the salt columns.

    ``how`` is restricted to inner/left/left_semi/left_anti: for
    right/full outer joins the salt-replicated right side would emit
    every unmatched right row ``salt`` times, silently changing the
    semantics.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — the replicated right "
            "side duplicates unmatched right rows under right/full outer. "
            f"Use one of {sorted(allowed)}."
        )
    salted_left = left.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    replicated_right = right.crossJoin(
        F.broadcast(
            right.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    return (
        salted_left.join(replicated_right, [on, "__salt"], how).drop("__salt")
    )
