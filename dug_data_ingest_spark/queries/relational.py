"""SURVEY.md §2.2–§2.7 slugs bound to the driver's testdata tables.

Each slug keeps the reference operator's exact semantics (cited in the
operator library it calls) but runs over the TPC-H-ish tables per
FIXTURES.md §A so the DuckDB oracle can verify it. Conventions for
oracle comparability:

- every computed column is aliased identically in Spark and SQL;
- no array/struct/timestamp columns in final outputs — arrays are
  canonicalized via sort + join(','), timestamps via yyyy-MM-dd;
- aggregate doubles are rounded; counts are BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dug_data_ingest_spark.operators import (
    aggregates as agg,
    filters as flt,
    joins as jn,
    projections as prj,
    setops as st,
    sorts as srt,
    windows as win,
)
from dug_data_ingest_spark.plans.lakefs_index import variable_index_report
from dug_data_ingest_spark.queries import DEC_REV_SQL, dec_rev, load, query


def _items_str(expr) -> F.Column:
    """Canonical array rendering: sort, cast elements to string, join."""
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(expr)), lambda x: x.cast("string")),
        ",",
    )


# ---------------------------------------------------------------------------
# Flagship: EP3 duplicate-index report (lineitem as the variable table:
# study=l_suppkey, repository=l_returnflag, dd=l_orderkey,
# section=l_linestatus). See plans/lakefs_index.py.
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH counts AS (
  SELECT l_suppkey AS study_id, l_returnflag AS repository,
         COUNT(DISTINCT l_orderkey) AS n_dds,
         COUNT(DISTINCT l_linestatus) AS n_sections,
         COUNT(*) AS n_rows
  FROM lineitem GROUP BY 1, 2
), pivoted AS (
  SELECT study_id,
    MAX(CASE WHEN repository='A' THEN printf('%d DDs, %d sections, %d variables', n_dds, n_sections, n_rows) END) AS A,
    MAX(CASE WHEN repository='N' THEN printf('%d DDs, %d sections, %d variables', n_dds, n_sections, n_rows) END) AS N,
    MAX(CASE WHEN repository='R' THEN printf('%d DDs, %d sections, %d variables', n_dds, n_sections, n_rows) END) AS R
  FROM counts GROUP BY study_id
)
SELECT study_id, A, N, R,
       CAST((A IS NOT NULL)::INT + (N IS NOT NULL)::INT + (R IS NOT NULL)::INT AS INT) AS repository_count
FROM pivoted
"""


@query("flagship-index-report", oracle=_FLAGSHIP_ORACLE)
def flagship_index_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("study_id"),
        F.col("l_returnflag").alias("repository"),
        F.col("l_orderkey").alias("dd_id"),
        F.col("l_linestatus").alias("section"),
    )
    return variable_index_report(li, repositories=["A", "N", "R"])


# ---------------------------------------------------------------------------
# §2.2 filters
# ---------------------------------------------------------------------------


@query(
    "filter-notnull-conj",
    oracle="""
    SELECT * FROM customer
    WHERE c_name IS NOT NULL AND c_mktsegment IS NOT NULL
      AND c_acctbal IS NOT NULL AND c_name LIKE 'Customer#00000%'
    """,
)
def filter_notnull_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flt.notnull_conjunction(
        load(spark, sf_dir, "customer"),
        required=["c_name", "c_mktsegment", "c_acctbal"],
        startswith={"c_name": "Customer#00000"},
    )


@query(
    "filter-required-fields",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P'
                THEN 'missing required field: status_note' END AS reject_reason
    FROM orders
    """,
)
def filter_required_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "orders").withColumn(
        "status_note", F.nullif(F.col("o_orderstatus"), F.lit("P"))
    )
    out = flt.required_fields_reason(df, ["status_note", "o_orderpriority"])
    return out.select("o_orderkey", "reject_reason")


@query(
    "filter-regex-id",
    oracle="""
    SELECT c_custkey, c_name,
           regexp_extract(c_name, '^Customer#0*([1-9][0-9]*)$', 1) AS short_id
    FROM customer
    WHERE regexp_matches(c_name, '^Customer#0*([1-9][0-9]*)$')
    """,
)
def filter_regex_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = flt.regex_id_extract(
        load(spark, sf_dir, "customer"),
        col="c_name",
        pattern="^Customer#0*([1-9][0-9]*)$",
        groups={"short_id": 1},
    )
    return df.select("c_custkey", "c_name", "short_id")


@query(
    "filter-membership",
    # IS NULL disjunct: the operator is NULL-faithful to the
    # reference's Python `not in` (keeps NULL keys), so the oracle
    # must not drop them via SQL NOT-IN three-valued logic
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IS NULL OR s_suppkey NOT IN (1, 2, 3)
    """,
)
def filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = flt.anti_membership(load(spark, sf_dir, "supplier"), "s_suppkey", [1, 2, 3])
    return df.select("s_suppkey", "s_name")


@query(
    "filter-key-equality",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_suppkey = 1
    """,
)
def filter_key_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = flt.key_equality(load(spark, sf_dir, "lineitem"), "l_suppkey", 1)
    return df.select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "filter-suffix",
    oracle="SELECT doc_id, source FROM documents WHERE lower(source) LIKE '%1'",
)
def filter_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = flt.suffix_filter(load(spark, sf_dir, "documents"), "source", "1")
    return df.select("doc_id", "source")


@query(
    "filter-grep",
    oracle="""
    SELECT event_id, event_type FROM events
    WHERE upper(event_type) LIKE '%ERROR%' OR upper(event_type) LIKE '%SIGNUP%'
    """,
)
def filter_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = flt.grep(load(spark, sf_dir, "events"), "event_type", "ERROR", "SIGNUP")
    return df.select("event_id", "event_type")


@query(
    "filter-grep-v",
    # COALESCE(..., TRUE): grep -v keeps lines the pattern can't
    # match, so condition-indeterminate (NULL) rows are kept
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    WHERE COALESCE(NOT (c_mktsegment = 'HOUSEHOLD' AND c_acctbal < 2000), TRUE)
    """,
)
def filter_grep_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "customer")
    out = flt.grep_v(
        df, (F.col("c_mktsegment") == "HOUSEHOLD") & (F.col("c_acctbal") < 2000)
    )
    return out.select("c_custkey", "c_mktsegment", "c_acctbal")


# ---------------------------------------------------------------------------
# §2.2 projections
# ---------------------------------------------------------------------------


@query(
    "proj-derive-studyid",
    oracle="SELECT o_orderkey, split_part(o_orderpriority, '-', 1) AS study_id FROM orders",
)
def proj_derive_studyid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        prj.derive_study_id(F.col("o_orderpriority"), sep="-").alias("study_id"),
    )


@query(
    "proj-version",
    oracle="""
    SELECT p_partkey,
           CASE WHEN len(string_split(p_name, ' ')) >= 2
                THEN string_split(p_name, ' ')[2] ELSE 'v1' END AS version
    FROM part
    """,
)
def proj_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        prj.version_of_accession(
            F.regexp_replace(F.col("p_name"), " ", "."), default="v1"
        ).alias("version"),
    )


@query(
    "proj-coalesce-name",
    # blankness is judged on the TRIMMED value but the RAW candidate is
    # returned — the reference's get_study_name keeps the original
    # string, and operators/projections.py::coalesce_name mirrors it;
    # a NULLIF(TRIM(x),'') oracle would emit the trimmed value and
    # silently diverge on any whitespace-padded name
    oracle="""
    SELECT c_custkey,
           COALESCE(
             CASE WHEN TRIM(NULLIF(c_mktsegment, 'BUILDING')) <> ''
                  THEN NULLIF(c_mktsegment, 'BUILDING') END,
             CASE WHEN TRIM(c_name) <> '' THEN c_name END,
             '(no name)') AS display_name
    FROM customer
    """,
)
def proj_coalesce_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        prj.coalesce_name(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.col("c_name")
        ).alias("display_name"),
    )


@query(
    "proj-alias-fields",
    oracle="""
    SELECT doc_id, COALESCE(NULLIF(lang, 'zh'), source) AS field FROM documents
    """,
)
def proj_alias_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        prj.alias_fields(
            [F.nullif(F.col("lang"), F.lit("zh")), F.col("source")]
        ).alias("field"),
    )


@query(
    "proj-program-norm",
    oracle="""
    SELECT p_partkey,
           lower(regexp_replace(trim(split_part(p_name || '|' || p_type, '|', 1)),
                                '[ /]', '_', 'g')) AS program
    FROM part
    """,
)
def proj_program_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "part")
    pipe_list = F.concat(F.col("p_name"), F.lit("|"), F.col("p_type"))
    return df.select(
        "p_partkey", prj.normalize_program(pipe_list).alias("program")
    )


@query(
    "proj-regex-program",
    oracle="""
    SELECT c_custkey,
           regexp_extract('/programs/' || c_mktsegment || '/projects/' || c_name,
                          '^/programs/(.*)/projects/(.*)$', 1) AS program
    FROM customer
    """,
)
def proj_regex_program(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "customer")
    authz = F.concat(
        F.lit("/programs/"), F.col("c_mktsegment"), F.lit("/projects/"), F.col("c_name")
    )
    return df.select("c_custkey", prj.program_from_authz(authz).alias("program"))


@query(
    "proj-safe-text",
    oracle="""
    SELECT event_id,
           COALESCE(CAST(NULLIF(user_id, 0) AS VARCHAR), '') AS safe_user
    FROM events
    """,
)
def proj_safe_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "events")
    return df.select(
        "event_id",
        prj.safe_text(F.nullif(F.col("user_id"), F.lit(0))).alias("safe_user"),
    )


@query(
    "proj-nested-get",
    oracle="""
    SELECT event_id,
           CAST(COALESCE(json_extract_string(props, '$.missing'),
                         json_extract_string(props, '$.k')) AS BIGINT) AS k
    FROM events
    """,
)
def proj_nested_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "events")
    k = F.coalesce(
        F.get_json_object("props", "$.missing"), F.get_json_object("props", "$.k")
    ).cast("bigint")
    return df.select("event_id", k.alias("k"))


@query(
    "proj-tag-first",
    oracle="SELECT p_partkey, string_split(p_name, ' ')[1] AS first_tag FROM part",
)
def proj_tag_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        prj.tag_first(F.split(F.col("p_name"), " "), field="").alias("first_tag"),
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@query(
    "join-gen3-picsure",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus, o.o_orderpriority
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def join_gen3_picsure(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    joined = jn.enrich_left_broadcast(
        li, orders, li["l_orderkey"] == orders["o_orderkey"], "left"
    )
    return joined.select("l_orderkey", "l_linenumber", "o_orderstatus", "o_orderpriority")


@query(
    "join-semi-overlap",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS overlap FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return jn.semi_overlap_count(
        cust, orders, cust["c_custkey"] == orders["o_custkey"]
    )


@query(
    "join-anti-dd",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    out = jn.anti_join(cust, orders, cust["c_custkey"] == orders["o_custkey"])
    return out.select("c_custkey", "c_name")


@query(
    "join-broadcast-map",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    enriched = jn.broadcast_map_enrich(
        cust, nation, cust["c_nationkey"] == nation["n_nationkey"]
    )
    enriched = jn.broadcast_map_enrich(
        enriched, region, enriched["n_regionkey"] == region["r_regionkey"]
    )
    return enriched.select("c_custkey", "c_name", "n_name", "r_name")


@query(
    "join-study-dd-link",
    oracle="""
    WITH links AS (
      SELECT c_custkey, 'primary' AS label, c_custkey * 2 AS dd_id FROM customer
      UNION ALL
      SELECT c_custkey, 'secondary' AS label, c_custkey * 2 + 1 AS dd_id FROM customer
    )
    SELECT l.c_custkey, l.label, l.dd_id, o.o_orderstatus
    FROM links l JOIN orders o ON l.dd_id = o.o_orderkey
    """,
)
def join_study_dd_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    links = cust.select(
        "c_custkey",
        F.explode(
            F.create_map(
                F.lit("primary"),
                F.col("c_custkey") * 2,
                F.lit("secondary"),
                F.col("c_custkey") * 2 + 1,
            )
        ).alias("label", "dd_id"),
    )
    orders = load(spark, sf_dir, "orders")
    joined = links.join(orders, links["dd_id"] == orders["o_orderkey"], "inner")
    return joined.select("c_custkey", "label", "dd_id", "o_orderstatus")


@query(
    "join-skew-salted",
    oracle=f"""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM({DEC_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew escape hatch as a registered, oracle-checked query:
    lineitem ⋈ part through salted_join (operators/joins.py), revenue
    per brand. Semantically identical to the plain equi-join — the
    oracle proves it — while the physical plan spreads every part key
    over 8 salt buckets, the shape that keeps one hot key (a single
    study id carrying 10^8 variable rows, a viral document) from
    pinning a 100 TB join onto one reducer. Plan pinned by
    tests/test_plan_shapes.py::test_salted_join_salts_the_plan."""
    items = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_extendedprice", "l_discount"
    )
    parts = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    joined = jn.salted_join(items, parts, on="partkey", salt=8)
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(dec_rev()), 2).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@query(
    "agg-groupby-dtid",
    oracle="""
    WITH labels AS (
      SELECT l_orderkey, l_returnflag AS label FROM lineitem
      QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                 ORDER BY l_linenumber, l_returnflag) = 1
    ), grouped AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
             array_to_string(list_sort(list(l_linenumber)), ',') AS items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT g.l_orderkey, g.n_rows, g.items, l.label
    FROM grouped g JOIN labels l USING (l_orderkey)
    """,
)
def agg_groupby_dtid(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # first-of-group label made deterministic via a total ordering
    # (l_linenumber is not unique within an order in the testdata)
    label_order = F.struct(
        F.col("l_linenumber").alias("o"), F.col("l_returnflag").alias("v")
    )
    return li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_rows"),
        _items_str(F.col("l_linenumber")).alias("items"),
        F.min(label_order).getField("v").alias("label"),
    )


@query(
    "agg-count-distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg-dup-detect",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders
    GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def agg_dup_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.dup_detect(load(spark, sf_dir, "orders"), "o_custkey")


@query(
    "agg-summary-counts",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 2) AS pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_summary_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    counts = agg.summary_counts(load(spark, sf_dir, "orders"), "o_orderstatus")
    total = F.sum("n").over(W.partitionBy())
    return counts.withColumn("pct", F.round(100.0 * F.col("n") / total, 2))


@query(
    "agg-nested-counts",
    oracle="""
    SELECT l_suppkey,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_dds,
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_sections,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_suppkey
    """,
)
def agg_nested_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.nested_counts(
        load(spark, sf_dir, "lineitem"),
        keys=["l_suppkey"],
        distinct_cols=[("l_orderkey", "n_dds"), ("l_linestatus", "n_sections")],
    )


@query(
    "agg-collect-sections",
    oracle="""
    WITH vars AS (
      SELECT COALESCE(NULLIF(l_linestatus, 'O'), l_returnflag, 'none') AS section,
             l_orderkey * 10 + l_linenumber AS var_id
      FROM lineitem
    )
    SELECT section, CAST(COUNT(*) AS BIGINT) AS n_vars,
           array_to_string(list_sort(list(var_id)), ',') AS items
    FROM vars GROUP BY section
    """,
)
def agg_collect_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    section = prj.alias_fields(
        [F.nullif(F.col("l_linestatus"), F.lit("O")), F.col("l_returnflag")],
        default=F.lit("none"),
    )
    vars_df = li.select(
        section.alias("section"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("var_id"),
    )
    return vars_df.groupBy("section").agg(
        F.count("*").alias("n_vars"), _items_str(F.col("var_id")).alias("items")
    )


@query(
    "agg-group-by-key-files",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderstatus FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def agg_group_by_key_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    first = agg.first_wins(
        orders, "o_custkey", [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    return first.select("o_custkey", "o_orderkey", "o_orderstatus")


@query(
    "agg-variable-count",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS lvl
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_variable_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.grouping_id("l_returnflag", "l_linestatus").cast("int").alias("lvl"),
    )


_PIVOT_ORACLE = """
WITH joined AS (
  SELECT n.n_name, o.o_orderstatus
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
)
SELECT n_name,
       SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END)::BIGINT AS F,
       SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END)::BIGINT AS O,
       SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END)::BIGINT AS P
FROM joined GROUP BY n_name
"""


@query("agg-pivot-report", oracle=_PIVOT_ORACLE)
def agg_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    joined = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select("n_name", "o_orderstatus")
    )
    return joined.groupBy("n_name").pivot("o_orderstatus", ["F", "O", "P"]).agg(
        F.count(F.lit(1))
    )


# ---------------------------------------------------------------------------
# Unpivot / melt — the inverse reshape of agg-pivot-report: a wide
# per-priority status matrix back to tall (priority, status, n) rows.
# Spark's unpivot (melt) rewrites to a single Expand node — each input
# row emits one row per value column, row-local, so the reshape is
# scan-cost with NO shuffle beyond the one groupBy that built the wide
# matrix. Counts are coalesced to 0 before melting because Spark's
# unpivot keeps NULL-valued rows while DuckDB's UNPIVOT drops them —
# zero-filling makes both engines emit the identical dense matrix.
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT o_orderpriority,
         COALESCE(COUNT(*) FILTER (o_orderstatus = 'O'), 0) AS n_open,
         COALESCE(COUNT(*) FILTER (o_orderstatus = 'F'), 0) AS n_filled,
         COALESCE(COUNT(*) FILTER (o_orderstatus = 'P'), 0) AS n_partial
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, status, n
FROM wide UNPIVOT (n FOR status IN (n_open, n_filled, n_partial))
"""


@query("agg-unpivot-melt", oracle=_UNPIVOT_ORACLE)
def agg_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_filled"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_partial"),
    )
    return wide.unpivot(
        "o_orderpriority", ["n_open", "n_filled", "n_partial"], "status", "n"
    )


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------


@query(
    "win-first-per-group",
    oracle="""
    SELECT o_custkey, o_orderpriority AS first_priority FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def win_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.first_per_group(
        load(spark, sf_dir, "orders"),
        key="o_custkey",
        order=[F.col("o_orderdate"), F.col("o_orderkey")],
        value="o_orderpriority",
        alias="first_priority",
    )


@query(
    "win-uniquify-id",
    oracle="""
    SELECT p_partkey,
           CASE WHEN rn > 1 THEN p_brand || '_' || CAST(rn - 1 AS VARCHAR)
                ELSE p_brand END AS uniq_name
    FROM (SELECT p_partkey, p_brand,
                 ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rn
          FROM part)
    """,
)
def win_uniquify_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = win.uniquify_ids(
        load(spark, sf_dir, "part"),
        name_col="p_brand",
        order=[F.col("p_partkey")],
        out_col="uniq_name",
    )
    return out.select("p_partkey", "uniq_name")


@query(
    "win-latest-file",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS latest_date
    FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
    """,
)
def win_latest_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = win.latest_by(
        load(spark, sf_dir, "orders"), [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    return latest.select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_date")
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits
# ---------------------------------------------------------------------------


@query("sort-ids", oracle="SELECT c_custkey, c_name FROM customer ORDER BY c_custkey")
def sort_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srt.sort_by(load(spark, sf_dir, "customer"), "c_custkey").select(
        "c_custkey", "c_name"
    )


@query(
    "sort-jq",
    oracle="SELECT doc_id AS collection_id, source AS collection_name, lang AS collection_action FROM documents ORDER BY collection_id",
)
def sort_jq(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("collection_id"),
        F.col("source").alias("collection_name"),
        F.col("lang").alias("collection_action"),
    )
    return srt.sort_by(df, "collection_id")


@query(
    "sort-distinct-join",
    oracle="SELECT string_agg(DISTINCT p_brand, '|' ORDER BY p_brand) AS joined FROM part",
)
def sort_distinct_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srt.sorted_distinct_join(load(spark, sf_dir, "part"), "p_brand")


@query(
    "limit-top1",
    oracle="SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 1",
)
def limit_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srt.top_k(load(spark, sf_dir, "orders"), [F.col("o_orderkey")], 1).select(
        "o_orderkey", "o_orderstatus"
    )


@query(
    "limit-page",
    oracle="""
    SELECT o_orderkey FROM orders WHERE o_orderkey > 100
    ORDER BY o_orderkey LIMIT 50
    """,
)
def limit_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srt.page(
        load(spark, sf_dir, "orders"), "o_orderkey", after=100, limit=50
    ).select("o_orderkey")


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@query("set-union-append", oracle="SELECT c_custkey, c_name FROM customer")
def set_union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    even = cust.filter(F.col("c_custkey") % 2 == 0)
    odd = cust.filter(F.col("c_custkey") % 2 == 1)
    return st.union_append(even, odd)


@query(
    "set-except",
    oracle="SELECT c_custkey AS id FROM customer EXCEPT SELECT o_custkey AS id FROM orders",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    return st.except_ids(cust, orders)


@query(
    "set-intersect",
    oracle="SELECT c_custkey AS id FROM customer INTERSECT SELECT o_custkey AS id FROM orders",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    orders = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    return st.intersect_ids(cust, orders)


@query("set-distinct", oracle="SELECT DISTINCT c_mktsegment FROM customer")
def set_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.distinct_rows(load(spark, sf_dir, "customer").select("c_mktsegment"))


@query(
    "join-fuzzy-qgram",
    oracle="""
    WITH probes AS (
      SELECT p_partkey AS probe_id,
             substr(p_name, 1, length(p_name) - 2) AS probe_name
      FROM part WHERE p_partkey % 191 = 0
    )
    SELECT pr.probe_id, p.p_partkey AS match_id,
           CAST(levenshtein(pr.probe_name, p.p_name) AS INT) AS lev
    FROM probes pr JOIN part p
      ON levenshtein(pr.probe_name, p.p_name) <= 2
    """,
)
def join_fuzzy_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join (lev ≤ 2) with q-gram blocking: every 191st
    part's name, truncated by two characters, is matched back against
    the part table. TPC-H part names cluster into few lengths, so
    length-band blocking would degenerate toward n/|buckets| candidates
    per probe; rare-trigram blocking does not depend on lengths.

    Because ``fuzzy_join_qgram``'s blocking is COMPLETE for lev ≤ 2
    (operators/joins.py — type/occurrence pigeonhole over the 7 rarest
    corpus-present trigrams per probe), the oracle is the NAIVE
    levenshtein theta-join: the driver's hash compare therefore grades
    not just the values but the blocking's zero-miss property on real
    data. Reference parity: the reference's nearest analogue is its
    manual study-name reconciliation; no file implements fuzzy joins —
    this is extension surface."""
    parts = load(spark, sf_dir, "part")
    probes = parts.filter(F.col("p_partkey") % 191 == 0).select(
        F.col("p_partkey").alias("pid"),
        F.expr("substring(p_name, 1, length(p_name) - 2)").alias("pname"),
    )
    return jn.fuzzy_join_qgram(
        parts, probes,
        cand_id="p_partkey", cand_str="p_name",
        probe_id="pid", probe_str="pname",
        max_dist=2,
    )
