"""Warehouse-maintenance query wrappers (CDC, SCD, compaction, pruning, rollups, format round-trips). Moved verbatim from queries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kickstarter_etl_pipeline_spark import qdefs_star_events
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.plans.star import tpch_dim_category, tpch_dim_state, tpch_fact
from kickstarter_etl_pipeline_spark.sources.readers import load_table


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def q_cdc_apply_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply end-to-end: a base table (even orderkeys) receives one
    change batch containing, per affected key, an UPDATE at seq 1
    (price + 500 for keys ≡0 mod 4), a DELETE at seq 2 (keys ≡0 mod 8 —
    which also matched the update, so last-writer-wins must let the
    delete prevail), and INSERTs (keys ≡1 mod 4). The stored result is
    aggregated; the oracle reconstructs the same final state, so a
    resurrected delete, double-applied update, lost carry, or missed
    insert flips the hash."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import apply_cdc_batch, merge_upsert

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = run_scratch_dir("cdc_orders_") + "/t"
    merge_upsert(spark, orders.filter(F.col("o_orderkey") % 2 == 0), path, keys=["o_orderkey"])
    k = F.col("o_orderkey")
    updates = orders.filter(k % 4 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(500.0)).alias("o_totalprice"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    deletes = orders.filter(k % 8 == 0).select(
        "o_orderkey", F.col("o_totalprice"), F.lit(2).alias("seq"), F.lit("D").alias("op")
    )
    inserts = orders.filter(k % 4 == 1).select(
        "o_orderkey", F.col("o_totalprice"), F.lit(1).alias("seq"), F.lit("I").alias("op")
    )
    apply_cdc_batch(
        spark, path, updates.unionByName(deletes).unionByName(inserts), keys=["o_orderkey"]
    )
    return spark.read.parquet(path).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


TWINS["cdc_apply_agg"] = """
        WITH final AS (
          -- carries: even, not updated (mod 4), not deleted (mod 8)
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 <> 0
          UNION ALL
          -- updates that survived (mod 4 but the mod-8 delete wins)
          SELECT o_orderkey, o_totalprice + 500.0 FROM orders
          WHERE o_orderkey % 4 = 0 AND o_orderkey % 8 <> 0
          UNION ALL
          -- inserts
          SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 1
        )
        SELECT count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        FROM final
    """


def q_scd1_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 MERGE end-to-end: a base table (even orderkeys) receives an
    upsert batch that UPDATES the keys divisible by 4 (price + 1000) and
    INSERTS the keys ≡ 1 (mod 4); untouched base rows carry over. The
    stored result is aggregated; the oracle reconstructs the same merge
    in SQL, so a dropped carry, double-applied update, or missed insert
    breaks the hash."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = run_scratch_dir("scd1_orders_") + "/t"
    merge_upsert(spark, orders.filter(F.col("o_orderkey") % 2 == 0), path, keys=["o_orderkey"])
    updates = orders.filter(F.col("o_orderkey") % 4 <= 1).select(
        "o_orderkey", (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice")
    )
    merge_upsert(spark, updates, path, keys=["o_orderkey"])
    return spark.read.parquet(path).agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


TWINS["scd1_merge_agg"] = """
        WITH merged AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 > 1
          UNION ALL
          SELECT o_orderkey, o_totalprice + 1000.0 FROM orders
          WHERE o_orderkey % 4 <= 1
        )
        SELECT count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        FROM merged
    """


def q_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history build (operators.dims.scd2_history): each
    customer's order stream becomes versioned dimension rows with
    [effective_from, effective_to) validity and is_current flag."""
    from kickstarter_etl_pipeline_spark.operators.dims import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    hist = scd2_history(
        orders,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority", "o_totalprice"],
        ts_col="o_orderdate",
        id_col="o_orderkey",
    )
    return hist.select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.date_format("effective_from", "yyyy-MM-dd").alias("effective_from"),
        F.date_format("effective_to", "yyyy-MM-dd").alias("effective_to"),
        "version",
        "is_current",
    )


TWINS["scd2_priority_history"] = """
        SELECT o_custkey, o_orderkey, o_orderpriority, o_totalprice,
               strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
               strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS effective_to,
               CAST(row_number() OVER w AS INTEGER) AS version,
               CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """


def q_dpp_join_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-driven DYNAMIC partition pruning end-to-end — the star-
    schema scan optimization static pruning can't do: the fact is
    written hive-partitioned by order year, the dim side is an
    AGGREGATED year frame filtered at runtime (even years), and the
    fact scan is pruned by the dim's surviving keys via Catalyst's
    DPP (`dynamicpruningexpression(order_year IN dynamicpruning#N)` in
    PartitionFilters — plan-pinned in
    tests/test_streaming_append_and_jdbc.py). At 100 TB this is the
    difference between scanning every date partition and scanning only
    the ones the dim filter selects; the dim broadcast is reused as
    the pruning subquery, so the pruning costs no extra pass.

    Output: per surviving (order_year, o_orderpriority), order count,
    exact-decimal price total, and the dim's year total riding along
    to prove the join contributed."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import write_parquet

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    path = run_scratch_dir("dpp_orders_") + "/t"
    write_parquet(orders, path)
    dim = (
        orders.groupBy(F.col("order_year").alias("dim_year"))
        .agg(F.count("*").cast("long").alias("n_year"))
        .filter(F.col("dim_year") % 2 == 0)
    )
    fact = spark.read.parquet(path)
    return (
        fact.join(F.broadcast(dim), fact["order_year"] == dim["dim_year"])
        .groupBy("order_year", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
            F.max("n_year").alias("n_year"),
        )
    )


# FULL twin of q_dpp_join_prune_agg (plans/warehouse_queries.py): the
# hive-partitioned write→read round-trip is values-transparent (the
# partitioned_prune_agg precedent), so the twin is the same dim-join
# aggregate on the plain orders table. year() is BIGINT in DuckDB —
# cast to INTEGER to match Spark's year() INT.
TWINS["dpp_join_prune_agg"] = """
    WITH dim AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS dim_year,
             CAST(count(*) AS BIGINT) AS n_year
      FROM orders GROUP BY 1 HAVING (dim_year % 2) = 0)
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price,
           max(n_year) AS n_year
    FROM orders JOIN dim ON CAST(year(o_orderdate) AS INTEGER) = dim.dim_year
    GROUP BY 1, 2
"""


def q_partitioned_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned fact layout end-to-end: orders written partitioned by
    order year (the reference's date-keyed warehouse layout re-expressed
    as hive partitioning), read back with a year predicate — which scans
    ONLY that year's directory (partition pruning, plan-asserted in
    tests/test_streaming_append_and_jdbc.py) — and aggregated by
    priority against a plain-orders oracle."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import write_parquet

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    path = run_scratch_dir("part_orders_") + "/t"
    write_parquet(orders, path)
    return (
        spark.read.parquet(path)
        .filter(F.col("order_year") == 1998)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


TWINS["partitioned_prune_agg"] = """
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        FROM orders
        WHERE year(o_orderdate) = 1998
        GROUP BY 1
    """


def q_incremental_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance end-to-end: orders fold into a
    stored per-priority rollup in three batches (keys mod 3) via
    sources.sinks.incremental_rollup_update — each fold touches only
    its batch plus the key-cardinality-sized stored partials, never
    rescanning history. The final table must equal a direct group-by
    over all orders (monoid partials), including the derived average."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import incremental_rollup_update

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    path = run_scratch_dir("rollup_orders_") + "/t"
    for i in range(3):
        incremental_rollup_update(
            spark,
            path,
            orders.filter(F.col("o_orderkey") % 3 == i),
            keys=["o_orderpriority"],
        )
    stored = spark.read.parquet(path)
    total = F.col("sum_o_totalprice")
    return stored.select(
        "o_orderpriority",
        F.col("n_rows").cast("long").alias("n_orders"),
        F.round(total, 2).cast("double").alias("total_price"),
        round_det(F.round(total, 2).cast("double") / F.col("n_rows"), 6).alias("avg_price"),
    )


TWINS["incremental_rollup_agg"] = """
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,4))), 2) AS DOUBLE) AS total_price,
               floor(CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,4))), 2) AS DOUBLE) / count(*)
                     * 1000000 + 0.5) / 1000000.0 AS avg_price
        FROM orders
        GROUP BY 1
    """


def q_idempotent_append_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 INSERT OR IGNORE end-to-end (reference
    ``src/etl_pipeline.py:198``): batch A (even doc_ids) is appended,
    then the FULL document set is appended with key-dedup — every row of
    A is already present and must be ignored, so the stored table equals
    each document exactly once. The oracle is the same aggregate over
    plain ``documents``; any duplicate or lost row flips the counts."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import append_ignore_existing

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = run_scratch_dir("idem_docs_") + "/t"
    append_ignore_existing(spark, docs.filter(F.col("doc_id") % 2 == 0), path, keys=["doc_id"])
    append_ignore_existing(spark, docs, path, keys=["doc_id"])
    return (
        spark.read.parquet(path)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
    )


TWINS["idempotent_append_agg"] = """
        SELECT source, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(sum(n_chars) AS BIGINT) AS chars_sum
        FROM documents
        GROUP BY source
    """


def q_compaction_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end: documents written as 16 small
    files, compacted to 2 via the crash-safe rename swap
    (sources.sinks.compact_parquet), then aggregated — a lost or
    duplicated row during the rewrite/swap flips the counts against the
    plain-documents oracle. The file-count reduction itself is asserted
    in tests/test_scale_paths.py; the graded result proves data
    fidelity."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import compact_parquet

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = run_scratch_dir("compact_docs_") + "/t"
    docs.repartition(16).write.parquet(path)
    compact_parquet(spark, path, target_files=2)
    return (
        spark.read.parquet(path)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
    )


# Compaction must preserve the data exactly — same oracle as the
# idempotent-append round-trip (a plain aggregate over documents).
TWINS["compaction_roundtrip_agg"] = TWINS["idempotent_append_agg"]


def q_dq_star_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint report over the star build — the checkable version of
    the reference's SQLite-enforced PK/UNIQUE/NOT NULL/FK constraints
    (sql/create_tables.sql): fact row count, duplicate PKs, null FKs,
    and per-dimension orphans, as one single-row report (each count is
    one aggregate/anti-join; the 1-row frames cross-join for free)."""
    from kickstarter_etl_pipeline_spark.operators.quality import (
        count_nulls,
        duplicate_key_count,
        orphan_count,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dim_s = tpch_dim_state(orders)
    dim_c = tpch_dim_category(part)
    fact = tpch_fact(lineitem, orders, part, dim_s, dim_c)
    base = fact.agg(
        F.count(F.lit(1)).cast("long").alias("n_fact"),
        count_nulls(fact, ["state_key", "category_key"]).alias("n_null_fks"),
    )
    dup_fact = duplicate_key_count(fact, ["l_orderkey", "l_linenumber"]).select(
        F.col("n_duplicate_keys").alias("n_dup_fact_keys")
    )
    dup_state = duplicate_key_count(dim_s, ["state_name"]).select(
        F.col("n_duplicate_keys").alias("n_dup_state_names")
    )
    orph_state = orphan_count(fact, dim_s, "state_key", "state_key").select(
        F.col("n_orphans").alias("n_orphan_state_keys")
    )
    orph_cat = orphan_count(fact, dim_c, "category_key", "category_key").select(
        F.col("n_orphans").alias("n_orphan_category_keys")
    )
    report = base
    for piece in (dup_fact, dup_state, orph_state, orph_cat):
        report = report.crossJoin(F.broadcast(piece))
    return report


TWINS["dq_star_report"] = f"""
        WITH dim_state AS ({qdefs_star_events.TWINS['dim_state']}),
             dim_category AS ({qdefs_star_events.TWINS['dim_category']}),
             fact AS ({qdefs_star_events.TWINS['fact_star']})
        SELECT
          (SELECT count(*) FROM fact) AS n_fact,
          (SELECT CAST(sum(CASE WHEN state_key IS NULL THEN 1 ELSE 0 END
                         + CASE WHEN category_key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             FROM fact) AS n_null_fks,
          (SELECT CAST(count(*) - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM fact)) AS BIGINT)
             FROM fact) AS n_dup_fact_keys,
          (SELECT CAST(count(*) - count(DISTINCT state_name) AS BIGINT) FROM dim_state) AS n_dup_state_names,
          (SELECT CAST(count(*) AS BIGINT) FROM fact
            WHERE state_key IS NOT NULL
              AND state_key NOT IN (SELECT state_key FROM dim_state)) AS n_orphan_state_keys,
          (SELECT CAST(count(*) AS BIGINT) FROM fact
            WHERE category_key IS NOT NULL
              AND category_key NOT IN (SELECT category_key FROM dim_category)) AS n_orphan_category_keys
    """


def q_dq_quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style quarantine end-to-end: orders are
    deterministically corrupted (negated price on keys ≡0 mod 7, bogus
    status on ≡0 mod 11, nulled priority on ≡0 mod 13 — the clean
    fixture has no violations of its own), split by three null-safe
    rules via operators.quality.quarantine_split, and summarized as a
    one-row report: input/clean/quarantined totals, per-rule violation
    counts (a row can violate several), and the clean-side price sum.
    The oracle reconstructs the identical corruption and gate in SQL."""
    from kickstarter_etl_pipeline_spark.operators.quality import quarantine_split

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    corrupted = orders.select(
        "o_orderkey",
        F.when(k % 7 == 0, -F.col("o_totalprice")).otherwise(F.col("o_totalprice")).alias("price"),
        F.when(k % 11 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(k % 13 == 0, F.lit(None).cast("string")).otherwise(F.col("o_orderpriority")).alias("prio"),
    )
    rules = {
        "price_positive": F.coalesce(F.col("price") > 0, F.lit(False)),
        "status_valid": F.coalesce(F.col("status").isin("F", "P", "O"), F.lit(False)),
        "priority_not_null": F.col("prio").isNotNull(),
    }
    clean, quarantined = quarantine_split(corrupted, rules)
    clean_agg = clean.agg(
        F.count("*").alias("n_clean"),
        F.round(F.sum(F.col("price").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("clean_price_sum"),
    )
    quar_agg = quarantined.agg(
        F.count("*").alias("n_quarantined"),
        *[
            F.sum(F.when(F.array_contains("violated_rules", name), 1).otherwise(0))
            .cast("long")
            .alias(f"n_viol_{name}")
            for name in rules
        ],
    )
    return clean_agg.crossJoin(quar_agg).select(
        (F.col("n_clean") + F.col("n_quarantined")).alias("n_input"),
        "n_clean",
        "n_quarantined",
        "n_viol_price_positive",
        "n_viol_status_valid",
        "n_viol_priority_not_null",
        "clean_price_sum",
    )


TWINS["dq_quarantine_report"] = """
        WITH corrupted AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0 THEN -o_totalprice ELSE o_totalprice END AS price,
                 CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS status,
                 CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderpriority END AS prio
          FROM orders),
        gated AS (
          SELECT *,
                 CASE WHEN coalesce(price > 0, FALSE) THEN 0 ELSE 1 END AS v_price,
                 CASE WHEN coalesce(status IN ('F','P','O'), FALSE) THEN 0 ELSE 1 END AS v_status,
                 CASE WHEN prio IS NOT NULL THEN 0 ELSE 1 END AS v_prio
          FROM corrupted)
        SELECT count(*) AS n_input,
               CAST(sum(CASE WHEN v_price + v_status + v_prio = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
               CAST(sum(CASE WHEN v_price + v_status + v_prio > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
               CAST(sum(v_price) AS BIGINT) AS n_viol_price_positive,
               CAST(sum(v_status) AS BIGINT) AS n_viol_status_valid,
               CAST(sum(v_prio) AS BIGINT) AS n_viol_priority_not_null,
               CAST(round(sum(CASE WHEN v_price + v_status + v_prio = 0
                                   THEN CAST(price AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS clean_price_sum
        FROM gated
    """


def q_csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 CSV source: write orders to CSV, read back with the explicit
    schema, aggregate — proves the CSV reader end-to-end. The oracle runs
    the same aggregate on the original parquet."""
    from pyspark.sql import types as T

    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.readers import read_csv

    orders = load_table(spark, sf_dir, "orders")
    # Per-run scratch: concurrent sessions can't collide on the path,
    # and the round-trip files are cleaned at process exit.
    path = run_scratch_dir("csv_orders_")
    orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = read_csv(spark, path, schema=schema)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


TWINS["csv_roundtrip_agg"] = """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY o_orderstatus
    """


# ---------------------------------------------------------------------------
# Documents: dedup + text analysis
# ---------------------------------------------------------------------------


def _roundtrip_agg(back: DataFrame) -> DataFrame:
    """Shared aggregate for the format round-trip proofs — the oracle
    runs the same aggregate on the original parquet, so any loss or
    corruption in the write→read cycle flips the hash."""
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def q_json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines source: write orders as JSONL, read back with the
    explicit schema (inference over 100 TB of JSON is a non-starter),
    aggregate. Doubles survive exactly: Spark writes shortest-repr
    decimal strings and reads them back to the identical double."""
    from pyspark.sql import types as T

    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    path = run_scratch_dir("json_orders_")
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    return _roundtrip_agg(spark.read.schema(schema).json(path))


# Format round-trips must reproduce the parquet-sourced aggregate exactly.
TWINS["json_roundtrip_agg"] = TWINS["csv_roundtrip_agg"]


def q_schema_evolution_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read end-to-end, graded (was pytest-only before
    r8): half the documents are written under the v1 schema (doc_id,
    source), the other half under v2 (+ n_chars) — the append-only
    column-add a long-lived table accrues — then read back with
    ``mergeSchema`` (sources.readers.read_parquet_evolved) and
    aggregated. v1 rows must surface n_chars as NULL, not 0 and not an
    error: the oracle computes the same per-source counts with
    n_chars summed ONLY over the v2 half (even doc_ids), so a reader
    that drops old files, nulls the wrong side, or coalesces NULL to 0
    flips the grade."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.readers import read_parquet_evolved

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = run_scratch_dir("schema_evo_") + "/t"
    docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source").write.parquet(path)
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(path)
    merged = read_parquet_evolved(spark, path)
    return merged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count("n_chars").cast("long").alias("n_docs_v2"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("v2_chars_sum"),
    )


# FULL twin of q_schema_evolution_agg: v1 files (odd doc_ids) carry no
# n_chars column and must surface NULL under mergeSchema — so n_chars
# aggregates run only over the even (v2) half.
TWINS["schema_evolution_agg"] = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_v2,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars END) AS BIGINT)
             AS v2_chars_sum
    FROM documents
    GROUP BY source
"""


def q_orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink: the other columnar format a warehouse migration
    encounters; write orders as ORC, read back, aggregate."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    path = run_scratch_dir("orc_orders_")
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode("overwrite").orc(path)
    return _roundtrip_agg(spark.read.orc(path))


# Same round-trip contract as json_roundtrip_agg.
TWINS["orc_roundtrip_agg"] = TWINS["csv_roundtrip_agg"]


def q_range_clustered_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping layout end-to-end: orders written range-clustered
    on o_orderdate (disjoint per-file ranges + in-file sort → tight
    footer min/max), then a one-year predicate aggregates the
    read-back. The oracle runs the same filter+aggregate on the
    original parquet, so a row misplaced across range boundaries or
    lost in the rewrite flips the hash; per-file range disjointness is
    asserted from the real footers in tests/test_range_clustering.py."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.bucketing import range_clustered

    orders = load_table(spark, sf_dir, "orders")
    path = run_scratch_dir("range_orders_")
    range_clustered(
        orders.select("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"),
        "o_orderdate",
        8,
    ).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


TWINS["range_clustered_prune_agg"] = """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY o_orderstatus
    """


def q_jsonl_pyds_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector end-to-end: documents → JSONL files → read back
    through the Python Data Source API (sources/python_datasource.py) →
    aggregate. Repartitioned to 4 files so the custom source actually
    plans 4 InputPartitions (per-file parallelism, not a driver funnel);
    the oracle runs the same aggregate on the original parquet, so any
    row or value the connector drops or mangles flips the hash."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.python_datasource import register

    docs = load_table(spark, sf_dir, "documents")
    path = run_scratch_dir("pyds_docs_")
    docs.select("doc_id", "text", "lang", "source", "n_chars").repartition(4).write.mode(
        "overwrite"
    ).json(path)
    register(spark)
    back = (
        spark.read.format("pyjsonl")
        .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
        .load(path)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
        F.count_distinct("lang").alias("n_langs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# Custom Python Data Source connector round-trip: same contract, over
# the documents table.
TWINS["jsonl_pyds_roundtrip_agg"] = """
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS total_text_len,
           count(DISTINCT lang) AS n_langs,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents GROUP BY source
"""


def q_zorder_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) multidimensional clustering report over
    orders: bucket (o_orderdate, o_totalprice) into a 16×16 grid, bit-
    interleave the two 4-bit bucket ids into an 8-bit z-value, group the
    256 cells into 16 "files" of 16 consecutive z-cells, and report each
    file's row count and min/max range in BOTH dimensions.

    This is the data-layout math behind Delta/Iceberg Z-ORDER BY: a
    1-dim sort gives perfect pruning on one column and none on the
    other; the Morton interleave bounds every file's extent in both,
    so 2-dim predicates skip most files. The physical write+skip proof
    for 1-dim clustering lives in q_range_clustered_prune_agg (real
    files, real PushedFilters); this query grades the integer z-math
    and the locality it produces — every step is exact integer
    arithmetic, fully oracle-able.

    Scale posture: two tiny min/max aggregates ride a one-row
    broadcast; bucket + interleave are per-row bit ops; the report is
    one uniform 16-key aggregate. At 100 TB the same z-value becomes
    the repartitionByRange / sortWithinPartitions key at write time.
    """
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    rng = F.broadcast(
        o.agg(
            F.min("day").alias("_dmin"), F.max("day").alias("_dmax"),
            F.min("cents").alias("_cmin"), F.max("cents").alias("_cmax"),
        )
    )
    staged = o.crossJoin(rng).select(
        "day",
        "cents",
        # floor() explicitly: Spark's double→long cast truncates while
        # DuckDB's CAST rounds — floor is the one both engines share.
        F.floor(
            (F.col("day") - F.col("_dmin")) * 16 / (F.col("_dmax") - F.col("_dmin") + 1)
        ).alias("bd"),
        F.floor(
            (F.col("cents") - F.col("_cmin")) * 16 / (F.col("_cmax") - F.col("_cmin") + 1)
        ).alias("bp"),
    )
    z = F.lit(0).cast("long")
    for i in range(4):
        z = (
            z
            + F.shiftleft(F.shiftright(F.col("bd"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(F.col("bp"), i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return (
        staged.withColumn("zval", z)
        .withColumn("file_id", F.shiftright(F.col("zval").cast("int"), 4).cast("long"))
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("day").cast("long").alias("min_day"),
            F.max("day").cast("long").alias("max_day"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
    )


# FULL twin of q_zorder_layout_report: identical integer bucket grid
# (explicit floor — Spark's double→long cast truncates, DuckDB's
# rounds), identical 4+4-bit Morton interleave and 16-cell file blocks.
TWINS["zorder_layout_report"] = """
    WITH o AS (SELECT CAST(date_diff('day', DATE '1990-01-01', o_orderdate) AS BIGINT) AS day,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM orders),
    r AS (SELECT min(day) AS dmin, max(day) AS dmax,
                 min(cents) AS cmin, max(cents) AS cmax FROM o),
    b AS (SELECT day, cents,
                 CAST(floor((day - dmin) * 16 / (dmax - dmin + 1)) AS BIGINT) AS bd,
                 CAST(floor((cents - cmin) * 16 / (cmax - cmin + 1)) AS BIGINT) AS bp
          FROM o, r),
    z AS (SELECT day, cents,
                 (((bd >> 0) & 1) << 1) + (((bp >> 0) & 1) << 0) +
                 (((bd >> 1) & 1) << 3) + (((bp >> 1) & 1) << 2) +
                 (((bd >> 2) & 1) << 5) + (((bp >> 2) & 1) << 4) +
                 (((bd >> 3) & 1) << 7) + (((bp >> 3) & 1) << 6) AS zval
          FROM b)
    SELECT CAST(zval >> 4 AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(day) AS min_day, max(day) AS max_day,
           min(cents) AS min_cents, max(cents) AS max_cents
    FROM z GROUP BY 1
"""


def q_pit_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join (the feature-store / SCD2-lookup shape): each
    lineitem is matched to the priority VERSION its customer had at
    ship time — equi-join on the key plus a half-open validity-interval
    predicate [effective_from, effective_to) against the Type-2
    history — then rolled up to revenue per point-in-time priority.
    Training-data pipelines need exactly this join to avoid feature
    leakage (using today's attribute for yesterday's example).

    The interval predicate rides the custkey equi-join (SMJ with a
    residual range condition — never a cross product); versions per key
    are bounded by order count, so the join fan-out is 1 by
    construction (validity intervals partition the timeline).
    """
    from kickstarter_etl_pipeline_spark.operators.dims import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    hist = scd2_history(
        orders,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
        id_col="o_orderkey",
    ).select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderpriority").alias("pit_priority"),
        "effective_from",
        "effective_to",
    )
    li = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).select("o_custkey", "l_shipdate", "l_extendedprice")
    joined = li.join(
        hist,
        (F.col("o_custkey") == F.col("h_custkey"))
        & (F.col("l_shipdate") >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col("l_shipdate") < F.col("effective_to"))),
    )
    return joined.groupBy("pit_priority").agg(
        F.count("*").cast("long").alias("n_lineitems"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# FULL twin of q_pit_priority_revenue: the scd2_priority_history
# window recurrence, the same half-open interval predicate, the same
# decimal revenue roll-up.
TWINS["pit_priority_revenue"] = """
    WITH hist AS (
      SELECT o_custkey AS h_custkey, o_orderpriority AS pit_priority,
             o_orderdate AS effective_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS effective_to
      FROM orders),
    li AS (SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    j AS (SELECT h.pit_priority, li.l_extendedprice
          FROM li JOIN hist h
            ON li.o_custkey = h.h_custkey
           AND li.l_shipdate >= h.effective_from
           AND (h.effective_to IS NULL OR li.l_shipdate < h.effective_to))
    SELECT pit_priority, CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM j GROUP BY pit_priority
"""


def q_time_travel_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel end-to-end (sources.sinks.write_snapshot /
    read_snapshot): v1 = base orders (even keys), v2 = SCD1-style
    update (+1000 on keys divisible by 4, inserts for keys ≡1 mod 4);
    the graded result reads BOTH versions back and aggregates them side
    by side — proving v1 stayed immutable under the v2 commit and the
    pointer swap is atomic (the crash-safety branch is pytest-proven).
    """
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import read_snapshot, write_snapshot

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    table = run_scratch_dir("tt_orders_") + "/t"
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    write_snapshot(spark, base, table)
    updates = orders.filter(F.col("o_orderkey") % 4 <= 1).select(
        "o_orderkey", (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice")
    )
    merged = (
        base.join(updates.select(F.col("o_orderkey").alias("_k")), base.o_orderkey == F.col("_k"), "left_anti")
        .unionByName(updates)
    )
    write_snapshot(spark, merged, table)
    parts = []
    for v in (1, 2):
        parts.append(
            read_snapshot(spark, table, version=v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_price"),
            )
        )
    return parts[0].unionAll(parts[1])


# FULL twin of q_time_travel_agg: reconstruct both committed snapshot
# states (v1 = even keys; v2 = v1 minus updated keys, plus the update
# batch) and aggregate them side by side.
TWINS["time_travel_agg"] = """
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
    upd AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 4 <= 1),
    v2 AS (SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           UNION ALL SELECT * FROM upd)
    SELECT CAST(1 AS INTEGER) AS version, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
    FROM base
    UNION ALL
    SELECT CAST(2 AS INTEGER), count(*), CAST(sum(o_orderkey) AS BIGINT),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
    FROM v2
"""
