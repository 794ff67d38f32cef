"""DuckDB oracle SQL, part 1: star schema, events/streaming, corpus.

Values must stay bit-comparable with the Spark twins — see the
determinism rules in queries.py. Split out of queries.py in round 6.
"""

from kickstarter_etl_pipeline_spark.constants import ANN_K

_DIM_STATE_SQL = """
  SELECT CAST(row_number() OVER (ORDER BY state_name) AS INTEGER) AS state_key,
         state_name,
         CAST(CASE WHEN state_name = 'F' THEN 1 ELSE 0 END AS INTEGER) AS is_finished
  FROM (SELECT DISTINCT o_orderstatus AS state_name FROM orders)
"""

_DIM_CATEGORY_SQL = """
  SELECT CAST(row_number() OVER (ORDER BY main_category_name, sub_category_name) AS INTEGER) AS category_key,
         main_category_name, sub_category_name
  FROM (SELECT DISTINCT p_brand AS main_category_name, p_type AS sub_category_name FROM part)
"""

_FACT_SQL = f"""
  WITH dim_state AS ({_DIM_STATE_SQL}),
       dim_category AS ({_DIM_CATEGORY_SQL})
  SELECT l.l_orderkey, l.l_linenumber,
         round(l.l_extendedprice * (1 - l.l_discount), 4) AS revenue,
         round((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) / 86400000000.0, 6) AS ship_delay_days,
         s.state_key, c.category_key,
         CAST(strftime(o.o_orderdate, '%Y%m%d') AS INTEGER) AS order_date_key
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN part p ON l.l_partkey = p.p_partkey
  LEFT JOIN dim_state s ON s.state_name = o.o_orderstatus
  LEFT JOIN dim_category c
         ON c.main_category_name = p.p_brand AND c.sub_category_name = p.p_type
"""


_EN_STOP = "['the','a','of','and','to','is']"
_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

ORACLES_CORE: dict[str, str] = {
    "dim_date": """
        SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
               strftime(d, '%Y-%m-%d') AS full_date,
               CAST(year(d) AS INTEGER) AS year,
               CAST(quarter(d) AS INTEGER) AS quarter,
               CAST(month(d) AS INTEGER) AS month,
               CAST(day(d) AS INTEGER) AS day,
               dayname(d) AS day_of_week,
               CAST(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS INTEGER) AS is_weekend
        FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
    """,
    "dim_state": _DIM_STATE_SQL,
    "dim_category": _DIM_CATEGORY_SQL,
    "fact_star": _FACT_SQL,
    "star_flagship": f"""
        WITH dim_state AS ({_DIM_STATE_SQL}), fact AS ({_FACT_SQL})
        SELECT s.state_name,
               CAST(f.order_date_key // 10000 AS INTEGER) AS order_year,
               count(*) AS n_items,
               CAST(round(sum(CAST(f.revenue AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue,
               floor(avg(f.ship_delay_days) * 10000 + 0.5) / 10000.0 AS avg_ship_delay_days
        FROM fact f JOIN dim_state s USING (state_key)
        GROUP BY 1, 2
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
               sum_charge,
               floor(sum_qty / count_order * 1000000 + 0.5) / 1000000.0 AS avg_qty,
               floor(sum_base_price / count_order * 1000000 + 0.5) / 1000000.0 AS avg_price,
               floor(sum_disc / count_order * 1000000 + 0.5) / 1000000.0 AS avg_disc,
               count_order
        FROM (
          SELECT l_returnflag, l_linestatus,
                 round(sum(l_quantity), 4) AS sum_qty,
                 round(sum(l_extendedprice), 2) AS sum_base_price,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
                 round(sum(l_discount), 4) AS sum_disc,
                 count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
          GROUP BY l_returnflag, l_linestatus
        )
    """,
    "shipping_priority": """
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    "local_supplier_volume": """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        GROUP BY n_name
    """,
    "above_avg_orders": """
        SELECT o_orderkey, o_custkey, o_totalprice,
               floor(a * 10000 + 0.5) / 10000.0 AS cust_avg_price
        FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
                 round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2)
                   / count(*) OVER (PARTITION BY o_custkey) AS a
          FROM orders
        ) WHERE o_totalprice > a
    """,
    "group_count_ordered": """
        SELECT o_orderstatus, count(*) AS n_orders
        FROM orders GROUP BY o_orderstatus
        ORDER BY n_orders DESC, o_orderstatus
    """,
    "project_rename_filter": """
        SELECT c_custkey, c_name AS customer_name, c_mktsegment AS segment, c_acctbal
        FROM customer WHERE c_acctbal > 5000
    """,
    "conditional_flag_agg": """
        SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS INTEGER) AS is_finished,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY 1
    """,
    "ship_delay_by_priority": """
        SELECT o_orderpriority,
               count(*) AS n_items,
               floor(avg(d) * 1000000 + 0.5) / 1000000.0 AS avg_delay_days,
               round(max(d), 6) AS max_delay_days
        FROM (
          SELECT o_orderpriority,
                 round((epoch_us(l_shipdate) - epoch_us(o_orderdate)) / 86400000000.0, 6) AS d
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ) GROUP BY o_orderpriority
    """,
    "topk_customers": """
        SELECT c_custkey, c_name, total_spend, n_orders
        FROM (
          SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend, count(*) AS n_orders
          FROM orders GROUP BY o_custkey
        ) JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spend DESC, c_custkey LIMIT 10
    """,
    "window_rank_topn": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
          FROM orders
        ) WHERE rn <= 3
    """,
    "window_running_sum": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        FROM orders
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "customers_with_orders_count": """
        SELECT count(*) AS n_customers FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "custkeys_1998_not_1999": """
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
    """,
    "custkeys_both_years": """
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
    """,
    "region_rollup": """
        SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "pivot_status_priority": """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY o_orderpriority
    """,
    "events_tumbling": """
        SELECT bucket_start, event_type, n_events, sum_value,
               floor(sum_value / n_events * 1000000 + 0.5) / 1000000.0 AS avg_value
        FROM (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
                 event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
          FROM events GROUP BY 1, 2
        )
    """,
    "events_stateful_sessions": """
        WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
        lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
        sess AS (SELECT *, CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flagged),
        agg AS (SELECT user_id, session_id, count(*) AS n_events,
                       round(sum(value), 4) AS sum_value,
                       max(us) - min(us) AS duration_us
                FROM sess GROUP BY user_id, session_id)
        SELECT user_id, n_events, sum_value, duration_us,
               session_id <> max(session_id) OVER (PARTITION BY user_id) AS closed
        FROM agg
    """,
    # Watermark bookkeeping mirrors Spark: per watermarked column the
    # tracked max event time is ms-TRUNCATED minus the delay; the global
    # watermark is the MIN over both columns; an unmatched left row
    # emits iff its event ms is strictly below that global watermark.
    "events_stream_left_join": """
        WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        wm AS (SELECT least(
                 (SELECT CAST(floor(max(us) / 1000) AS BIGINT) FROM e WHERE event_type = 'purchase'),
                 (SELECT CAST(floor(max(us) / 1000) AS BIGINT) FROM e WHERE event_type = 'click')
               ) - 7200000 AS wm_ms),
        p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e WHERE event_type = 'purchase'),
        c AS (SELECT user_id AS c_user_id, event_id AS click_id, us AS c_us FROM e WHERE event_type = 'click'),
        m AS (SELECT p.user_id, p.purchase_id, c.click_id, p.p_us
              FROM p LEFT JOIN c ON c.c_user_id = p.user_id
                AND c.c_us <= p.p_us AND c.c_us >= p.p_us - 3600000000)
        SELECT user_id, purchase_id, click_id FROM m
        WHERE click_id IS NOT NULL
           OR CAST(floor(p_us / 1000) AS BIGINT) < (SELECT wm_ms FROM wm)
    """,
    # The anti-join pattern: the left-join oracle's NULL rows only —
    # an unmatched purchase emits iff the global watermark passed its
    # event time (same eviction replay as the outer-join twin above).
    "events_stream_unattributed": """
        WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        wm AS (SELECT least(
                 (SELECT CAST(floor(max(us) / 1000) AS BIGINT) FROM e WHERE event_type = 'purchase'),
                 (SELECT CAST(floor(max(us) / 1000) AS BIGINT) FROM e WHERE event_type = 'click')
               ) - 7200000 AS wm_ms),
        p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e WHERE event_type = 'purchase'),
        c AS (SELECT user_id AS c_user_id, event_id AS click_id, us AS c_us FROM e WHERE event_type = 'click'),
        m AS (SELECT p.user_id, p.purchase_id, c.click_id, p.p_us
              FROM p LEFT JOIN c ON c.c_user_id = p.user_id
                AND c.c_us <= p.p_us AND c.c_us >= p.p_us - 3600000000)
        SELECT user_id, purchase_id FROM m
        WHERE click_id IS NULL
          AND CAST(floor(p_us / 1000) AS BIGINT) < (SELECT wm_ms FROM wm)
    """,
    # Full-outer adds the click side: an orphaned click emits iff the
    # watermark passed the END of its forward match window
    # (c_us + lookback) — after that no purchase can ever match it.
    "events_stream_full_join": """
        WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        wm AS (SELECT least(
                 (SELECT CAST(floor(max(us) / 1000) AS BIGINT) FROM e WHERE event_type = 'purchase'),
                 (SELECT CAST(floor(max(us) / 1000) AS BIGINT) FROM e WHERE event_type = 'click')
               ) - 7200000 AS wm_ms),
        p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e WHERE event_type = 'purchase'),
        c AS (SELECT user_id AS c_user_id, event_id AS click_id, us AS c_us FROM e WHERE event_type = 'click'),
        m AS (SELECT p.user_id, p.purchase_id, c.click_id, p.p_us
              FROM p LEFT JOIN c ON c.c_user_id = p.user_id
                AND c.c_us <= p.p_us AND c.c_us >= p.p_us - 3600000000),
        lefts AS (
          SELECT user_id, purchase_id, click_id FROM m
          WHERE click_id IS NOT NULL
             OR CAST(floor(p_us / 1000) AS BIGINT) < (SELECT wm_ms FROM wm)),
        orphans AS (
          SELECT c.c_user_id AS user_id, CAST(NULL AS BIGINT) AS purchase_id, c.click_id
          FROM c
          WHERE NOT EXISTS (SELECT 1 FROM p
                            WHERE p.user_id = c.c_user_id
                              AND c.c_us <= p.p_us AND c.c_us >= p.p_us - 3600000000)
            AND CAST(floor((c.c_us + 3600000000) / 1000) AS BIGINT) < (SELECT wm_ms FROM wm))
        SELECT * FROM lefts UNION ALL SELECT * FROM orphans
    """,
    # Timer arithmetic mirrors Spark: watermark tracks max event time in
    # TRUNCATED ms minus the 1-min delay; a timer fires iff its
    # last_event_ms + gap_ms is STRICTLY below that watermark.
    "events_stateful_timeout_sessions": """
        WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
        wm AS (SELECT CAST(floor(max(us) / 1000) AS BIGINT) - 60000 AS wm_ms FROM e),
        lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
        sess AS (SELECT *, CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flagged),
        agg AS (SELECT user_id, session_id, count(*) AS n_events,
                       round(sum(value), 4) AS sum_value, max(us) AS last_us
                FROM sess GROUP BY user_id, session_id),
        marked AS (SELECT *, session_id = max(session_id) OVER (PARTITION BY user_id) AS is_last FROM agg)
        SELECT user_id, n_events, sum_value, FALSE AS closed_by_timeout FROM marked WHERE NOT is_last
        UNION ALL
        SELECT user_id, n_events, sum_value, TRUE AS closed_by_timeout
        FROM marked, wm WHERE is_last AND CAST(floor(last_us / 1000) AS BIGINT) + 1800000 < wm_ms
    """,
    "events_sessionize": """
        WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
        lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
        sess AS (SELECT *, CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flagged)
        SELECT user_id, session_id, count(*) AS n_events,
               max(us) - min(us) AS duration_us,
               round(sum(value), 4) AS sum_value
        FROM sess GROUP BY user_id, session_id
    """,
    "events_json_kv": """
        SELECT k, n_events, floor(s / n_events * 1000000 + 0.5) / 1000000.0 AS avg_value
        FROM (
          SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                 count(*) AS n_events, round(sum(value), 4) AS s
          FROM events GROUP BY 1
        )
    """,
    # Chained stateful streaming (hourly → daily): append-mode emission
    # = a day row exists iff day_end <= global watermark (ms-truncated
    # max event time − 2 h). The final partial day is withheld; every
    # hour of an emitted day is necessarily closed, so the daily rollup
    # aggregates the plain batch hourly table.
    "events_stream_hourly_daily": """
        WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
        wm AS (SELECT CAST(floor(max(us) / 1000) AS BIGINT) - 7200000 AS wm_ms FROM e),
        hourly AS (
          SELECT date_trunc('hour', make_timestamp(us)) AS h, event_type,
                 count(*) AS n_events, round(sum(value), 4) AS sum_value
          FROM e GROUP BY 1, 2),
        daily AS (
          SELECT date_trunc('day', h) AS d0, event_type,
                 max(n_events) AS max_hourly_events,
                 CAST(count(*) AS BIGINT) AS n_hours,
                 CAST(sum(n_events) AS BIGINT) AS total_events,
                 round(sum(sum_value), 4) AS total_value
          FROM hourly GROUP BY 1, 2)
        SELECT strftime(d0, '%Y-%m-%d') AS day, event_type,
               max_hourly_events, n_hours, total_events, total_value
        FROM daily, wm
        WHERE epoch_ms(d0 + INTERVAL 1 DAY) <= wm_ms
    """,
    "events_stream_tumbling": """
        SELECT bucket_start, event_type, n_events, sum_value,
               floor(sum_value / n_events * 1000000 + 0.5) / 1000000.0 AS avg_value
        FROM (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
                 event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
          FROM events GROUP BY 1, 2
        )
    """,
    "yoy_customer_activity": """
        WITH y96 AS (
          SELECT o_custkey, count(*) AS n_1996 FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1996 GROUP BY o_custkey
        ),
        y97 AS (
          SELECT o_custkey, count(*) AS n_1997 FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1997 GROUP BY o_custkey
        ),
        j AS (
          SELECT CASE WHEN n_1996 IS NOT NULL AND n_1997 IS NOT NULL THEN 'retained'
                      WHEN n_1996 IS NOT NULL THEN 'churned'
                      ELSE 'new' END AS status,
                 n_1996, n_1997
          FROM y96 FULL OUTER JOIN y97 USING (o_custkey)
        )
        SELECT status, count(*) AS n_customers,
               CAST(sum(coalesce(n_1996, 0)) AS BIGINT) AS orders_1996,
               CAST(sum(coalesce(n_1997, 0)) AS BIGINT) AS orders_1997
        FROM j GROUP BY status
    """,
    "range_clustered_prune_agg": """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY o_orderstatus
    """,
    "pystream_replay_agg": """
        SELECT event_type, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY event_type
    """,
    "events_variant_stats": """
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value,
               count(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL THEN 1 END) AS n_missing_path
        FROM events GROUP BY 1
    """,
    # Native session_window, complete mode, AvailableNow: the single
    # batch sees every event (watermark starts at epoch, nothing is
    # late; complete mode never evicts), so the final table equals full
    # batch gaps-and-islands sessionization. Merge rule verified against
    # Spark: events exactly `gap` apart MERGE — a new session starts
    # only when the gap is STRICTLY exceeded (hence `> 1800000000`).
    # window.start = first event ts, window.end = last event ts + gap.
    "events_stream_sessions": """
        WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
        lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
        sess AS (SELECT *, CAST(sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flagged)
        SELECT user_id,
               strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(make_timestamp(max(us) + 1800000000), '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM sess GROUP BY user_id, session_id
    """,
    "events_sliding": """
        SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        FROM (
          SELECT unnest([(epoch_us(ts) // 1800000000) * 1800000000,
                         (epoch_us(ts) // 1800000000) * 1800000000 - 1800000000]) AS ws,
                 event_type, value
          FROM events
        ) GROUP BY 1, 2
    """,
    "events_distinct_pairs": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    "events_asof_purchase_click": """
        WITH tagged AS (
          SELECT user_id, epoch_us(ts) AS us, 0 AS tag, event_id AS rid,
                 value AS rvalue, NULL::BIGINT AS lid
          FROM events WHERE event_type = 'click'
          UNION ALL
          SELECT user_id, epoch_us(ts), 1, NULL, NULL, event_id
          FROM events WHERE event_type = 'purchase'
        ),
        carried AS (
          SELECT user_id, us, tag, lid,
                 last_value(rid IGNORE NULLS) OVER w AS click_event_id,
                 last_value(CASE WHEN tag = 0 THEN us END IGNORE NULLS) OVER w AS click_us,
                 last_value(rvalue IGNORE NULLS) OVER w AS click_raw
          FROM tagged
          WINDOW w AS (PARTITION BY user_id ORDER BY us, tag, coalesce(rid, lid)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT user_id, lid AS purchase_event_id, click_event_id,
               us - click_us AS gap_us, round(click_raw, 4) AS click_value
        FROM carried WHERE tag = 1
    """,
    "distinct_counts": """
        SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS n_custkeys,
               (SELECT count(*) FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)) AS n_status_priority,
               (SELECT count(*) FROM orders) AS n_rows
    """,
    "cube_status_priority": """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "price_stats_by_status": """
        SELECT o_orderstatus, p50, p90,
               round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                          / CAST(n * (n - 1) AS DOUBLE)), 4) AS price_stddev,
               min_price, max_price
        FROM (
          SELECT o_orderstatus,
                 round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                 round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                 count(*) AS n,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
                 sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS s2,
                 round(min(o_totalprice), 2) AS min_price,
                 round(max(o_totalprice), 2) AS max_price
          FROM orders GROUP BY o_orderstatus
        )
    """,
    "part_string_ops": """
        SELECT p_partkey, upper(p_name) AS name_upper,
               substring(p_name, 1, 3) AS name_prefix,
               CAST(length(p_name) AS INTEGER) AS name_len,
               concat_ws('/', p_brand, p_type) AS brand_type
        FROM part WHERE p_name LIKE '%widget%'
    """,
    "csv_roundtrip_agg": """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY o_orderstatus
    """,
    "dedup_exact": f"""
        SELECT md5({_NORM}) AS fingerprint,
               count(*) AS n_copies,
               min(doc_id) AS keeper_id
        FROM documents GROUP BY 1
    """,
    "doc_fingerprints": f"""
        SELECT doc_id, md5({_NORM}) AS fingerprint,
               CASE WHEN length(text) = 0 THEN 0 ELSE
                 list_reduce(
                   list_prepend(0::BIGINT,
                     list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
                   (a, b) -> (a * 31 + b) % 1000000007)
               END AS rolling_hash
        FROM documents
    """,
    "text_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
               floor(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / nullif(length(text), 0) * 1000000 + 0.5) / 1000000.0 AS punct_ratio,
               floor(len(list_filter(toks, t -> list_contains({_EN_STOP}, t))) / nullif(len(toks), 0) * 1000000 + 0.5) / 1000000.0 AS stopword_ratio
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
    "lang_id": f"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein'], t))) AS s_de,
                 len(list_filter(toks, t -> list_contains({_EN_STOP}, t))) AS s_en,
                 len(list_filter(toks, t -> list_contains(['el','la','los','de','que','es'], t))) AS s_es,
                 len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une'], t))) AS s_fr
          FROM (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents)
        )
        SELECT doc_id, lang,
               CASE WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 THEN 'zh'
                    WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM scored
    """,
    "quality_scores": f"""
        SELECT doc_id,
               floor((
                 (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
                 * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
                 - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                         / greatest(length(text), 1) * 5, 0.5)
               ) * 1000000 + 0.5) / 1000000.0 AS quality
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
    "ngram_jaccard_pairs": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, len(t) - 1),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
                 FROM toks)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, n_common,
               floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 >= 0.8
    """,
    # FULL twin of q_jaccard_prefix_join: the brute-force exact pair set
    # at J >= 7/10, keep rule decided on INTEGERS (17*common >= 7*(na+nb)).
    # Spark generates candidates through the prefix filter; equality with
    # this unfiltered oracle is an empirical proof of the filter's
    # completeness theorem on real data (same device as minhash's
    # exact-verify grade, but deterministic instead of probabilistic).
    "jaccard_prefix_join": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, len(t) - 1),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
                 FROM toks)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, n_common,
               floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE 17 * n_common >= 7 * (sa.n + sb.n)
    """,
    "boilerplate_stats": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        shl AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sl FROM toks),
        sh AS (SELECT doc_id, unnest(sl) AS s FROM shl),
        dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        boiler AS (SELECT doc_id, count(*) AS nb
                   FROM sh JOIN dfreq USING (s) WHERE df >= 5 GROUP BY doc_id)
        SELECT shl.doc_id, CAST(len(sl) AS BIGINT) AS n_shingles,
               CAST(coalesce(nb, 0) AS BIGINT) AS n_boilerplate,
               floor(coalesce(nb, 0) / nullif(len(sl), 0) * 1000000 + 0.5) / 1000000.0
                 AS boilerplate_ratio
        FROM shl LEFT JOIN boiler USING (doc_id)
    """,
    "pack_sequences": f"""
        WITH t AS (SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
        c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        SELECT doc_id, source, n_tokens,
               CAST(floor((cum - n_tokens) / 128) AS BIGINT) AS bin_id,
               CAST((cum - n_tokens) % 128 AS BIGINT) AS bin_offset,
               floor((cum - 1) / 128) > floor((cum - n_tokens) / 128) AS spans_boundary
        FROM c
    """,
    "source_mixing_weights": f"""
        WITH s AS (SELECT source, count(*) AS n_docs,
                          CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
                   FROM documents GROUP BY source),
        t AS (SELECT sum(n_tokens) AS tot_tokens, sum(sqrt(n_tokens)) AS tot_weight FROM s)
        SELECT source, n_docs, n_tokens,
               floor(n_tokens / tot_tokens * 1000000 + 0.5) / 1000000.0 AS p_uniform,
               floor(sqrt(n_tokens) / tot_weight * 1000000 + 0.5) / 1000000.0 AS p_sample,
               floor(sqrt(n_tokens) / tot_weight * 1000000 / n_tokens * 1000000 + 0.5) / 1000000.0 AS expected_epochs
        FROM s, t
    """,
    "chunk_documents": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
        x AS (SELECT doc_id, toks, n,
                     CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 64 + 47) // 48 END AS n_chunks FROM n),
        e AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id FROM x)
        SELECT doc_id, chunk_id,
               chunk_id * 48 AS start_tok,
               least(CAST(64 AS BIGINT), n - chunk_id * 48) AS chunk_len,
               toks[chunk_id * 48 + 1] AS first_token,
               toks[chunk_id * 48 + least(CAST(64 AS BIGINT), n - chunk_id * 48)] AS last_token
        FROM e
    """,
    # Exact-verified LSH == the exact pair set when banding recall is 1
    # (see q_minhash_dedup_pairs docstring for the S-curve bound), so the
    # oracle is the exact-tier SQL projected to the minhash output columns.
    "minhash_dedup_pairs": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, len(t) - 1),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
                 FROM toks)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b,
               floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 >= 0.8
    """,
    "clean_corpus": f"""
        WITH scored AS (
          SELECT doc_id, lang, text, n_chars, toks,
                 len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein'], t))) AS s_de,
                 len(list_filter(toks, t -> list_contains({_EN_STOP}, t))) AS s_en,
                 len(list_filter(toks, t -> list_contains(['el','la','los','de','que','es'], t))) AS s_es,
                 len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une'], t))) AS s_fr
          FROM (SELECT doc_id, lang, text, n_chars, {_TOKS} AS toks FROM documents)
        ),
        labeled AS (
          SELECT *,
                 CASE WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 THEN 'zh'
                      WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                      WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                      WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                      WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                      ELSE 'fr' END AS lang_pred,
                 floor((
                   (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
                   * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
                   - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           / greatest(length(text), 1) * 5, 0.5)
                 ) * 1000000 + 0.5) / 1000000.0 AS quality
          FROM scored
        ),
        filtered AS (SELECT * FROM labeled WHERE lang_pred = 'en' AND quality >= 0.5),
        keepers AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5({_NORM}))
        SELECT doc_id, lang, quality, n_chars
        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)
    """,
    # identical semantics to q1_pricing_summary — shared below, after the
    # dict literal (the SQL-API variant must hash-match the same oracle)
    "char_jaccard_pairs": f"""
        WITH t AS (SELECT doc_id, {_NORM} AS nt FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, length(nt) - 3),
                               i -> substring(nt, i, 5))) AS s
                 FROM t WHERE length(nt) >= 5)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, n_common,
               floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 >= 0.8
    """,
    "multimodal_features": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
    "embedding_near_dup_exact": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.9
    """,
    "embedding_topk": f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (SELECT query_id, neighbor_id,
                          round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
                   FROM q, c WHERE neighbor_id <> query_id),
        ranked AS (SELECT *, CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {ANN_K}
    """,
    "range_join_price_bands": """
        SELECT band, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        JOIN (VALUES ('A_budget', 0.0, 50000.0),
                     ('B_mid', 50000.0, 150000.0),
                     ('C_high', 150000.0, 300000.0),
                     ('D_jumbo', 300000.0, 1e12)) bands(band, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """,
    "grouping_sets_status_year": """
        SELECT o_orderstatus, order_year, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               CAST(GROUPING(order_year) AS INTEGER) AS g_year
        FROM (SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS order_year,
                     o_totalprice
              FROM orders)
        GROUP BY GROUPING SETS ((o_orderstatus), (order_year), ())
    """,
    "events_lag_lead": """
        SELECT user_id, event_id, event_type,
               lag(event_type) OVER w AS prev_type,
               lead(event_type) OVER w AS next_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_from_prev_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    "q18_large_orders": """
        WITH big AS (
          SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
          FROM lineitem GROUP BY l_orderkey HAVING qty > 250
        )
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               o_totalprice, CAST(qty AS DOUBLE) AS sum_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "embedding_norms": """
        SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim,
               floor(sqrt(list_reduce(
                       list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (a, b) -> a + b)) * 1000000 + 0.5) / 1000000.0 AS l2_norm
        FROM embeddings
    """,
    "events_gap_fill": """
        WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
                               date_trunc('hour', max(ts)) AS h1 FROM events),
        grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
                          count(*) AS n, round(sum(value), 4) AS s
                   FROM events GROUP BY 1, 2)
        SELECT strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start, t.event_type,
               coalesce(n, 0) AS n_events, coalesce(s, 0.0) AS sum_value
        FROM grid g
        CROSS JOIN types t
        LEFT JOIN counts c ON c.bucket = g.bucket AND c.event_type = t.event_type
    """,
    "skew_salted_join": """
        WITH tagged AS (
          SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 0 ELSE l_orderkey END AS skew_key,
                 l_extendedprice
          FROM lineitem
        ),
        dim AS (SELECT DISTINCT skew_key,
                       CASE WHEN skew_key = 0 THEN 'hot' ELSE 'cold' END AS key_class
                FROM tagged)
        SELECT key_class, count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM tagged JOIN dim USING (skew_key)
        GROUP BY key_class
    """,
    "q7_nation_volume": """
        SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
    "pii_scrub": """
        WITH salted AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || source || '.com or https://'
                      || source || '.example.org/d/' || CAST(doc_id AS VARCHAR)
                      || CASE WHEN doc_id % 2 = 0
                              THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                              ELSE '' END AS t0
          FROM documents),
        staged AS (
          SELECT doc_id, t0,
                 regexp_replace(t0, 'https?://[^\\s]+', '<URL>', 'g') AS t1
          FROM salted),
        staged2 AS (
          SELECT doc_id, t0, t1,
                 regexp_replace(t1, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g') AS t2
          FROM staged)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t0, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(t1, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t2, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
               md5(regexp_replace(t2, '555-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5,
               CAST(length(regexp_replace(t2, '555-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len
        FROM staged2
    """,
    "oov_rate": f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
        vocab AS (SELECT token FROM (
            SELECT token, count(*) AS c FROM tok GROUP BY 1
            ORDER BY c DESC, token LIMIT 100)),
        m AS (SELECT t.doc_id,
                     CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
              FROM tok t LEFT JOIN vocab v USING (token))
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               floor(CAST(sum(oov) AS BIGINT) / count(*) * 1000000 + 0.5) / 1000000.0 AS oov_ratio
        FROM m GROUP BY 1
    """,
    "domain_mix_report": """
        WITH t AS (SELECT count(*) AS total FROM documents)
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_sum,
               floor(count(*) * 100.0 / (SELECT total FROM t) * 1000000 + 0.5) / 1000000.0 AS doc_share_pct
        FROM documents
        GROUP BY 1, 2
    """,
    "length_filter_funnel": """
        SELECT 0 AS stage_idx, 'all_documents' AS stage_name, count(*) AS n_docs,
               CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sum
        FROM documents
        UNION ALL
        SELECT 1, 'min_100_chars', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        FROM documents WHERE n_chars >= 100
        UNION ALL
        SELECT 2, 'latin_lang', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        FROM documents WHERE n_chars >= 100 AND lang IN ('en', 'de', 'es', 'fr')
        UNION ALL
        SELECT 3, 'max_500_chars', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        FROM documents WHERE n_chars >= 100 AND lang IN ('en', 'de', 'es', 'fr') AND n_chars <= 500
    """,
}
