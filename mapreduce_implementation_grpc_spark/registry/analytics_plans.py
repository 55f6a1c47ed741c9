"""Registrations of the plans/analytics.py queries: the plans stay in
plans/analytics.py; each query's name and DuckDB oracle are declared
here."""

from __future__ import annotations

from .declare import query
from .shared import analytics


query("late_shipments", oracle="""
      SELECT o_orderpriority AS priority,
             count(*) AS n_lineitems,
             CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
             round(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                            THEN 1 ELSE 0 END) / count(*), 6) AS late_frac
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1
    """)(analytics.late_shipments)

query("events_anomaly_zscore", oracle="""
      WITH e AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v FROM events),
      st AS (SELECT event_type,
                    CAST(CAST(sum(CAST(v AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE) AS s1,
                    CAST(CAST(sum(CAST(v AS DECIMAL(18,6)) * CAST(v AS DECIMAL(18,6)))
                         AS VARCHAR) AS DOUBLE) AS s2,
                    count(*) AS n
             FROM e GROUP BY 1),
      m AS (SELECT event_type, s1 / n AS mu,
                   sqrt((s2 / n) - (s1 / n) * (s1 / n)) AS sd
            FROM st),
      o AS (SELECT e.event_id, e.event_type, e.v,
                   (e.v - m.mu) / nullif(m.sd, 0) AS zscore
            FROM e JOIN m USING (event_type))
      SELECT event_id, event_type, round(v, 6) AS value, round(zscore, 6) AS zscore
      FROM o WHERE abs(zscore) > 3.0
    """)(analytics.events_anomaly_zscore)

_SQL_CUSTOMER_SPEND_PERCENTILES = """
      WITH s AS (SELECT o_custkey,
                        CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS spend
                 FROM orders GROUP BY 1)
      SELECT o_custkey AS custkey, spend,
             round(percent_rank() OVER (ORDER BY spend ASC, o_custkey ASC), 6) AS pct_rank,
             round(cume_dist() OVER (ORDER BY spend ASC, o_custkey ASC), 6) AS cume
      FROM s
    """

query("customer_spend_percentiles", oracle=_SQL_CUSTOMER_SPEND_PERCENTILES)(
    analytics.customer_spend_percentiles
)

query("customer_spend_percentiles_scalable", oracle=_SQL_CUSTOMER_SPEND_PERCENTILES)(
    analytics.customer_spend_percentiles_scalable
)

query("orders_grouping_sets", oracle="""
      SELECT CAST(grouping(o_orderpriority) * 2 + grouping(o_year) AS BIGINT) AS gid,
             o_orderpriority,
             CAST(o_year AS BIGINT) AS o_year,
             count(*) AS n_orders,
             round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE), 6)
               AS total_price
      FROM (SELECT o_orderpriority, year(o_orderdate) AS o_year, o_totalprice FROM orders)
      GROUP BY GROUPING SETS ((o_orderpriority), (o_year), ())
    """)(analytics.orders_grouping_sets)

query("purchase_and_signup_users", oracle="""
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'signup'
    """)(analytics.purchase_and_signup_users)

_SQL_PRICING_SUMMARY = """
      SELECT l_returnflag, l_linestatus,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                 * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_qty,
        round(CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    """

query("pricing_summary", oracle=_SQL_PRICING_SUMMARY)(analytics.pricing_summary)

query("revenue_by_nation", oracle="""
      SELECT n_name,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
        count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name
    """)(analytics.revenue_by_nation)

query("volume_shipping", oracle="""
      WITH two AS (SELECT n_nationkey, n_name FROM nation
                   WHERE n_name IN ('NATION_1', 'NATION_2'))
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN supplier s ON l_suppkey = s_suppkey
      JOIN two sn ON s.s_nationkey = sn.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer c ON o_custkey = c_custkey
      JOIN two cn ON c.c_nationkey = cn.n_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2, 3
    """)(analytics.volume_shipping)

query("market_share", oracle="""
      WITH cr AS (SELECT c_custkey FROM customer
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
                  WHERE r_name = 'ASIA'),
      j AS (SELECT year(o_orderdate) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) AS rev,
                   n_name AS supp_nation
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cr ON o_custkey = c_custkey)
      SELECT CAST(o_year AS BIGINT) AS o_year,
             CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                           THEN CAST(rev AS DECIMAL(16,6))
                           ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE)
               AS nation_revenue,
             CAST(CAST(sum(rev) AS VARCHAR) AS DOUBLE) AS total_revenue,
             round(CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                           THEN CAST(rev AS DECIMAL(16,6))
                           ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(sum(rev) AS VARCHAR) AS DOUBLE), 6) AS mkt_share
      FROM j GROUP BY 1
    """)(analytics.market_share)

query("large_volume_customers", oracle="""
      WITH big AS (SELECT l_orderkey,
                          sum(CAST(l_quantity AS DECIMAL(12,2))) AS tq
                   FROM lineitem GROUP BY 1
                   HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 180)
      SELECT c_custkey AS custkey, c_name AS name, o_orderkey AS orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS DOUBLE) AS totalprice,
             CAST(CAST(tq AS VARCHAR) AS DOUBLE) AS total_qty
      FROM orders JOIN big ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
    """)(analytics.large_volume_customers)

query("disjunctive_revenue", oracle="""
      SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#4' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#19' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
    """)(analytics.disjunctive_revenue)

query("customer_distribution", oracle="""
      WITH pc AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN
          (SELECT o_orderkey, o_custkey FROM orders
           WHERE o_orderpriority <> '4-NOT SPECIFIED') o
          ON c_custkey = o_custkey
        GROUP BY c_custkey)
      SELECT c_count, count(*) AS custdist FROM pc GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC
    """)(analytics.customer_distribution)

query("top_supplier", oracle="""
      WITH r AS (SELECT l_suppkey AS supplier_no,
                        sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS total_rev
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate < TIMESTAMP '1996-04-01'
                 GROUP BY 1)
      SELECT s_suppkey AS suppkey, s_name AS name,
             CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS total_revenue
      FROM r JOIN supplier ON s_suppkey = supplier_no
      WHERE total_rev = (SELECT max(total_rev) FROM r)
      ORDER BY suppkey
    """)(analytics.top_supplier)

query("small_qty_revenue", oracle="""
      WITH j AS (SELECT l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
                        CAST(l_extendedprice AS DECIMAL(12,2)) AS ep
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 WHERE p_brand = 'Brand#3'),
      pp AS (SELECT l_partkey AS agg_partkey, sum(qty) AS sum_qty,
                    count(*) AS cnt_qty
             FROM j GROUP BY 1)
      SELECT CAST(CAST(sum(ep) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
             count(*) AS n_lines
      FROM j JOIN pp ON l_partkey = agg_partkey
      WHERE qty * CAST(5 AS DECIMAL(3,0)) * CAST(cnt_qty AS DECIMAL(10,0)) < sum_qty
    """)(analytics.small_qty_revenue)

query("waiting_suppliers", oracle="""
      WITH lo AS (SELECT l_orderkey, l_suppkey,
                         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_orderstatus = 'F'),
      per AS (SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
                     max(CASE WHEN late THEN l_suppkey END) AS late_supp
              FROM lo GROUP BY 1)
      SELECT s_suppkey AS suppkey, s_name AS name, count(*) AS numwait
      FROM per JOIN supplier ON s_suppkey = late_supp
      WHERE n_supp >= 2 AND n_late = 1
      GROUP BY 1, 2
      ORDER BY numwait DESC, suppkey ASC
      LIMIT 25
    """)(analytics.waiting_suppliers)

query("product_profit", oracle="""
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                         - CAST(p_retailprice AS DECIMAL(12,2))
                           * CAST(0.6 AS DECIMAL(4,2))
                           * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
      ORDER BY nation, o_year DESC
    """)(analytics.product_profit)

query("supplier_part_counts", oracle="""
      WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      SELECT p_brand AS brand, p_type AS type, p_size AS size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM pairs JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#1' AND p_size <= 25
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, brand, type, size
    """)(analytics.supplier_part_counts)

query("dominant_suppliers", oracle="""
      WITH j AS (SELECT l_partkey, l_suppkey,
                        CAST(l_quantity AS DECIMAL(12,2)) AS qty
                 FROM lineitem JOIN part ON l_partkey = p_partkey
                 WHERE p_name LIKE '%red%' AND year(l_shipdate) = 1997),
      ps AS (SELECT l_partkey, l_suppkey, sum(qty) AS sq FROM j GROUP BY 1, 2),
      tot AS (SELECT l_partkey AS tp, sum(sq) AS total_q, count(*) AS n_supp
              FROM ps GROUP BY 1),
      dom AS (SELECT DISTINCT l_suppkey FROM ps JOIN tot ON l_partkey = tp
              WHERE n_supp >= 2 AND sq * CAST(2 AS DECIMAL(2,0)) > total_q)
      SELECT s_suppkey AS suppkey, s_name AS name, n_name AS nation
      FROM dom JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      ORDER BY suppkey
    """)(analytics.dominant_suppliers)

query("cheapest_supplier", oracle="""
      WITH offers AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice) AS offer
        FROM lineitem GROUP BY 1, 2),
      r AS (
        SELECT l_partkey, offer, l_suppkey,
               row_number() OVER (PARTITION BY l_partkey
                 ORDER BY offer ASC, l_suppkey ASC) AS rn
        FROM offers)
      SELECT r.l_partkey AS p_partkey, r.offer AS best_price,
             r.l_suppkey AS s_suppkey, s.s_name, n.n_name
      FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
             JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE rn = 1
    """)(analytics.cheapest_supplier)

query("nation_market_share", oracle="""
      WITH j AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) AS dp,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'),
      a AS (
        SELECT o_year, sum(dp) AS total_dec,
               sum(CASE WHEN supp_nation = 'NATION_2' THEN dp
                        ELSE CAST(0 AS DECIMAL(21,6)) END) AS nation_dec
        FROM j GROUP BY 1)
      SELECT o_year,
             CAST(CAST(total_dec AS VARCHAR) AS DOUBLE) AS total_revenue,
             CAST(CAST(nation_dec AS VARCHAR) AS DOUBLE) AS nation_revenue,
             round(CAST(CAST(nation_dec AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(total_dec AS VARCHAR) AS DOUBLE), 6) AS mkt_share
      FROM a
    """)(analytics.nation_market_share)

query("events_last_per_user", oracle="""
      WITH r AS (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
      SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
             event_id, event_type, value, CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rn = 1
    """)(analytics.events_last_per_user)

query("segment_event_stats", oracle="""
      SELECT c_mktsegment, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1
    """)(analytics.segment_event_stats_salted)

query("top_customers", oracle="""
      SELECT c_custkey AS custkey, c_name AS name, revenue, n_orders FROM (
        SELECT o_custkey,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey)
      JOIN customer ON o_custkey = c_custkey
      ORDER BY revenue DESC, custkey ASC LIMIT 10
    """)(analytics.top_customers)

query("customer_order_ranks", oracle="""
      SELECT custkey, orderkey, totalprice, rn FROM (
        SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
        FROM orders)
      WHERE rn <= 3
    """)(analytics.customer_order_ranks)

query("events_hourly", oracle="""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             event_type, count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """)(analytics.events_hourly)

query("user_retention", oracle="""
      WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort FROM events GROUP BY 1),
      a AS (SELECT DISTINCT e.user_id, f.cohort, CAST(e.ts AS DATE) AS act_day
            FROM events e JOIN f USING (user_id))
      SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
             CAST(act_day - cohort AS BIGINT) AS day_offset,
             count(*) AS n_users
      FROM a GROUP BY 1, 2
    """)(analytics.user_retention)

query("events_sessionize", oracle="""
      WITH g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                     ORDER BY ts ASC, event_id ASC))) AS BIGINT) AS gap
        FROM events)
      SELECT user_id,
             CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             count(*) AS n_events
      FROM g GROUP BY user_id
    """)(analytics.events_sessionize)

_SQL_USER_STATE_INTERVALS = """
  WITH o AS (SELECT user_id, ts, event_id, event_type,
                    lag(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev
             FROM events),
  m AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                       THEN 1 ELSE 0 END AS chg FROM o),
  g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS island
        FROM m),
  iv AS (SELECT user_id, island, event_type AS state,
                min(ts) AS vf, count(*) AS n_events
         FROM g GROUP BY 1, 2, 3),
  fin AS (SELECT user_id, state, vf, n_events,
                 lead(vf) OVER (PARTITION BY user_id ORDER BY island) AS vt
          FROM iv)
  SELECT user_id, state,
         strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
         strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
         CAST(n_events AS BIGINT) AS n_events,
         vt IS NULL AS is_current
  FROM fin
"""

query("user_state_intervals", oracle=_SQL_USER_STATE_INTERVALS)(analytics.user_state_intervals)

# Time travel over the SCD2 table: half-open intervals filtered at
# the snapshot instant (string compare on the second-grain format).
query("user_state_asof", oracle=f"""
  SELECT user_id, state, valid_from AS since_s, n_events, is_current
  FROM ({_SQL_USER_STATE_INTERVALS})
  WHERE valid_from <= '2024-01-15 00:00:00'
    AND (valid_to IS NULL OR valid_to > '2024-01-15 00:00:00')
  ORDER BY user_id
""")(analytics.user_state_asof)

_SQL_PURCHASE_ATTRIBUTION = """
      WITH s AS (
        SELECT event_id, user_id, ts, event_type, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                    THEN 1 ELSE 0 END AS st
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      s2 AS (SELECT *, sum(st) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING)
                 AS session_id FROM s),
      s3 AS (SELECT *, first_value(event_type) OVER w2 AS first_touch,
                    first_value(ts) OVER w2 AS first_ts
             FROM s2
             WINDOW w2 AS (PARTITION BY user_id, session_id
                           ORDER BY ts ASC, event_id ASC))
      SELECT event_id AS purchase_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_s, value,
             first_touch,
             strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS session_start_s
      FROM s3 WHERE event_type = 'purchase'
    """

query("purchase_attribution", oracle=_SQL_PURCHASE_ATTRIBUTION)(analytics.purchase_attribution)

# U-shaped multi-touch credits: weights are IEEE expressions over
# identical integers; per-touch credits round 6dp and sum as DECIMAL.
query("attribution_position_weighted", oracle="""
  WITH s AS (
    SELECT event_id, user_id, ts, event_type, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                THEN 1 ELSE 0 END AS st
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
  s2 AS (SELECT *, sum(st) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING)
             AS session_id FROM s),
  fp AS (SELECT user_id, session_id, ts AS p_ts, event_id AS p_id,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS p_cents,
                row_number() OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts, event_id) AS rn
         FROM s2 WHERE event_type = 'purchase'),
  fp1 AS (SELECT * FROM fp WHERE rn = 1),
  touches AS (
    SELECT t.user_id, t.session_id, t.ts, t.event_id,
           t.event_type AS touch_type, f.p_cents
    FROM s2 t JOIN fp1 f ON t.user_id = f.user_id
                         AND t.session_id = f.session_id
    WHERE t.event_type <> 'purchase'
      AND (t.ts < f.p_ts OR (t.ts = f.p_ts AND t.event_id < f.p_id))),
  scored AS (
    SELECT touch_type,
           row_number() OVER wt AS idx,
           count(*) OVER wn AS n,
           p_cents
    FROM touches
    WINDOW wt AS (PARTITION BY user_id, session_id ORDER BY ts, event_id),
           wn AS (PARTITION BY user_id, session_id)),
  cr AS (
    SELECT touch_type,
           CASE WHEN idx = 1 THEN 'first' WHEN idx = n THEN 'last'
                ELSE 'middle' END AS position,
           CAST(round(p_cents * (CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                 WHEN idx = 1 THEN CASE WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                                        ELSE CAST(0.4 AS DOUBLE) END
                 WHEN idx = n THEN CASE WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                                        ELSE CAST(0.4 AS DOUBLE) END
                 ELSE CAST(0.2 AS DOUBLE) / (n - 2) END), 6)
                AS DECIMAL(20,6)) AS credit
    FROM scored)
  SELECT touch_type, position, count(*) AS n_touches,
         CAST(CAST(sum(credit) AS VARCHAR) AS DOUBLE) AS credit_total
  FROM cr GROUP BY 1, 2 ORDER BY touch_type, position
""")(analytics.attribution_position_weighted)

query("events_json_stats", oracle="""
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type
    """)(analytics.events_json_stats)

query("events_rollup", oracle="""
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY ROLLUP(event_type, day)
    """)(analytics.events_rollup)

query("events_cube", oracle="""
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*) AS n_events,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY CUBE(event_type, day)
    """)(analytics.events_cube)

query("orders_price_deciles", oracle="""
      WITH t AS (SELECT o_totalprice,
                        ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
                 FROM orders)
      SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_orders,
             min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      FROM t GROUP BY decile
    """)(analytics.orders_price_deciles)

query("stratified_sample", oracle="""
      SELECT doc_id, lang, source FROM documents
      WHERE CASE WHEN CAST(regexp_replace(source, '[^0-9]', '', 'g') AS BIGINT) % 2 = 0
            THEN substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 1)
                 IN ('0', '1')
            ELSE substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))), 1, 1)
                 IN ('0', '1', '2', '3') END
    """)(analytics.stratified_sample)

query("repeat_customers", oracle="""
      SELECT o_custkey AS custkey FROM (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
    """)(analytics.repeat_customers)

query("distinct_users", oracle="""
      SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      FROM events GROUP BY event_type
    """)(analytics.distinct_users_daily)

# no oracle: HyperLogLog counts are approximate by design (rows-only check)
query("approx_distinct_users", oracle=None)(analytics.approx_distinct_users)

query("orders_monthly", oracle="""
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             count(*) AS n_orders,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
             round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
                   / count(*), 6) AS avg_order_value
      FROM orders GROUP BY 1
    """)(analytics.orders_monthly)

query("events_asof_error", oracle="""
      SELECT event_id, user_id, event_type,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             strftime(max(CASE WHEN event_type = 'error' THEN ts END)
                      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      '%Y-%m-%d %H:%M:%S') AS last_error_ts
      FROM events
    """)(analytics.events_asof_last_error)

query("events_pivot", oracle="""
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM events GROUP BY 1
    """)(analytics.events_pivot_daily)

query("orders_running_total", oracle="""
      SELECT o_custkey AS custkey, o_orderkey AS orderkey,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
                  AS DOUBLE) AS running_revenue
      FROM orders
    """)(analytics.orders_running_total)

query("customers_without_orders", oracle="""
      SELECT c_custkey AS custkey, c_name AS name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """)(analytics.customers_without_orders)

query("brands_shipped", oracle="""
      SELECT p_brand, count(*) AS n_parts FROM part
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      GROUP BY p_brand
    """)(analytics.brands_shipped)

query("events_quantiles", oracle="""
      SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.9), 6) AS p90,
             round(quantile_cont(value, 0.99), 6) AS p99,
             count(*) AS n_events
      FROM events GROUP BY event_type
    """)(analytics.events_value_quantiles)

query("events_trailing_hour", oracle="""
      SELECT event_id, user_id,
             count(*) OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_trailing_hour
      FROM events
    """)(analytics.events_trailing_hour)

# grouped-map least-squares slope == closed-form regr_slope over
# the same (hour-rank, count) points; verified bit-stable at 6dp
query("events_type_trend", oracle="""
      WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
                 FROM events GROUP BY 1, 2),
      x AS (SELECT event_type, CAST(n AS DOUBLE) AS y,
                   CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY hour) - 1 AS DOUBLE) AS x
            FROM h)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             round(regr_slope(y, x), 6) AS slope_per_hour
      FROM x GROUP BY event_type
    """)(analytics.events_type_trend)

query("revenue_forecast", oracle="""
      SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.04 AND 0.06
        AND l_quantity < 24
    """)(analytics.revenue_forecast)

query("signup_funnel", oracle="""
      WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
               max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        FROM events GROUP BY user_id)
      SELECT strftime(date_trunc('day', first_signup), '%Y-%m-%d') AS signup_day,
             count(*) AS n_signups,
             CAST(sum(CASE WHEN last_purchase > first_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
             round(sum(CASE WHEN last_purchase > first_signup THEN 1 ELSE 0 END) / count(*), 6) AS conversion_rate
      FROM per_user WHERE first_signup IS NOT NULL
      GROUP BY 1
    """)(analytics.signup_purchase_funnel)

query("shipping_priority", oracle="""
      SELECT l_orderkey AS orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             o_orderpriority AS priority,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
        AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, orderdate ASC, orderkey ASC LIMIT 10
    """)(analytics.shipping_priority)

query("large_orders", oracle="""
      SELECT l_orderkey AS orderkey, c_name AS customer,
             strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             o_totalprice AS totalprice, total_qty
      FROM (SELECT l_orderkey,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_qty
            FROM lineitem GROUP BY l_orderkey)
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE total_qty > 150.0
    """)(analytics.large_orders)

query("label_centroids", oracle="""
      WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS dvec FROM embeddings),
      i AS (SELECT label, dvec, unnest(range(1, len(dvec) + 1)) AS idx FROM e),
      f AS (SELECT label, CAST(idx - 1 AS BIGINT) AS pos, dvec[idx] AS v FROM i)
      SELECT label, pos,
             round(CAST(CAST(sum(CAST(v AS DECIMAL(27,12))) AS VARCHAR) AS DOUBLE)
                   / count(*), 6) AS centroid
      FROM f GROUP BY label, pos
    """)(analytics.label_centroids)

query("order_priority_backlog", oracle="""
      SELECT o_orderpriority AS priority, count(*) AS n_backlogged
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1
    """)(analytics.order_priority_backlog)

query("returned_items", oracle="""
      WITH pc AS (
        SELECT o_custkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS rev_dec
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY 1
      )
      SELECT c_custkey AS custkey, c_name AS name, n_name AS nation,
             CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS returned_revenue
      FROM pc
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      ORDER BY returned_revenue DESC, custkey ASC
      LIMIT 20
    """)(analytics.returned_items)

query("important_parts", oracle="""
      WITH pv AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS val_dec
        FROM lineitem GROUP BY 1
      ),
      w AS (SELECT l_partkey, val_dec, sum(val_dec) OVER () AS tot_dec,
                   count(*) OVER () AS n_parts FROM pv)
      SELECT l_partkey AS partkey,
             CAST(CAST(val_dec AS VARCHAR) AS DOUBLE) AS part_value,
             round(CAST(CAST(val_dec AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(tot_dec AS VARCHAR) AS DOUBLE), 9) AS value_share
      FROM w
      WHERE CAST(CAST(val_dec AS VARCHAR) AS DOUBLE)
            > 1.5 * CAST(CAST(tot_dec AS VARCHAR) AS DOUBLE) / n_parts
    """)(analytics.important_parts)

query("promo_revenue", oracle="""
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                         AS DECIMAL(16,6))
                    ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE) AS promo_revenue,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS total_revenue,
             round(CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                         AS DECIMAL(16,6))
                    ELSE CAST(0 AS DECIMAL(16,6)) END) AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE), 6) AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    """)(analytics.promo_revenue)

query("sales_opportunity", oracle="""
      WITH a AS (
        SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0
      )
      SELECT c_mktsegment AS segment, count(*) AS n_customers,
             CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_balance
      FROM customer, a
      WHERE CAST(c_acctbal AS DOUBLE) > avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '1998-06-01')
      GROUP BY 1
    """)(analytics.sales_opportunity)
