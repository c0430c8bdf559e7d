"""Query registry: every implemented operator exposed under the driver
contract (__spark_entry__.py), paired with its ANSI-SQL oracle.

Each entry: name -> (builder, oracle_sql | None). Builders take
(spark, sf_dir) and return a lazy DataFrame. Oracles run on DuckDB
1.0.0 over the same parquet (views: region nation customer supplier
part orders lineitem events documents embeddings). Names/aliases match
column-for-column — the driver sorts columns by name before hashing.

Ops DuckDB cannot express (WKB geometry kernels, Hilbert layout,
streaming) carry oracle=None → rows-only driver check + engine-internal
golden tests under tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gis_etl_spark.ops import dedup as D
from gis_etl_spark.ops.fixedpoint import (
    fxavg_sql,
    fxq_sql,
    fxratio_sql,
    fxsum_over_sql,
    fxsum_sql,
)
from gis_etl_spark.ops import geometry_queries as G
from gis_etl_spark.ops import joins as J
from gis_etl_spark.ops import multimodal as M
from gis_etl_spark.ops import relational as R
from gis_etl_spark.ops import similarity as S
from gis_etl_spark.ops import text as T

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Relational pack (SURVEY.md §2.3/2.4/2.5/2.7/2.8) — all oracle-checked.
# ---------------------------------------------------------------------------

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {fxsum_sql("l_quantity")} AS sum_qty,
       {fxsum_sql("l_extendedprice")} AS sum_base_price,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {fxsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {fxavg_sql("l_quantity")} AS avg_qty,
       {fxavg_sql("l_extendedprice")} AS avg_price,
       {fxavg_sql("l_discount")} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

_Q5_SQL = f"""
SELECT n_name,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""

_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

_COUNT_SQL = "SELECT count(*) AS cnt FROM lineitem"

_GROUP_COUNT_SQL = """
SELECT o_orderpriority, count(*) AS cnt
FROM orders GROUP BY o_orderpriority
ORDER BY cnt ASC, o_orderpriority ASC
"""

_COUNT_DISTINCT_SQL = (
    "SELECT count(DISTINCT o_custkey) AS n_customers FROM orders"
)

_MINMAX_SQL = """
SELECT min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
       round(max(o_totalprice * 0.1), 4) AS max_price_tenth
FROM orders
"""

_TOP15_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15
"""

_FILTER_RANGE_SQL = """
SELECT event_id, user_id, value
FROM events
WHERE value > 50.0 AND value < 150.0 AND event_type = 'click'
"""

_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""

_SEMI_JOIN_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45.0)
"""

_UNION_SQL = """
SELECT r_name AS name, 'region' AS src FROM region
UNION ALL
SELECT n_name AS name, 'nation' AS src FROM nation
"""

_EXCEPT_SQL = """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
"""

_WINDOW_TOP3_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) t WHERE rn <= 3
"""

_RUNNING_SQL = f"""
SELECT user_id, event_id,
       {fxsum_over_sql(
           "value",
           "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)",
       )} AS running_value
FROM events
"""

_HOURLY_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       {fxsum_sql("value")} AS total_value
FROM events GROUP BY 1, 2
"""

_SESSION_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, value,
         -- ::BIGINT: DuckDB's sum(INT) yields HUGEINT, which pandas renders as
         -- float64 and breaks the driver's value-hash vs Spark's LONG.
         (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
  FROM gaps
)
SELECT user_id, session_seq, count(*) AS n_events,
       {fxsum_sql("value")} AS session_value
FROM sessions GROUP BY user_id, session_seq
"""

_ROLLUP_SQL = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS cnt,
       {fxsum_sql("l_quantity")} AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

_Q6_SQL = f"""
SELECT {fxsum_sql("l_extendedprice * l_discount")} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""

_Q14_SQL = f"""
SELECT {fxsum_sql(
    "CASE WHEN p_type LIKE 'PROMO%' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
)} AS promo_revenue,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
"""

_Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {fxsum_sql("l_quantity")} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {fxsum_sql("l_quantity")} > 200
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 30
"""

_PIVOT_SQL = """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_linestatus = 'F') AS status_f,
       count(*) FILTER (WHERE l_linestatus = 'O') AS status_o
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

_CUBE_SQL = f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS cnt,
       {fxsum_sql("o_totalprice")} AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

_YEAR_MONTH_SQL = f"""
SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
       count(*) AS cnt, {fxavg_sql("o_totalprice")} AS avg_price
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""

_SOURCE_EXTRACT_SQL = """
SELECT doc_id,
       regexp_extract(source, '(\\d+)', 1)::INT AS src_num,
       split_part(source, 'c', 1) AS prefix,
       length(text) AS text_len
FROM documents
WHERE regexp_extract(source, '(\\d+)', 1)::INT % 3 = 0
"""

_Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::INT AS l_year,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

_Q8_SQL = f"""
SELECT year(o_orderdate)::INT AS o_year,
       {fxratio_sql(
    "CASE WHEN ns.n_name = 'NATION_9' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
    "l_extendedprice * (1 - l_discount)",
)} AS mkt_share
FROM lineitem
JOIN part      ON l_partkey = p_partkey
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region    ON nc.n_regionkey = r_regionkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY 1 ORDER BY 1
"""

_Q9_SQL = f"""
SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2 ORDER BY 1, 2
"""

_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""

_Q19_SQL = f"""
SELECT {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""

_Q22_SQL = f"""
SELECT c_mktsegment, count(*) AS n_custs, {fxsum_sql("c_acctbal")} AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

_Q2_SQL = """
SELECT s_suppkey, s_name, n_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                   WHERE s2.s_nationkey = supplier.s_nationkey)
ORDER BY s_suppkey
"""

# name -> (builder, oracle_sql | None)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "q2_top_acctbal_per_nation": (R.q2_top_acctbal_per_nation, _Q2_SQL),
    "q4_order_priority": (R.q4_order_priority, _Q4_SQL),
    "q7_volume_shipping": (R.q7_volume_shipping, _Q7_SQL),
    "q8_market_share": (R.q8_market_share, _Q8_SQL),
    "q9_profit_by_nation_year": (R.q9_profit_by_nation_year, _Q9_SQL),
    "q15_top_supplier": (R.q15_top_supplier, _Q15_SQL),
    "q19_disjunctive_revenue": (R.q19_disjunctive_revenue, _Q19_SQL),
    "q22_idle_customers": (R.q22_idle_customers, _Q22_SQL),
    "q6_forecast_revenue": (R.q6_forecast_revenue, _Q6_SQL),
    "q14_promo_revenue": (R.q14_promo_revenue, _Q14_SQL),
    "price_percentiles": (R.price_percentiles, """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       count(*) AS n
FROM lineitem GROUP BY 1 ORDER BY 1
"""),
    "q18_large_orders": (R.q18_large_orders, _Q18_SQL),
    "pivot_status_by_flag": (R.pivot_status_by_flag, _PIVOT_SQL),
    "cube_orders": (R.cube_orders, _CUBE_SQL),
    "orders_by_year_month": (R.orders_by_year_month, _YEAR_MONTH_SQL),
    "source_id_extract": (R.source_id_extract, _SOURCE_EXTRACT_SQL),
    "q1_pricing_summary": (R.q1_pricing_summary, _Q1_SQL),
    "q3_shipping_priority": (R.q3_shipping_priority, _Q3_SQL),
    "q5_local_supplier_volume": (R.q5_local_supplier_volume, _Q5_SQL),
    "q10_returned_items": (R.q10_returned_items, _Q10_SQL),
    "count_lineitem": (R.count_lineitem, _COUNT_SQL),
    "group_count_order_priority": (R.group_count_order_priority, _GROUP_COUNT_SQL),
    "count_distinct_customers": (R.count_distinct_customers, _COUNT_DISTINCT_SQL),
    "minmax_orders": (R.minmax_orders, _MINMAX_SQL),
    "orders_top15_by_price": (R.orders_top15_by_price, _TOP15_SQL),
    "filter_range_events": (R.filter_range_events, _FILTER_RANGE_SQL),
    "customers_without_orders": (R.customers_without_orders, _ANTI_JOIN_SQL),
    "suppliers_with_shipments": (R.suppliers_with_shipments, _SEMI_JOIN_SQL),
    "union_all_names": (R.union_all_names, _UNION_SQL),
    "custkeys_without_recent_orders": (R.custkeys_without_recent_orders, _EXCEPT_SQL),
    "top3_orders_per_customer": (R.top3_orders_per_customer, _WINDOW_TOP3_SQL),
    "running_value_per_user": (R.running_value_per_user, _RUNNING_SQL),
    "events_hourly_rollup": (R.events_hourly_rollup, _HOURLY_SQL),
    "sessionize_events": (R.sessionize_events, _SESSION_SQL),
    "rollup_returnflag_linestatus": (R.rollup_returnflag_linestatus, _ROLLUP_SQL),
    # rows-only: HLL sketch internals differ per engine; the exact twin
    # (count_distinct_customers) is oracle-checked and pytest bounds
    # the approximation error
    "approx_distinct_customers": (R.approx_distinct_customers, None),
    # the deterministic engine-portable sketch twin: KMV over 60-bit
    # md5 hashes — identical arithmetic both engines, so unlike the
    # HLL entry above this one hash-matches exactly
    "kmv_distinct_customers": (
        R.kmv_distinct_customers, R.KMV_DISTINCT_SQL,
    ),
    # same engine-portable-sketch idea for quantiles: deterministic
    # 1/16 hash sample + exact integer-rank quartiles — no
    # interpolation, every output is a data value, bit-exact on both
    # engines (the t-digest/GK internals a built-in approx percentile
    # would use differ per engine and would force a rows-only check)
    "sampled_price_quantiles": (
        R.sampled_price_quantiles, R.SAMPLED_QUANTILES_SQL,
    ),
    "orders_with_heavy_items_sql": (R.orders_with_heavy_items_sql, """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 48
)
"""),
    "orders_above_avg_sql": (R.orders_above_avg_sql, """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
"""),
    "sessionize_native": (R.sessionize_native, f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS seq
  FROM gaps
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%g') AS session_start,
       count(*) AS n_events,
       {fxsum_sql("value")} AS session_value
FROM sessions GROUP BY user_id, seq
"""),
    # exact semi-join behind an explicit SBBF Bloom pre-prune; the oracle
    # is the PLAIN semi-join — a hash match proves the Bloom+verify
    # composition drops zero true rows and keeps zero false positives
    "bloom_semi_orders": (R.bloom_semi_orders, f"""
SELECT o_orderpriority, count(*) AS n_orders,
       {fxsum_sql("o_totalprice")} AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'AUTOMOBILE')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""),
    # interval-dim lookup (range_lookup_join): the oracle runs the naive
    # non-equi join the operator replaces
    "price_band_revenue": (R.price_band_revenue, f"""
WITH bands(band_label, band_lo, band_hi) AS (VALUES
  ('nano', 0.0, 25000.0), ('small', 25000.0, 75000.0),
  ('mid', 75000.0, 150000.0), ('large', 150000.0, 300000.0),
  ('jumbo', 300000.0, 1000000000.0))
SELECT band_label, count(*) AS n_orders,
       {fxsum_sql("o_totalprice")} AS revenue
FROM orders JOIN bands
  ON o_totalprice >= band_lo AND o_totalprice < band_hi
GROUP BY band_label ORDER BY band_label
"""),
    "events_sliding_windows": (R.events_sliding_windows, f"""
WITH assigned AS (
  SELECT unnest([date_trunc('hour', ts),
                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
         event_type, value
  FROM events
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       count(*) AS n_events,
       {fxsum_sql("value")} AS total_value
FROM assigned GROUP BY 1, 2
"""),
}

# ---------------------------------------------------------------------------
# Geometry pack (SURVEY.md §2.1/2.3/2.5/2.9 spatial operators) over the
# deterministic buildings fixture; oracles check byte arithmetic directly
# and WKB-kernel results against the independent golden table.
# ---------------------------------------------------------------------------

_GEO_SQLS = G.oracle_sqls()

REGISTRY.update(
    {
        "geo_total_count": (G.geo_total_count, _GEO_SQLS["geo_total_count"]),
        "geo_distinct_sources": (
            G.geo_distinct_sources, _GEO_SQLS["geo_distinct_sources"],
        ),
        "geo_shape_type_census": (
            G.geo_shape_type_census, _GEO_SQLS["geo_shape_type_census"],
        ),
        "geo_core_type_count": (
            G.geo_core_type_count, _GEO_SQLS["geo_core_type_count"],
        ),
        "geo_source_counts": (
            G.geo_source_counts, _GEO_SQLS["geo_source_counts"],
        ),
        "geo_area_stats": (G.geo_area_stats, _GEO_SQLS["geo_area_stats"]),
        # ST_DISTANCE_SPHERE: shared-text haversine, floor-metres
        "geo_haversine_span": (
            G.geo_haversine_span, _GEO_SQLS["geo_haversine_span"],
        ),
        # single-linkage spatial clustering: shared label_components
        # vs the oracle's recursive-CTE transitive closure
        "geo_spatial_clusters": (
            G.geo_spatial_clusters, _GEO_SQLS["geo_spatial_clusters"],
        ),
        "geo_tile_census": (G.geo_tile_census, _GEO_SQLS["geo_tile_census"]),
        "geo_geohash_census": (
            G.geo_geohash_census, _GEO_SQLS["geo_geohash_census"],
        ),
        # r10: oracle-paired — the OUTPUT GEOMETRY still has no ANSI
        # twin, but the reported vertex counts do: bounded DP
        # recursion unrolled into chained interval stages + an
        # extreme-point hull census over the golden vertex table
        "geo_simplify_stats": (
            G.geo_simplify_stats, _GEO_SQLS["geo_simplify_stats"],
        ),
        "io_geojsonl_scan": (
            G.io_geojsonl_scan, _GEO_SQLS["io_geojsonl_scan"],
        ),
        "geo_centroid_stats": (
            G.geo_centroid_stats, _GEO_SQLS["geo_centroid_stats"],
        ),
        "geo_global_bbox": (G.geo_global_bbox, _GEO_SQLS["geo_global_bbox"]),
        "geo_flip_sources": (
            G.geo_flip_sources, _GEO_SQLS["geo_flip_sources"],
        ),
        "geo_heatmap": (G.geo_heatmap, _GEO_SQLS["geo_heatmap"]),
        "hex_heatmap": (G.hex_heatmap, _GEO_SQLS["hex_heatmap"]),
        "hex_heatmap_pyramid": (
            G.hex_heatmap_pyramid, _GEO_SQLS["hex_heatmap_pyramid"],
        ),
        "hex_heatmap_smoothed": (
            G.hex_heatmap_smoothed, _GEO_SQLS["hex_heatmap_smoothed"],
        ),
        "geo_heatmap_pyramid": (
            G.geo_heatmap_pyramid, _GEO_SQLS["geo_heatmap_pyramid"],
        ),
        "geo_normalized_bbox": (
            G.geo_normalized_bbox, _GEO_SQLS["geo_normalized_bbox"],
        ),
        # rows-only: DuckDB 1.0.0 has no Hilbert/lindel and cannot
        # reproduce boundary-string formatting bit-for-bit
        "gdb_scan_attrs": (G.gdb_scan_attrs, _GEO_SQLS["gdb_scan_attrs"]),
        "gpkg_heatmap_roundtrip": (
            G.gpkg_heatmap_roundtrip, _GEO_SQLS["gpkg_heatmap_roundtrip"],
        ),
        "gdb_scan_oids": (G.gdb_scan_oids, _GEO_SQLS["gdb_scan_oids"]),
        "geo_heatmap_export": (
            G.geo_heatmap_export, _GEO_SQLS["geo_heatmap_export"],
        ),
        "geo_centroid_containment": (
            G.geo_centroid_containment,
            _GEO_SQLS["geo_centroid_containment"],
        ),
        "hex_heatmap_export": (
            G.hex_heatmap_export, _GEO_SQLS["hex_heatmap_export"],
        ),
        # r8: oracle-paired — Skilling transform unrolled in SQL over
        # the golden centroid table (was rows-only "oracle lacks
        # lindel"; lindel parity stays a non-goal, the oracle is the
        # published algorithm itself)
        "geo_hilbert_keys": (
            G.geo_hilbert_keys,
            _GEO_SQLS["geo_hilbert_keys"],
        ),
        # r10: oracle-paired — Snyder inverse-TM unrolled in SQL over
        # the golden ring-edge vertices (was rows-only "oracle cannot
        # reproject UTM"; the hilbert/gnomonic unroll precedent)
        "geo_convert_bbox": (
            G.geo_convert_bbox, _GEO_SQLS["geo_convert_bbox"],
        ),
        "io_ndjson_shape_stats": (
            G.io_ndjson_shape_stats, _GEO_SQLS["io_ndjson_shape_stats"],
        ),
        "io_csv_wkt_scan": (G.io_csv_wkt_scan, _GEO_SQLS["io_csv_wkt_scan"]),
        "io_wide_attrs_projection": (
            G.io_wide_attrs_projection, _GEO_SQLS["io_wide_attrs_projection"],
        ),
        "layout_morton_keys": (
            G.layout_morton_keys, _GEO_SQLS["layout_morton_keys"],
        ),
        "shp_scan_census": (G.shp_scan_census, _GEO_SQLS["shp_scan_census"]),
    }
)

# ---------------------------------------------------------------------------
# Temporal/spatial join pack (ops/joins.py): as-of, interval range join,
# radius near-pairs — inequality-free plan shapes, all oracle-checked
# (DuckDB runs the native ASOF / IEJoin formulations).
# ---------------------------------------------------------------------------

_JOIN_SQLS = J.oracle_sqls()

REGISTRY.update(
    {
        "asof_click_view": (J.asof_click_view, _JOIN_SQLS["asof_click_view"]),
        "interval_error_activity": (
            J.interval_error_activity, _JOIN_SQLS["interval_error_activity"],
        ),
        "spatial_near_pairs": (
            J.spatial_near_pairs, _JOIN_SQLS["spatial_near_pairs"],
        ),
        # radius-bounded 1-NN join: grid candidates → min(struct) argmin
        "spatial_nearest_neighbor": (
            J.spatial_nearest_neighbor,
            _JOIN_SQLS["spatial_nearest_neighbor"],
        ),
        # rows-only: DuckDB 1.0 has no spatial predicate for a twin
        # r8: oracle-paired — the buildings_edges side-table lets
        # DuckDB run the bbox join + even-odd kernel itself
        "points_in_polygons": (
            J.points_in_polygons, _GEO_SQLS["points_in_polygons"],
        ),
    }
)

# ---------------------------------------------------------------------------
# Text-analysis pack [north-star]: lang-id, quality scoring, token
# counting, fingerprinting over `documents` — all oracle-checked.
# ---------------------------------------------------------------------------

_TEXT_SQLS = T.oracle_sqls()

REGISTRY.update(
    {
        "text_token_stats": (T.text_token_stats, _TEXT_SQLS["text_token_stats"]),
        # BPE-ish regex pre-tokenizer counts (lookahead-free GPT-2
        # subset, identical in Java regex and RE2) vs whitespace
        "regex_token_stats": (
            T.regex_token_stats, _TEXT_SQLS["regex_token_stats"],
        ),
        "text_quality_scores": (
            T.text_quality_scores, _TEXT_SQLS["text_quality_scores"],
        ),
        "lang_id": (T.lang_id, _TEXT_SQLS["lang_id"]),
        "doc_fingerprints": (T.doc_fingerprints, _TEXT_SQLS["doc_fingerprints"]),
        "token_stats_by_lang": (
            T.token_stats_by_lang, _TEXT_SQLS["token_stats_by_lang"],
        ),
        "top_tokens": (T.top_tokens, _TEXT_SQLS["top_tokens"]),
        # r10: Misra-Gries candidates + exact verify (ops/scale.py) —
        # relative-threshold heavy hitters with bounded task state
        "heavy_hitter_tokens": (
            T.heavy_hitter_tokens, _TEXT_SQLS["heavy_hitter_tokens"],
        ),
        # r10: Efraimidis–Spirakis weighted WOR sampling — hash-u
        # deterministic, TakeOrdered top-n (never a global sort)
        "weighted_sample_docs": (
            T.weighted_sample_docs, T.weighted_sample_sql(),
        ),
        # RAG/training chunking: overlapping token windows, content-md5
        # chunk identity — the oracle re-derives every window by list
        # slicing, so a hash match pins offsets, sizes, AND chunk text
        "document_chunks": (T.document_chunks, _TEXT_SQLS["document_chunks"]),
        # chunk-level exact dedup composed on document_chunks: identical
        # windows anywhere in the corpus collapse to a deterministic
        # (min doc_id, min chunk_idx) keeper — C4-style boilerplate kill
        "chunk_dedup_groups": (
            T.chunk_dedup_groups, _TEXT_SQLS["chunk_dedup_groups"],
        ),
        "tfidf_top_terms": (T.tfidf_top_terms, _TEXT_SQLS["tfidf_top_terms"]),
        # token→docs champion lists (Manning IR §7.1.3): flat
        # (token, rank) rows so the value hash pins every posting
        "inverted_index_topk": (
            T.inverted_index_topk, _TEXT_SQLS["inverted_index_topk"],
        ),
        # r14: BM25 query scoring over the postings — the serving rung
        # above the champion-list index; fixedpoint score units,
        # deterministic two-term queries from the top corpus tokens
        "bm25_topk": (T.bm25_topk, T.bm25_topk_sql()),
        # r15: WAND-style champion-list pruning — registered against
        # the SAME oracle as bm25_topk, so the hash match is the
        # equality proof that pruning changes nothing (the
        # mixture_draw_split pattern)
        "bm25_topk_pruned": (T.bm25_topk_pruned, T.bm25_topk_sql()),
        # r15: served from the PERSISTED impact-ordered index (scored
        # postings + champion ranks stored at build time) — same
        # oracle again: the hash match pins stored == fresh
        "bm25_topk_stored": (T.bm25_topk_stored, T.bm25_topk_sql()),
        # r15: frozen-stats staleness monitor for the stored index —
        # the text analog of ann_drift_stat; the Spark side reads the
        # STORED stats table, the oracle re-derives it from the base
        # corpus, so the hash match pins the artifact too
        "bm25_stats_drift": (T.bm25_stats_drift, T.bm25_stats_drift_sql()),
        # r15: delta-overlay serving under the gate — stored index ∪
        # in-plan frozen-stats increment vs an oracle that re-derives
        # the frozen stats and full-scores the augmented corpus
        "bm25_topk_after_append": (
            T.bm25_topk_after_append,
            T.bm25_topk_after_append_sql(),
        ),
        "stratified_sample": (T.stratified_sample, T.stratified_sample_sql()),
        # r11: Count-Min Sketch with exact-verified point queries —
        # the frequency member of the sketch family (KMV/MG/quantiles)
        "cms_token_counts": (T.cms_token_counts, T.cms_token_counts_sql()),
        # r11: tokenizer fertility per language (subwords/word) — the
        # over-segmentation audit; same trained merges as segment stats
        "bpe_fertility_by_lang": (
            T.bpe_fertility_by_lang, T.bpe_fertility_by_lang_sql(),
        ),
        # benchmark decontamination: eval-set 5-gram overlap audit
        "decontaminate_overlap": (
            T.decontaminate_overlap, _TEXT_SQLS["decontaminate_overlap"],
        ),
        # r11: the same audit at CHUNK granularity — what a pipeline
        # actually blocks on; oracle composed from the two verified
        # parent CTEs (chunk windows × eval shingles)
        "chunk_decontaminate": (
            T.chunk_decontaminate, T.CHUNK_DECON_SQL,
        ),
        # PII redaction-gate scan (emails / phone- / SSN-shaped tokens)
        "pii_scan": (T.pii_scan, _TEXT_SQLS["pii_scan"]),
        # Gopher rule-set quality flags (Rae et al. 2021 §A1.1)
        "text_gopher_flags": (
            T.text_gopher_flags, _TEXT_SQLS["text_gopher_flags"],
        ),
        # Gopher-family repetition filter (duplicate-trigram fraction)
        "text_repetition": (T.text_repetition, T.text_repetition_sql()),
        # domain-mixture resampling toward a uniform language mixture
        "mixture_sample": (T.mixture_sample, T.mixture_sample_sql()),
        "source_cap_sample": (T.source_cap_sample, T.source_cap_sample_sql()),
        "text_unigram_surprisal": (
            T.text_unigram_surprisal, T.text_unigram_surprisal_sql(),
        ),
        # BPE (Sennrich et al. 2016): the trainer itself is a contract
        # query — the oracle retrains every merge in unrolled SQL
        "bpe_train_merges": (T.bpe_train_merges, T.bpe_train_merges_sql()),
        "bpe_segment_stats": (T.bpe_segment_stats, T.bpe_segment_stats_sql()),
        # deterministic export sharding (content-hash shard manifest)
        "training_shards": (T.training_shards, T.training_shards_sql()),
        # concat-and-chunk sequence packing (GPT-style pretraining layout)
        "sequence_pack": (T.sequence_pack, T.sequence_pack_sql()),
        "dedup_embedding_pairs": (
            T.dedup_embedding_pairs, _TEXT_SQLS["dedup_embedding_pairs"],
        ),
        # exact global NTILE(10) without a single-partition sort; the
        # oracle runs the textbook ntile window
        "quality_deciles": (T.quality_deciles, T.quality_deciles_sql()),
    }
)

# ---------------------------------------------------------------------------
# CDC / changelog pack [beyond-reference]: latest-state compaction and
# SCD2 interval build, plus exact-int64 PageRank over the trade graph.
# ---------------------------------------------------------------------------

from gis_etl_spark.ops import cdc as C  # noqa: E402
from gis_etl_spark.ops import corpus as CB  # noqa: E402
from gis_etl_spark.ops import graph as GR  # noqa: E402

REGISTRY.update(
    {
        # ONE partially-aggregated max(struct) vs the oracle's
        # row_number window — same 'latest change per key'
        "cdc_latest_state": (C.cdc_latest_state, C.cdc_latest_state_sql()),
        "scd2_intervals": (C.scd2_intervals, C.scd2_intervals_sql()),
        # r14: MERGE INTO semantics — one changelog batch of
        # insert/update/delete applied to a base snapshot in one plan
        # (anti-join on touched keys + union of new payloads)
        "cdc_merge_apply": (C.cdc_merge_apply, C.cdc_merge_apply_sql()),
        # r15: ordered multi-batch MERGE — last-writer-wins compaction
        # (max-struct on batch_id) composed with one merge; the oracle
        # compacts with the textbook window argmax instead, so the
        # hash match also pins the max-struct == window equivalence
        "cdc_merge_apply_log": (
            C.cdc_merge_apply_log,
            C.cdc_merge_apply_log_sql(),
        ),
        # 3 unrolled iterations, every rank an exact int64 — the
        # iterative-algorithm-on-Spark shape with a hash-checkable result
        "pagerank_trade": (GR.pagerank_trade, GR.pagerank_trade_sql()),
        # degree-ordered triangle census over the deterministically
        # sparsified (top 5·|V| by shared-customer count) co-purchase
        # similarity graph — wedge volume m·sqrt(2m), never Σ deg²
        "copurchase_triangles": (
            GR.copurchase_triangles, GR.copurchase_triangles_sql(),
        ),
    }
)

# ---------------------------------------------------------------------------
# Dedup pack [north-star]: exact, MinHash+LSH, SimHash, n-gram Jaccard
# over the duplicates-injected documents fixture — all oracle-checked.
# ---------------------------------------------------------------------------

_DEDUP_SQLS = D.oracle_sqls()

REGISTRY.update(
    {
        "dedup_exact_groups": (
            D.dedup_exact_groups, _DEDUP_SQLS["dedup_exact_groups"],
        ),
        "dedup_exact_kept": (
            D.dedup_exact_kept, _DEDUP_SQLS["dedup_exact_kept"],
        ),
        "dedup_minhash_pairs": (
            D.dedup_minhash_pairs, _DEDUP_SQLS["dedup_minhash_pairs"],
        ),
        # r11: fuzzy decontamination — the bipartite MinHash variant
        # (corpus band keys probe the BROADCAST eval side; catches
        # paraphrased eval leaks the exact 5-gram audit misses)
        "fuzzy_decontaminate": (
            D.fuzzy_decontaminate, _DEDUP_SQLS["fuzzy_decontaminate"],
        ),
        # r11: leakage-safe split assignment — hash-bucket BY near-dup
        # component so paraphrases never straddle train/eval; audits
        # component vs naive per-doc hashing side by side
        "leakage_safe_splits": (
            D.leakage_safe_splits, _DEDUP_SQLS["leakage_safe_splits"],
        ),
        # pair graph → duplicate clusters (label_components vs the
        # oracle's recursive-CTE transitive closure)
        "dedup_components": (
            D.dedup_components, _DEDUP_SQLS["dedup_components"],
        ),
        "dedup_simhash_pairs": (
            D.dedup_simhash_pairs, _DEDUP_SQLS["dedup_simhash_pairs"],
        ),
        "dedup_ngram_jaccard_pairs": (
            D.dedup_ngram_jaccard_pairs, _DEDUP_SQLS["dedup_ngram_jaccard_pairs"],
        ),
        # end-to-end prep funnel: quality gate → exact dedup → MinHash
        # near-dedup → per-lang audit, one lazy plan, SQL twin composed
        # from the same verified pieces
        # r10: deletion-neighborhood ED≤1 similarity join — the engine
        # runs the Pass-Join candidate plan; the oracle is the brute
        # all-pairs levenshtein the engine exists to avoid
        "customer_name_ed1_pairs": (
            D.customer_name_ed1_pairs, D.CUSTOMER_ED1_SQL,
        ),
        "training_data_prep": (D.training_data_prep, D.training_data_prep_sql()),
        "dedup_spans": (D.dedup_spans, D.dedup_spans_sql()),
        "training_data_prep_v2": (
            D.training_data_prep_v2, D.training_data_prep_v2_sql(),
        ),
    }
)

# ---------------------------------------------------------------------------
# Similarity pack [north-star]: brute-force top-k, exact near-pairs,
# relational LSH ANN, label centroids — all oracle-checked.
# ---------------------------------------------------------------------------

_SIM_SQLS = S.oracle_sqls()

REGISTRY.update(
    {
        "similarity_topk": (S.similarity_topk, _SIM_SQLS["similarity_topk"]),
        "similarity_near_pairs": (
            S.similarity_near_pairs, _SIM_SQLS["similarity_near_pairs"],
        ),
        "similarity_ann_lsh": (
            S.similarity_ann_lsh, _SIM_SQLS["similarity_ann_lsh"],
        ),
        # production-path semantic dedup: banded LSH self-join (the
        # gated all-pairs twin is dedup_embedding_pairs in ops/text.py)
        "dedup_embedding_lsh": (
            S.dedup_embedding_lsh, _SIM_SQLS["dedup_embedding_lsh"],
        ),
        # skew-guard audit: per-band bucket stats + what the cap dropped
        "dedup_embedding_lsh_audit": (
            S.dedup_embedding_lsh_audit,
            _SIM_SQLS["dedup_embedding_lsh_audit"],
        ),
        "similarity_ivf": (S.similarity_ivf, _SIM_SQLS["similarity_ivf"]),
        # trained-codebook IVF: the oracle embeds the independently
        # (sequentially) trained reference codebook as literals — a
        # hash match proves distributed Lloyd reached the same model
        "similarity_ivf_kmeans": (
            S.similarity_ivf_kmeans, S.ivf_kmeans_oracle_sql(),
        ),
        "embedding_label_centroids": (
            S.embedding_label_centroids, _SIM_SQLS["embedding_label_centroids"],
        ),
        # product quantization (Jégou et al. 2011): the oracle retrains
        # all PQ_M per-subspace codebooks in unrolled SQL, so a hash
        # match verifies training + encoding + ADC retrieval end-to-end
        "similarity_pq_adc": (S.similarity_pq_adc, S.pq_adc_oracle_sql()),
        "similarity_pq_rerank": (
            S.similarity_pq_rerank, S.pq_rerank_oracle_sql(),
        ),
        # IVFADC proper (coarse k-means + PQ on residuals): the oracle
        # retrains BOTH quantizer levels in unrolled SQL
        "similarity_ivfpq": (S.similarity_ivfpq, S.ivfpq_oracle_sql()),
        "embedding_dim_stats": (
            S.embedding_dim_stats, S.embedding_dim_stats_sql(),
        ),
        # r10: scalar int8 quantization audit — exact code checksums
        # + fixed-point reconstruction error per dimension
        "embedding_int8_stats": (
            S.embedding_int8_stats, S.embedding_int8_stats_sql(),
        ),
        # r11: serve ANN from those int8 codes — ADC distance tables
        # on codes (exact int64 sums), exact-L2 rerank on the
        # shortlist only; the oracle re-quantizes and re-ranks in SQL
        "similarity_int8_adc": (
            S.similarity_int8_adc, S.int8_adc_oracle_sql(),
        ),
        # SemDeDup (Abbas et al. 2023): cluster-then-dedup on the SAME
        # trained codebook as similarity_ivf_kmeans; the oracle retrains
        # the codebook and re-derives every intra-cluster keep/drop
        "semdedup": (S.semdedup, S.semdedup_oracle_sql()),
        # r14: the always-on rebuild-trigger monitor — per-list int64
        # fixedpoint quantization error of the training corpus vs a
        # drifted batch against the FROZEN codebook (SCALE.md's
        # operating rule, quantified as a contract query)
        "ann_drift_stat": (S.ann_drift_stat, S.ann_drift_oracle_sql()),
    }
)

# ---------------------------------------------------------------------------
# Multimodal pack [north-star]: binary payload columns + typed metadata;
# decode verified against stored columns, features rows-only.
# ---------------------------------------------------------------------------

_MM_SQLS = M.oracle_sqls()

REGISTRY.update(
    {
        "multimodal_decode_meta": (
            M.multimodal_decode_meta, _MM_SQLS["multimodal_decode_meta"],
        ),
        "multimodal_frame_sample": (
            M.multimodal_frame_sample, _MM_SQLS["multimodal_frame_sample"],
        ),
        # content-exact decode: numpy BMP/WAV decoders checksummed
        # against goldens the fixture's independent encoder stored
        "multimodal_features": (
            M.multimodal_features, _MM_SQLS["multimodal_features"],
        ),
        # decode + 2x nearest-neighbor resize/decimate vs pre-encode goldens
        "multimodal_resize": (
            M.multimodal_resize, _MM_SQLS["multimodal_resize"],
        ),
        # r15: oracle-paired (was rows-only since r6 — "hash-seeded
        # kernel"): the featurizer is now a twinnable integer hash,
        # re-derived wholesale in the DuckDB twin with pinned-order
        # float folds; fixedpoint L1 rollup (VERDICT r14 item 8)
        "multimodal_feature_norms": (
            M.multimodal_feature_norms,
            _MM_SQLS["multimodal_feature_norms"],
        ),
        # rows-only: FFT has no ANSI oracle; pytest pins DC == exact
        # sample sum (independent decode) + Parseval per clip
        # r10: oracle-paired — the FFT isn't SQL-expressible but its
        # definition is: direct O(n²) DFT over the golden mono-sample
        # side-table (was rows-only since r4)
        "multimodal_spectral": (
            M.multimodal_spectral, _MM_SQLS["multimodal_spectral"],
        ),
        # perceptual image dedup: decode → integer aHash → group; the
        # oracle reads the encoder's independently-computed golden
        "multimodal_ahash_groups": (
            M.multimodal_ahash_groups,
            _MM_SQLS["multimodal_ahash_groups"],
        ),
        # banded Hamming near-pairs over the hash — pigeonhole-exact
        "multimodal_ahash_near_pairs": (
            M.multimodal_ahash_near_pairs,
            _MM_SQLS["multimodal_ahash_near_pairs"],
        ),
        # r6: per-container-format decode proof — the fmt='jpg' row
        # scores the baseline JPEG decoder (ops/jpeg.py) on its own
        "multimodal_image_formats": (
            M.multimodal_image_formats,
            _MM_SQLS["multimodal_image_formats"],
        ),
    }
)

# ---------------------------------------------------------------------------
# H3 id algebra (published bit layout; join-compat ops for existing
# H3-indexed data — generation itself is import-gated on the h3 lib).
# ---------------------------------------------------------------------------

from gis_etl_spark.layout import h3compat as H3  # noqa: E402

REGISTRY.update(
    {
        "h3_parent_rollup": (H3.h3_parent_rollup, H3.h3_parent_rollup_sql()),
    }
)

# --- Round-4 session 2: the remaining TPC-H shapes (22/22 complete) -------
# Q11/Q16/Q17/Q20 adapt around the missing partsupp table (lineitem is
# the part↔supplier bridge) and Q12/Q21 around missing shipmode/commit/
# receipt columns, same precedent as q2/q9. Oracles keep all threshold
# arithmetic in exact fixed-point integers (fxq_sql) so HAVING membership
# can't flip cross-engine; DuckDB BIGINT sums are cast down from HUGEINT
# (the r2 failure class).

_Q11_SQL = f"""
WITH scoped AS (
  SELECT l_partkey, {fxq_sql("l_extendedprice * (1 - l_discount)")} AS q
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3')
SELECT l_partkey, (CAST(sum(q) AS DOUBLE) / 1e4) AS value
FROM scoped
GROUP BY l_partkey
HAVING CAST(sum(q) AS BIGINT) > 0.001 * (SELECT CAST(sum(q) AS BIGINT) FROM scoped)
ORDER BY value DESC, l_partkey
"""

_Q12_SQL = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_n,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

_Q17_SQL = f"""
WITH agg AS (
  SELECT l_partkey AS pk,
         CAST(sum({fxq_sql("l_quantity", 2)}) AS BIGINT) AS qty_units,
         count(*) AS n_lines_part
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 20)
  GROUP BY l_partkey)
SELECT ({fxsum_sql("l_extendedprice")} / 7.0) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN agg  ON pk = l_partkey
WHERE p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 20
  AND {fxq_sql("l_quantity", 2)} * n_lines_part * 5 < qty_units
"""

_Q20_SQL = f"""
SELECT s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_9'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING CAST(sum({fxq_sql("l_quantity", 2)}) AS BIGINT) > 100 * 100)
ORDER BY s_name
"""

# Stated in the spec's correlated EXISTS form on purpose: DuckDB
# decorrelates it independently of the engine's distinct-count
# formulation, so the hash match crosschecks two genuinely different
# renderings of the semantics.
_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 15
"""

# Conversion funnel — sequential-pattern (MATCH_RECOGNIZE) shape over
# the events stream; all arithmetic in exact int64 microseconds.
_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), views AS (
  SELECT user_id, min(us) AS view_us FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), clicks AS (
  SELECT e.user_id, v.view_us, min(e.us) AS click_us
  FROM ev e JOIN views v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.us > v.view_us AND e.us <= v.view_us + {R.FUNNEL_WINDOW_US}
  GROUP BY e.user_id, v.view_us
), purchases AS (
  SELECT e.user_id, c.view_us, min(e.us) AS purch_us
  FROM ev e JOIN clicks c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.us > c.click_us AND e.us <= c.click_us + {R.FUNNEL_WINDOW_US}
  GROUP BY e.user_id, c.view_us
), stages AS (
  SELECT '1_view' AS stage, 0::BIGINT AS delta_us FROM views
  UNION ALL
  SELECT '2_click', click_us - view_us FROM clicks
  UNION ALL
  SELECT '3_purchase', purch_us - view_us FROM purchases
)
SELECT stage, count(*)::BIGINT AS n_users,
       (sum(delta_us)::BIGINT // count(*))::BIGINT AS avg_us_from_first_view
FROM stages GROUP BY stage ORDER BY stage
"""

# Rolling-window z-score anomaly flags — exact int64 cross-multiplied
# variance test, identical frame semantics in both engines.
_ANOM_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS us,
         {fxq_sql("value", 2)} AS q
  FROM events
), stats AS (
  SELECT event_id, user_id, value, q,
         count(q)  OVER w AS n,
         CAST(sum(q)     OVER w AS BIGINT) AS s,
         CAST(sum(q * q) OVER w AS BIGINT) AS ss
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN {R.ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, value, n::BIGINT AS n_window
FROM stats
WHERE n >= {R.ANOM_MIN_N}
  AND (q * n - s) * (q * n - s) * (n - 1)
      > {R.ANOM_Z * R.ANOM_Z} * n * (n * ss - s * s)
ORDER BY event_id
"""

# Cohort retention — integer week bucketing from the epoch, exact in
# both engines; DuckDB // floors like Spark's div for nonnegative us.
_COHORT_SQL = """
WITH ev AS (
  SELECT user_id, (epoch_us(ts) // 604800000000)::BIGINT AS week
  FROM events
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
), pairs AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         (e.week - f.cohort_week)::BIGINT AS weeks_since
  FROM ev e JOIN first f USING (user_id)
), sizes AS (
  SELECT cohort_week, count(*)::BIGINT AS cohort_size
  FROM first GROUP BY cohort_week
)
SELECT p.cohort_week, p.weeks_since,
       count(DISTINCT p.user_id)::BIGINT AS n_active,
       s.cohort_size
FROM pairs p JOIN sizes s USING (cohort_week)
GROUP BY p.cohort_week, p.weeks_since, s.cohort_size
ORDER BY p.cohort_week, p.weeks_since
"""

REGISTRY.update(
    {
        "funnel_events": (R.funnel_events, _FUNNEL_SQL),
        "events_rolling_anomaly": (R.events_rolling_anomaly, _ANOM_SQL),
        "cohort_retention": (R.cohort_retention, _COHORT_SQL),
        # MATCH_RECOGNIZE shape generalized: regex over per-user
        # type-sequence strings, match COUNTS compared cross-engine
        "event_pattern_match": (
            R.event_pattern_match, R.event_pattern_match_sql(),
        ),
        # market-basket bipartite projection (item-item co-occurrence)
        "supplier_copurchase_pairs": (
            R.supplier_copurchase_pairs, R.supplier_copurchase_sql(),
        ),
        # percent_rank / cume_dist over exact integer spend units
        "customer_spend_rank": (
            R.customer_spend_rank, R.customer_spend_rank_sql(),
        ),
        "q11_important_parts": (R.q11_important_parts, _Q11_SQL),
        "q12_priority_by_returnflag": (R.q12_priority_by_returnflag, _Q12_SQL),
        "q13_order_count_distribution": (
            R.q13_order_count_distribution,
            _Q13_SQL,
        ),
        "q16_supplier_part_variety": (R.q16_supplier_part_variety, _Q16_SQL),
        "q17_small_quantity_revenue": (R.q17_small_quantity_revenue, _Q17_SQL),
        "q20_excess_shippers": (R.q20_excess_shippers, _Q20_SQL),
        "q21_waiting_suppliers": (R.q21_waiting_suppliers, _Q21_SQL),
    }
)

REGISTRY.update(
    {
        # hub-cap honesty metric for the (now enforced) co-purchase cap
        "supplier_copurchase_audit": (
            R.supplier_copurchase_audit,
            R.supplier_copurchase_audit_sql(),
        ),
        # pentagon-aware cellToChildren on real H3 ids: 12-pentagon
        # constant validated by re-deriving the published cell counts
        "h3_children_rollup": (
            H3.h3_children_rollup,
            H3.h3_children_rollup_sql(),
        ),
    }
)

# gridDisk / gridRing / gridDistance on real H3 ids (layout/h3grid.py):
# exact within non-pentagon base cells via integer axial-lattice
# algebra, verified against the H3 documentation's published gridDisk
# example.

from gis_etl_spark.layout import h3grid as H3G  # noqa: E402

REGISTRY.update(
    {
        # aperture-7 law as a driver contract: lattice-walked ring ==
        # digit-arithmetic children for all 110 non-pentagon base cells
        "h3_grid_ring_children": (
            H3G.h3_grid_ring_children,
            H3G.h3_grid_ring_children_sql(),
        ),
        # k=2 disks over synthetic res-9 cells; rows-only by design
        # (lattice walk is not SQL-expressible; laws pinned in
        # tests/test_h3grid.py incl. the published doc example)
        "h3_grid_disk_stats": (H3G.h3_grid_disk_stats, None),
    }
)

REGISTRY.update(
    {
        "h3_grid_distance_pairs": (
            H3G.h3_grid_distance_pairs,
            H3G.h3_grid_distance_pairs_sql(),
        ),
        # gridDisk itself (truncation included) vs the same SQL fold —
        # disk = hexdist<=2 over the enumerated res-2 patch
        "h3_grid_disk_members": (
            H3G.h3_grid_disk_members,
            H3G.h3_grid_disk_members_sql(),
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-12 additions.
#
# similarity_ivfpq_rerank (VERDICT r11 item 1): the IVFADC+R rung —
# the r11 quality dashboard measured raw probed-ADC recall@5 at 15%
# while the rerank pattern lifts its siblings to 67-100%; this caps
# the same probed chain with the exact-L2 rerank (Jégou et al. §V).
# ---------------------------------------------------------------------------

REGISTRY.update(
    {
        "similarity_ivfpq_rerank": (
            S.similarity_ivfpq_rerank,
            S.ivfpq_rerank_oracle_sql(),
        ),
        # bipartite incremental dedup vs a persisted corpus snapshot
        # (VERDICT r11 item 6): exact fingerprint probe + MinHash band
        # probe, new side broadcast, history never self-joins
        "incremental_dedup_pairs": (
            D.incremental_dedup_pairs,
            _DEDUP_SQLS["incremental_dedup_pairs"],
        ),
        # hard-negative mining: top-k closest non-positives per query,
        # band + rank on the rounded cosine (boundary/tie parity)
        "similarity_hard_negatives": (
            S.similarity_hard_negatives,
            _SIM_SQLS["similarity_hard_negatives"],
        ),
        # cross-document duplicate-5-gram share per doc — the corpus-
        # level complement of text_repetition
        "corpus_dup_ngram_fraction": (
            T.corpus_dup_ngram_fraction,
            T.corpus_dup_ngram_fraction_sql(),
        ),
        # KMV set algebra: sketch-estimated |A∪B| / |A∩B| of two
        # source groups' shingle sets, exact counts riding along —
        # deterministic sketch, so even the estimates hash-match
        "kmv_source_overlap": (
            T.kmv_source_overlap,
            T.kmv_source_overlap_sql(),
        ),
        # as-of with a tolerance horizon (pandas merge_asof semantics):
        # stale context drops, clicks survive with an explicit flag
        "asof_click_view_tolerance": (
            J.asof_click_view_tolerance,
            _JOIN_SQLS["asof_click_view_tolerance"],
        ),
        # per-source dataset report card: docs/tokens/langs/quality/
        # exact-dup footprint in one pass, fixedpoint-deterministic
        "source_data_card": (
            T.source_data_card,
            T.source_data_card_sql(),
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-13 additions.
# ---------------------------------------------------------------------------
REGISTRY.update(
    {
        # KMV set algebra, sketch-only (VERDICT r12 item 6): the
        # deployable path — per-group TakeOrdered(K) sketches merged
        # by set algebra, no exact full-universe audit in the plan
        "kmv_overlap_sketch": (
            T.kmv_overlap_sketch,
            T.kmv_overlap_sketch_sql(),
        ),
        # IVFADC+R served from the PERSISTED bucketed index tables
        # (VERDICT r12 item 3): bit-identical to similarity_ivfpq_rerank,
        # so the same retrain-and-probe oracle pins the stored artifacts
        "similarity_ivfpq_serve": (
            S.similarity_ivfpq_serve,
            S.ivfpq_rerank_oracle_sql(),
        ),
        # canonical-keeper policy per near-dup cluster: keep the
        # highest-quality member (ties -> min id); argmax via one
        # map-side-combined max(struct), no window over members
        "dedup_canonical_keepers": (
            D.dedup_canonical_keepers,
            _DEDUP_SQLS["dedup_canonical_keepers"],
        ),
        # duplicate-cluster size histogram: clusters / docs / redundant
        # docs per size — the policy-choice observability rollup
        "dedup_cluster_stats": (
            D.dedup_cluster_stats,
            _DEDUP_SQLS["dedup_cluster_stats"],
        ),
        # temperature-0.5 source sampling weights (sqrt smoothing —
        # IEEE sqrt is correctly rounded in both engines, pow is not);
        # fixedpoint units -> exact integer denominator
        "mixture_temperature_weights": (
            T.mixture_temperature_weights,
            T.mixture_temperature_weights_sql(),
        ),
        # PII redaction transform (SSN -> phone -> email, pinned
        # order); oracle hash pins BYTE equality of redacted text
        "pii_redact": (
            T.pii_redact,
            T.pii_redact_sql(),
        ),
        # integer-exact token-budget apportionment (Hamilton largest
        # remainder over sqrt-smoothed units): quotas sum to the
        # budget EXACTLY, all int64 arithmetic
        "mixture_token_plan": (
            T.mixture_token_plan,
            T.mixture_token_plan_sql(),
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-14 additions.
# ---------------------------------------------------------------------------
REGISTRY.update(
    {
        # canonical-keeper dedup APPLIED (VERDICT r13 item 1): the
        # per-source before/after data-card delta of materializing the
        # keeper-only corpus; the corpus write itself is
        # apply_keepers_corpus / `canonical-dedup --write-survivors`
        "dedup_apply_keepers": (
            D.dedup_apply_keepers,
            _DEDUP_SQLS["dedup_apply_keepers"],
        ),
        # quota-respecting deterministic sampler (VERDICT r13 item 2):
        # per source, hash-ordered maximal prefix under the Hamilton
        # token quota — Σ selected ≤ quota < Σ + next-doc
        "mixture_draw_plan": (
            T.mixture_draw_plan,
            T.mixture_draw_plan_sql(),
        ),
        # the draw's 100 TB rendition: hash-prefix-bucketed two-pass
        # running sum (no whole-source window partition); SAME oracle
        # as mixture_draw_plan — the hash match is the independent
        # proof the refinement changes nothing
        "mixture_draw_split": (
            T.mixture_draw_split,
            T.mixture_draw_plan_sql(),
        ),
        # span-level PII audit (VERDICT r13 item 5): exact (kind,
        # start, len) of every match, so redaction is verifiable
        # offset-by-offset; split+prefix-sum, no position regex needed
        "pii_spans": (
            T.pii_spans,
            T.pii_spans_sql(),
        ),
        # the curation CAPSTONE: raw → near_dedup → quality →
        # pii_clean → mixture_draw as one lazy plan, per-source
        # per-stage (n_docs, n_tokens) — composes the keeper policy,
        # the quality composite, the PII gate, and the Hamilton draw
        # with their exact standalone expressions
        "corpus_build_funnel": (
            CB.corpus_build_funnel,
            CB.corpus_build_funnel_sql(),
        ),
    }
)

# ---------------------------------------------------------------------------
# Round 16: the incremental-funnel contract query (VERDICT r15 item 5)
# — the increment's stage flags from the frozen-history probes, hash-
# pinned against a full re-derive over base ∪ increment — plus its
# OPERATING MONITOR flags_increment_risk (the bm25_stats_drift /
# ann_drift_stat pattern): the displacement-risk census that detects,
# increment-sized, exactly when the frozen-history approximation
# stops being exact.
# ---------------------------------------------------------------------------

REGISTRY.update(
    {
        "corpus_flags_increment": (
            CB.corpus_flags_increment,
            CB.corpus_flags_increment_sql(),
        ),
        "flags_increment_risk": (
            CB.flags_increment_risk,
            CB.flags_increment_risk_sql(),
        ),
        # r17: the remediation the monitor schedules — targeted
        # re-derive of exactly the merged components the increment can
        # change, patched over the frozen-history flags; the oracle
        # re-derives EVERYTHING from scratch over base ∪ risky
        # increment and emits increment ids + changed base ids
        "corpus_flags_rederive": (
            CB.corpus_flags_rederive,
            CB.corpus_flags_rederive_sql(),
        ),
        # the stored-snapshot rung of incremental dedup, registered
        # against the SAME oracle as the in-plan rung — the
        # bm25_topk_stored equality-proof pattern applied to the
        # snapshot artifacts (fingerprints/bands/shingles/sizes)
        "incremental_dedup_pairs_stored": (
            D.incremental_dedup_pairs_stored,
            _DEDUP_SQLS["incremental_dedup_pairs"],
        ),
    }
)

# ---------------------------------------------------------------------------
# Gate window: the driver hash-checks only the first 50 entries in dict
# order against their oracles. WINDOW is what `python tools/rotate.py`
# prints for census round WINDOW_CENSUS: PLAN_CHANGED first, then the
# queries with the oldest latest driver score (never scored first),
# ties by name. PLAN_CHANGED names the queries whose physical plan
# changed since their latest driver score; a change that restructures
# a plan adds its queries here and re-runs the tool.
# ---------------------------------------------------------------------------

PLAN_CHANGED: tuple[str, ...] = ()
WINDOW_CENSUS = 19
WINDOW = (
    "dedup_embedding_pairs",
    "dedup_exact_groups",
    "dedup_exact_kept",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_simhash_pairs",
    "doc_fingerprints",
    "fuzzy_decontaminate",
    "gdb_scan_attrs",
    "gdb_scan_oids",
    "geo_haversine_span",
    "geo_heatmap_pyramid",
    "geo_normalized_bbox",
    "geo_total_count",
    "gpkg_heatmap_roundtrip",
    "h3_grid_disk_stats",
    "h3_grid_ring_children",
    "hex_heatmap_pyramid",
    "hex_heatmap_smoothed",
    "kmv_overlap_sketch",
    "kmv_source_overlap",
    "multimodal_ahash_near_pairs",
    "multimodal_feature_norms",
    "multimodal_frame_sample",
    "multimodal_resize",
    "q11_important_parts",
    "q12_priority_by_returnflag",
    "q13_order_count_distribution",
    "q16_supplier_part_variety",
    "q17_small_quantity_revenue",
    "source_id_extract",
    "union_all_names",
    "asof_click_view_tolerance",
    "bloom_semi_orders",
    "cdc_merge_apply_log",
    "count_lineitem",
    "cube_orders",
    "custkeys_without_recent_orders",
    "customers_without_orders",
    "document_chunks",
    "embedding_label_centroids",
    "events_hourly_rollup",
    "events_sliding_windows",
    "filter_range_events",
    "geo_centroid_containment",
    "geo_centroid_stats",
    "geo_distinct_sources",
    "geo_global_bbox",
    "incremental_dedup_pairs",
    "interval_error_activity",
)

REGISTRY = {
    **{k: REGISTRY[k] for k in WINDOW},
    **{k: v for k, v in REGISTRY.items() if k not in WINDOW},
}
