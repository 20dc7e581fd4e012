"""Relational engine-surface queries (SURVEY.md §2.9) with DuckDB oracles.

Each entry exercises one engine capability the reference's dataflow
needs (reference citations inline), expressed over the driver's
TPC-H-ish testdata tables so DuckDB can check it:

  - tokenizer classify cascade      (src/tokenizer.ts:76-115)
  - block segmentation running-sum  (src/parser.ts:129-159, V1)
  - token-order lead validation     (src/airspace-factory.ts:239-285, V2)
  - fill-forward look-behind        (src/airspace-factory.ts:622-645, A2)
  - inventory check                 (src/airspace-factory.ts:293-333, V3)
  - last-wins property fold         (src/airspace-factory.ts:335-365, A1)
  - ceiling sanity + unit convert   (src/airspace-factory.ts:663-697, V4)
  - broadcast join / range join / top-k / rollup / semi-anti / set ops
  - DMS formatting                  (src/geojson-to-openair.ts:124-161, O3)
  - ISO-8601 normalization          (src/tokens/aa-token.ts:148-151, T20)
  - haversine / kNN / PIP / raster  (north rule spatial ops)

Determinism contract: outputs are ints, strings, raw parquet doubles,
or doubles rounded AFTER identical-op-order math, so Spark and DuckDB
value-hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QueryDef, load

# ---------------------------------------------------------------- helpers

# deterministic synthetic coordinates in a [35,65) x [-10,30) window
# (integer modular math -> bit-identical in Spark and DuckDB)
def _lat_expr(key: str) -> str:
    # `e0` literals force DOUBLE in both Spark and DuckDB (plain `35.0`
    # parses as DECIMAL in Spark SQL and would decimal-taint the output)
    return f"(35.0e0 + ({key} * 7919) % 30000 / 1000.0e0)"


def _lon_expr(key: str) -> str:
    return f"(-10.0e0 + ({key} * 104729) % 40000 / 1000.0e0)"


def _pts(spark, sf_dir, table: str, key: str) -> DataFrame:
    return load(spark, sf_dir, table).selectExpr(
        f"CAST({key} AS STRING) AS point_id",
        f"{_lat_expr(key)} AS lat",
        f"{_lon_expr(key)} AS lon",
    )


# convex CCW quads with slanted edges (no point of the 0.001-degree
# synthetic grid falls exactly on an edge)
PIP_QUADS = [
    {"polygon_id": "quad-west", "ring": [
        [-8.1234567, 37.2345671], [3.7654329, 39.1234567],
        [2.2345671, 52.7654321], [-6.8765433, 50.1234567],
        [-8.1234567, 37.2345671]]},
    {"polygon_id": "quad-east", "ring": [
        [12.1111111, 40.2222222], [27.3333333, 42.4444449],
        [25.5555557, 60.6666661], [13.7777779, 58.8888887],
        [12.1111111, 40.2222222]]},
    {"polygon_id": "quad-mid", "ring": [
        [1.0101013, 44.0202021], [11.0303031, 45.0404043],
        [10.0505057, 56.0606063], [2.0707071, 55.0808081],
        [1.0101013, 44.0202021]]},
]


def _quad_halfplane_sql(quad: dict, lon: str, lat: str) -> str:
    """Point strictly inside a convex CCW ring iff every edge cross
    product is positive — independent of the engine's ray-cast."""
    ring = quad["ring"]
    terms = []
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        terms.append(
            f"(({x2!r} - {x1!r}) * ({lat} - {y1!r})"
            f" - ({y2!r} - {y1!r}) * ({lon} - {x1!r})) > 0"
        )
    return "(" + " AND ".join(terms) + ")"


_EVENT_ORDER = "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


# ---------------------------------------------------------------- queries

def q_tokenize_classify(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    token_type = (
        F.when(F.col("event_type").rlike("^(view|click)$"), "NAV")
        .when(F.col("event_type") == "signup", "MARKER")
        .when(F.col("event_type").rlike("^(purchase)$"), "DATA")
        .otherwise("IGNORED")
    )
    return (
        ev.select(token_type.alias("token_type"), "value")
        .groupBy("token_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


SQL_TOKENIZE_CLASSIFY = """
SELECT CASE
         WHEN regexp_matches(event_type, '^(view|click)$') THEN 'NAV'
         WHEN event_type = 'signup' THEN 'MARKER'
         WHEN regexp_matches(event_type, '^(purchase)$') THEN 'DATA'
         ELSE 'IGNORED' END AS token_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def q_block_segmentation(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marker = F.when(F.col("event_type") == "signup", 1).otherwise(0)
    return (
        ev.withColumn("block_id", F.sum(marker).over(w))
        .groupBy("user_id", "block_id")
        .agg(F.count("*").alias("n_events"),
             F.min("event_id").alias("first_event"),
             F.max("event_id").alias("last_event"))
    )


SQL_BLOCK_SEGMENTATION = f"""
SELECT user_id, block_id, count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM (
  SELECT user_id, event_id,
         -- CAST: DuckDB integer sum() yields HUGEINT; Spark yields BIGINT.
         -- The driver's typed value-hash needs both sides to be int64.
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id {_EVENT_ORDER}) AS BIGINT) AS block_id
  FROM events
) GROUP BY user_id, block_id
"""


def q_order_validation_lead(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .select("event_type", F.coalesce("next_type", F.lit("EOF")).alias("next_type"))
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


SQL_ORDER_VALIDATION_LEAD = """
SELECT event_type, coalesce(next_type, 'EOF') AS next_type, count(*) AS n
FROM (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
) GROUP BY 1, 2
"""


def q_fill_forward(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marker_val = F.when(F.col("event_type") == "signup", F.col("value"))
    return ev.select(
        "event_id",
        F.last(marker_val, ignorenulls=True).over(w).alias("last_signup_value"),
    )


SQL_FILL_FORWARD = f"""
SELECT event_id,
       last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id {_EVENT_ORDER}) AS last_signup_value
FROM events
"""


# 'refund' never occurs -> the required-set check has real misses at
# every sf (mirrors V3: required {AC, AN, AL, AH} with AY often absent)
_REQUIRED_TYPES = ["click", "purchase", "refund", "signup"]  # alphabetical


def q_inventory_check(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("present"))
        .select(
            "user_id",
            F.array_join(
                F.array_sort(F.array_except(
                    F.array(*[F.lit(t) for t in _REQUIRED_TYPES]), F.col("present"))),
                ",",
            ).alias("missing"),
        )
        .where(F.col("missing") != "")
    )


SQL_INVENTORY_CHECK = """
SELECT user_id, missing FROM (
  SELECT user_id, concat_ws(',',
    CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 END) IS NULL THEN 'click' END,
    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 END) IS NULL THEN 'purchase' END,
    CASE WHEN sum(CASE WHEN event_type = 'refund' THEN 1 END) IS NULL THEN 'refund' END,
    CASE WHEN sum(CASE WHEN event_type = 'signup' THEN 1 END) IS NULL THEN 'signup' END
  ) AS missing
  FROM events GROUP BY user_id
) WHERE missing <> ''
"""


def q_property_fold(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.max_by("value", "event_id").alias("last_value"),
             F.count("*").alias("n"))
    )


SQL_PROPERTY_FOLD = """
SELECT user_id, event_type, arg_max(value, event_id) AS last_value, count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_ceiling_sanity(spark, sf_dir):
    # V4 analogue: even event ids carry meters -> x3.28084 to feet
    ev = load(spark, sf_dir, "events")
    alt_ft = F.when(F.col("event_id") % 2 == 0, F.col("value") * 3.28084).otherwise(F.col("value"))
    return (
        ev.select("user_id", alt_ft.alias("alt_ft"))
        .groupBy("user_id")
        .agg(
            F.round(F.max("alt_ft"), 6).alias("max_alt_ft"),
            F.sum(F.when(F.col("alt_ft") > 200.0, 1).otherwise(0)).alias("n_violations"),
        )
    )


SQL_CEILING_SANITY = """
SELECT user_id, round(max(alt_ft), 6) AS max_alt_ft,
       CAST(sum(CASE WHEN alt_ft > 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM (
  SELECT user_id,
         CASE WHEN event_id % 2 = 0 THEN value * 3.28084 ELSE value END AS alt_ft
  FROM events
) GROUP BY user_id
"""


def q_broadcast_join_agg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_BROADCAST_JOIN_AGG = """
SELECT n_name, p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


_BINS = [("b0_25", 0.0, 25.0), ("b25_50", 25.0, 50.0),
         ("b50_75", 50.0, 75.0), ("b75_up", 75.0, 1e18)]


def q_range_join_bins(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    bins = spark.createDataFrame(_BINS, "bin string, lo double, hi double")
    return (
        ev.join(F.broadcast(bins),
                (ev.value >= bins.lo) & (ev.value < bins.hi), "inner")
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


SQL_RANGE_JOIN_BINS = """
SELECT bin, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
JOIN (VALUES ('b0_25', 0.0, 25.0), ('b25_50', 25.0, 50.0),
             ('b50_75', 50.0, 75.0), ('b75_up', 75.0, 1e18)) bins(bin, lo, hi)
  ON value >= lo AND value < hi
GROUP BY 1
"""


def q_topk_window(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


SQL_TOPK_WINDOW = """
SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_rollup_agg(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"),
             F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "n_cust", "acctbal_sum",
        )
    )


SQL_ROLLUP_AGG = """
SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
       count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal_sum
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def q_anti_semi_join(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nat = load(spark, sf_dir, "nation")
    no_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey").agg(F.count("*").alias("n_no_orders"))
    )
    f_orders = (
        cust.join(orders.where(F.col("o_orderstatus") == "F"),
                  cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_nationkey").agg(F.count("*").alias("n_f_cust"))
    )
    return (
        nat.join(no_orders, nat.n_nationkey == no_orders.c_nationkey, "left")
        .drop("c_nationkey")
        .join(f_orders, nat.n_nationkey == f_orders.c_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("n_no_orders", F.lit(0)).alias("n_no_orders"),
            F.coalesce("n_f_cust", F.lit(0)).alias("n_f_cust"),
        )
    )


SQL_ANTI_SEMI_JOIN = """
SELECT n_name,
       coalesce((SELECT count(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                   AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)), 0)
         AS n_no_orders,
       coalesce((SELECT count(*) FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                   AND EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')), 0)
         AS n_f_cust
FROM nation n
"""


def q_set_ops(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    item = F.concat_ws("|", "p_brand", "p_type").alias("item")
    big = part.where(F.col("p_size") >= 45).select(item).distinct()
    small = part.where(F.col("p_size") <= 3).select(item).distinct()
    pricey = part.where(F.col("p_retailprice") > 1200).select(item).distinct()
    return big.subtract(small).union(pricey.intersect(small)).distinct()


SQL_SET_OPS = """
SELECT DISTINCT item FROM (
  (SELECT DISTINCT concat_ws('|', p_brand, p_type) AS item FROM part WHERE p_size >= 45
   EXCEPT
   SELECT DISTINCT concat_ws('|', p_brand, p_type) AS item FROM part WHERE p_size <= 3)
  UNION
  (SELECT DISTINCT concat_ws('|', p_brand, p_type) AS item FROM part WHERE p_retailprice > 1200
   INTERSECT
   SELECT DISTINCT concat_ws('|', p_brand, p_type) AS item FROM part WHERE p_size <= 3)
)
"""


def q_string_dms_format(spark, sf_dir):
    # O3 DMS writer analogue (src/geojson-to-openair.ts:124-161):
    # integer-second grid -> no rounding ties between engines.
    cust = load(spark, sf_dir, "customer")
    return cust.selectExpr(
        "c_custkey",
        f"""format_string('%02d:%02d:%02d N %03d:%02d:%02d E',
            CAST(ROUND({_lat_expr('c_custkey')} * 3600) AS BIGINT) DIV 3600,
            CAST(ROUND({_lat_expr('c_custkey')} * 3600) AS BIGINT) DIV 60 % 60,
            CAST(ROUND({_lat_expr('c_custkey')} * 3600) AS BIGINT) % 60,
            CAST(ROUND(({_lon_expr('c_custkey')} + 20.0) * 3600) AS BIGINT) DIV 3600,
            CAST(ROUND(({_lon_expr('c_custkey')} + 20.0) * 3600) AS BIGINT) DIV 60 % 60,
            CAST(ROUND(({_lon_expr('c_custkey')} + 20.0) * 3600) AS BIGINT) % 60) AS dms""",
    )


SQL_STRING_DMS_FORMAT = f"""
SELECT c_custkey,
       printf('%02d:%02d:%02d N %03d:%02d:%02d E',
              CAST(ROUND({_lat_expr('c_custkey')} * 3600) AS BIGINT) // 3600,
              CAST(ROUND({_lat_expr('c_custkey')} * 3600) AS BIGINT) // 60 % 60,
              CAST(ROUND({_lat_expr('c_custkey')} * 3600) AS BIGINT) % 60,
              CAST(ROUND(({_lon_expr('c_custkey')} + 20.0) * 3600) AS BIGINT) // 3600,
              CAST(ROUND(({_lon_expr('c_custkey')} + 20.0) * 3600) AS BIGINT) // 60 % 60,
              CAST(ROUND(({_lon_expr('c_custkey')} + 20.0) * 3600) AS BIGINT) % 60) AS dms
FROM customer
"""


def q_date_iso_normalize(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    iso = F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return (
        orders.select(F.date_format("o_orderdate", "yyyy-MM").alias("month"), iso.alias("iso"))
        .groupBy("month")
        .agg(F.count("*").alias("n"), F.min("iso").alias("first_iso"), F.max("iso").alias("last_iso"))
    )


SQL_DATE_ISO_NORMALIZE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
       min(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')) AS first_iso,
       max(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')) AS last_iso
FROM orders GROUP BY 1
"""


_HAVERSINE_SQL = """
2 * 6371.0088 * atan2(
  sqrt(pow(sin(radians({lat2} - {lat1}) / 2), 2)
       + pow(sin(radians({lon2} - {lon1}) / 2), 2)
         * cos(radians({lat1})) * cos(radians({lat2}))),
  sqrt(1 - (pow(sin(radians({lat2} - {lat1}) / 2), 2)
            + pow(sin(radians({lon2} - {lon1}) / 2), 2)
              * cos(radians({lat1})) * cos(radians({lat2})))))
"""


def q_haversine_nearest(spark, sf_dir):
    from ..ops.knn import haversine_km

    cust = _pts(spark, sf_dir, "customer", "c_custkey")
    supp = load(spark, sf_dir, "supplier").selectExpr(
        "CAST(s_suppkey AS STRING) AS supp_id",
        f"{_lat_expr('s_suppkey')} AS s_lat",
        f"{_lon_expr('s_suppkey')} AS s_lon",
    )
    cand = cust.crossJoin(F.broadcast(supp)).withColumn(
        "dist_km", haversine_km(F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")))
    w = Window.partitionBy("point_id").orderBy(F.col("dist_km").asc(), F.col("supp_id").asc())
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("point_id", F.round("dist_km", 6).alias("nearest_km"),
                F.col("supp_id").alias("nearest_supp"))
    )


SQL_HAVERSINE_NEAREST = f"""
SELECT point_id, round(dist_km, 6) AS nearest_km, supp_id AS nearest_supp FROM (
  SELECT point_id, supp_id, dist_km,
         row_number() OVER (PARTITION BY point_id ORDER BY dist_km ASC, supp_id ASC) AS rk
  FROM (
    SELECT CAST(c_custkey AS VARCHAR) AS point_id, CAST(s_suppkey AS VARCHAR) AS supp_id,
           {_HAVERSINE_SQL.format(lat1=_lat_expr('c_custkey'), lon1=_lon_expr('c_custkey'),
                                  lat2=_lat_expr('s_suppkey'), lon2=_lon_expr('s_suppkey'))} AS dist_km
    FROM customer CROSS JOIN supplier
  )
) WHERE rk = 1
"""


def q_knn_cell_local(spark, sf_dir):
    from ..ops.knn import knn_join

    cust = _pts(spark, sf_dir, "customer", "c_custkey")
    supp = load(spark, sf_dir, "supplier").selectExpr(
        "CAST(s_suppkey AS STRING) AS centroid_id",
        f"{_lat_expr('s_suppkey')} AS lat",
        f"{_lon_expr('s_suppkey')} AS lon",
    )
    out = knn_join(cust, supp, k=3)
    return out.select(
        "point_id", "centroid_id", "rank", F.round("dist_km", 6).alias("dist_km"))


SQL_KNN_CELL_LOCAL = f"""
SELECT point_id, centroid_id, rank, round(dist_km, 6) AS dist_km FROM (
  SELECT point_id, centroid_id, dist_km,
         row_number() OVER (PARTITION BY point_id ORDER BY dist_km ASC, centroid_id ASC) AS rank
  FROM (
    SELECT CAST(c_custkey AS VARCHAR) AS point_id, CAST(s_suppkey AS VARCHAR) AS centroid_id,
           {_HAVERSINE_SQL.format(lat1=_lat_expr('c_custkey'), lon1=_lon_expr('c_custkey'),
                                  lat2=_lat_expr('s_suppkey'), lon2=_lon_expr('s_suppkey'))} AS dist_km
    FROM customer CROSS JOIN supplier
  )
) WHERE rank <= 3
"""


def q_pip_convex(spark, sf_dir):
    from ..ops.pip import pip_join

    cust = _pts(spark, sf_dir, "customer", "c_custkey")
    return pip_join(cust, PIP_QUADS).select("point_id", "polygon_id")


SQL_PIP_CONVEX = f"""
SELECT point_id, polygon_id FROM (
  SELECT CAST(c_custkey AS VARCHAR) AS point_id,
         {_lat_expr('c_custkey')} AS lat, {_lon_expr('c_custkey')} AS lon
  FROM customer
) p
JOIN (VALUES {", ".join(f"('{q['polygon_id']}')" for q in PIP_QUADS)}) q(polygon_id) ON TRUE
WHERE (polygon_id = 'quad-west' AND {_quad_halfplane_sql(PIP_QUADS[0], 'lon', 'lat')})
   OR (polygon_id = 'quad-east' AND {_quad_halfplane_sql(PIP_QUADS[1], 'lon', 'lat')})
   OR (polygon_id = 'quad-mid'  AND {_quad_halfplane_sql(PIP_QUADS[2], 'lon', 'lat')})
"""


_RASTER_RES = 7


def q_raster_tiles(spark, sf_dir):
    from ..ops.raster import tiles_from_points

    cust = load(spark, sf_dir, "customer").selectExpr(
        "CAST(c_custkey AS STRING) AS point_id",
        f"{_lat_expr('c_custkey')} AS lat",
        f"{_lon_expr('c_custkey')} AS lon",
        "c_acctbal AS value",
    )
    tiles = tiles_from_points(cust, _RASTER_RES)
    # sum, not avg: 2-dp inputs keep the rounded sum away from half-ulp
    # ties that avg's division can land on across engines
    return tiles.select("tile", "n_points", F.round("tile_sum", 2).alias("tile_value"))


def _sql_tile_expr(lat: str, lon: str, res: int) -> str:
    from ..index.quadkey import sql_cell_expr

    return sql_cell_expr(lat, lon, res)


SQL_RASTER_TILES = f"""
SELECT tile, count(*) AS n_points, round(sum(value), 2) AS tile_value
FROM (
  SELECT {_sql_tile_expr(_lat_expr('c_custkey'), _lon_expr('c_custkey'), _RASTER_RES)} AS tile,
         c_acctbal AS value
  FROM customer
) GROUP BY tile
"""


def q_raster_assign(spark, sf_dir):
    from ..ops.raster import assign_tiles, tiles_from_points

    cust = load(spark, sf_dir, "customer").selectExpr(
        "CAST(c_custkey AS STRING) AS point_id",
        f"{_lat_expr('c_custkey')} AS lat",
        f"{_lon_expr('c_custkey')} AS lon",
        "c_acctbal AS value",
    )
    tiles = tiles_from_points(cust, _RASTER_RES).select("tile", "n_points")
    return assign_tiles(tiles, PIP_QUADS, _RASTER_RES).select("tile", "polygon_id", "n_points")


def _sql_tile_center(axis: str, res: int) -> str:
    n = 1 << res
    if axis == "lat":
        return f"(-90.0 + ((tile // {1 << 27}) % {1 << 27} + 0.5) * 180.0 / {n})"
    return f"(-180.0 + (tile % {1 << 27} + 0.5) * 360.0 / {n})"


SQL_RASTER_ASSIGN = f"""
WITH tiles AS (
  SELECT tile, count(*) AS n_points
  FROM (
    SELECT {_sql_tile_expr(_lat_expr('c_custkey'), _lon_expr('c_custkey'), _RASTER_RES)} AS tile
    FROM customer
  ) GROUP BY tile
), centers AS (
  SELECT tile, n_points,
         {_sql_tile_center('lat', _RASTER_RES)} AS clat,
         {_sql_tile_center('lon', _RASTER_RES)} AS clon
  FROM tiles
)
SELECT tile, polygon_id, n_points
FROM centers
JOIN (VALUES {", ".join(f"('{q['polygon_id']}')" for q in PIP_QUADS)}) q(polygon_id) ON TRUE
WHERE (polygon_id = 'quad-west' AND {_quad_halfplane_sql(PIP_QUADS[0], 'clon', 'clat')})
   OR (polygon_id = 'quad-east' AND {_quad_halfplane_sql(PIP_QUADS[1], 'clon', 'clat')})
   OR (polygon_id = 'quad-mid'  AND {_quad_halfplane_sql(PIP_QUADS[2], 'clon', 'clat')})
"""


def q_envelope_bbox(spark, sf_dir):
    cust = load(spark, sf_dir, "customer").selectExpr(
        "c_nationkey",
        f"{_lat_expr('c_custkey')} AS lat",
        f"{_lon_expr('c_custkey')} AS lon",
    )
    return cust.groupBy("c_nationkey").agg(
        F.min("lon").alias("west"), F.min("lat").alias("south"),
        F.max("lon").alias("east"), F.max("lat").alias("north"),
        F.count("*").alias("n_points"),
    )


SQL_ENVELOPE_BBOX = f"""
SELECT c_nationkey, min(lon) AS west, min(lat) AS south,
       max(lon) AS east, max(lat) AS north, count(*) AS n_points
FROM (
  SELECT c_nationkey, {_lat_expr('c_custkey')} AS lat, {_lon_expr('c_custkey')} AS lon
  FROM customer
) GROUP BY c_nationkey
"""



def q_windowed_agg(spark, sf_dir):
    """Hourly tumbling-window event stats (count and value sum per
    event type), as one batch groupBy."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                 "yyyy-MM-dd'T'HH:mm:ss").alias("window_start"),
                   "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


SQL_WINDOWED_AGG = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


CATALOG = {
    "tokenize_classify": QueryDef(q_tokenize_classify, SQL_TOKENIZE_CLASSIFY),
    "block_segmentation": QueryDef(q_block_segmentation, SQL_BLOCK_SEGMENTATION),
    "order_validation_lead": QueryDef(q_order_validation_lead, SQL_ORDER_VALIDATION_LEAD),
    "fill_forward": QueryDef(q_fill_forward, SQL_FILL_FORWARD),
    "inventory_check": QueryDef(q_inventory_check, SQL_INVENTORY_CHECK),
    "property_fold": QueryDef(q_property_fold, SQL_PROPERTY_FOLD),
    "ceiling_sanity": QueryDef(q_ceiling_sanity, SQL_CEILING_SANITY),
    "broadcast_join_agg": QueryDef(q_broadcast_join_agg, SQL_BROADCAST_JOIN_AGG),
    "range_join_bins": QueryDef(q_range_join_bins, SQL_RANGE_JOIN_BINS),
    "topk_window": QueryDef(q_topk_window, SQL_TOPK_WINDOW),
    "rollup_agg": QueryDef(q_rollup_agg, SQL_ROLLUP_AGG),
    "anti_semi_join": QueryDef(q_anti_semi_join, SQL_ANTI_SEMI_JOIN),
    "set_ops": QueryDef(q_set_ops, SQL_SET_OPS),
    "string_dms_format": QueryDef(q_string_dms_format, SQL_STRING_DMS_FORMAT),
    "date_iso_normalize": QueryDef(q_date_iso_normalize, SQL_DATE_ISO_NORMALIZE),
    "haversine_nearest": QueryDef(q_haversine_nearest, SQL_HAVERSINE_NEAREST),
    "knn_cell_local": QueryDef(q_knn_cell_local, SQL_KNN_CELL_LOCAL),
    "pip_convex": QueryDef(q_pip_convex, SQL_PIP_CONVEX),
    "raster_tiles": QueryDef(q_raster_tiles, SQL_RASTER_TILES),
    "raster_assign": QueryDef(q_raster_assign, SQL_RASTER_ASSIGN),
    "envelope_bbox": QueryDef(q_envelope_bbox, SQL_ENVELOPE_BBOX),
    "windowed_agg": QueryDef(q_windowed_agg, SQL_WINDOWED_AGG),
}
