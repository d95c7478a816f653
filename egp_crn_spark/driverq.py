"""Driver-contract queries: Spark callable + DuckDB oracle SQL per operator.

The driver runs each Spark query and its oracle side-by-side at sf=0.01
and compares row-count + schema + order-insensitive value hash. Spatial
inputs are DERIVED deterministically from the driver's TPC-H-ish tables
with arithmetic expressible identically in Spark and ANSI SQL (see
functions/georef.py key_x/key_y — multiplicative hashing), so every
spatial operator gets a true SQL oracle.

Registry: QUERIES[name] = (spark_fn, oracle_sql | None). spark_fn takes
(spark, sf_dir) and returns a DataFrame whose column names/types match the
oracle's output exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .config import EXTENT, OCCUPATION_THRESHOLD
from .functions import cells as C
from .functions.georef import key_x, key_x_sql, key_y, key_y_sql
from .operators import conflate as CF
from .operators import nodes as N
from .operators import spatial_join as SJ
from .session import read_table


# ---------------------------------------------------------------------------
# derived spatial inputs (Spark + SQL twins)
# ---------------------------------------------------------------------------
# CRN faces: 32x32 grid of 2048-unit rects keyed by p_partkey<=1024.
_CRN_N, _CRN_CELL = 32, EXTENT / 32
# NGD blocks: 8x8 grid of 8192-unit rects keyed by s_suppkey<=64, shifted
# 30% of a CRN cell so boundary faces straddle blocks (invalid matches).
_NGD_N, _NGD_CELL, _NGD_SHIFT = 8, EXTENT / 8, 0.3 * (EXTENT / 32)


def _crn_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("p_partkey")
    return (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < _CRN_N * _CRN_N)
        .select(
            F.col("p_partkey").alias("crn_id"),
            (k % _CRN_N * F.lit(_CRN_CELL)).alias("xmin"),
            (F.expr(f"p_partkey div {_CRN_N}") * F.lit(_CRN_CELL)).alias("ymin"),
            ((k % _CRN_N + 1) * F.lit(_CRN_CELL)).alias("xmax"),
            ((F.expr(f"p_partkey div {_CRN_N}") + 1) * F.lit(_CRN_CELL)).alias("ymax"),
        )
    )


_CRN_SQL = f"""
  select p_partkey as crn_id,
         (p_partkey % {_CRN_N}) * {_CRN_CELL!r} as xmin,
         (p_partkey // {_CRN_N}) * {_CRN_CELL!r} as ymin,
         (p_partkey % {_CRN_N} + 1) * {_CRN_CELL!r} as xmax,
         (p_partkey // {_CRN_N} + 1) * {_CRN_CELL!r} as ymax
  from part where p_partkey < {_CRN_N * _CRN_N}
"""


def _ngd_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("s_suppkey")
    return (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < _NGD_N * _NGD_N)
        .select(
            F.col("s_suppkey").alias("ngd_id"),
            (k % _NGD_N * F.lit(_NGD_CELL) + F.lit(_NGD_SHIFT)).alias("xmin"),
            (F.expr(f"s_suppkey div {_NGD_N}") * F.lit(_NGD_CELL) + F.lit(_NGD_SHIFT)).alias("ymin"),
            ((k % _NGD_N + 1) * F.lit(_NGD_CELL) + F.lit(_NGD_SHIFT)).alias("xmax"),
            ((F.expr(f"s_suppkey div {_NGD_N}") + 1) * F.lit(_NGD_CELL) + F.lit(_NGD_SHIFT)).alias("ymax"),
        )
    )


_NGD_SQL = f"""
  select s_suppkey as ngd_id,
         (s_suppkey % {_NGD_N}) * {_NGD_CELL!r} + {_NGD_SHIFT!r} as xmin,
         (s_suppkey // {_NGD_N}) * {_NGD_CELL!r} + {_NGD_SHIFT!r} as ymin,
         (s_suppkey % {_NGD_N} + 1) * {_NGD_CELL!r} + {_NGD_SHIFT!r} as xmax,
         (s_suppkey // {_NGD_N} + 1) * {_NGD_CELL!r} + {_NGD_SHIFT!r} as ymax
  from supplier where s_suppkey < {_NGD_N * _NGD_N}
"""

_PAIRS_SQL = f"""
  select crn_id, ngd_id,
         (greatest(least(a.xmax, b.xmax) - greatest(a.xmin, b.xmin), 0.0)
          * greatest(least(a.ymax, b.ymax) - greatest(a.ymin, b.ymin), 0.0))
         / ((a.xmax - a.xmin) * (a.ymax - a.ymin)) as occupation_area
  from ({_CRN_SQL}) a join ({_NGD_SQL}) b
    on a.xmin <= b.xmax and b.xmin <= a.xmax
   and a.ymin <= b.ymax and b.ymin <= a.ymax
"""

_CONFLATE_CTES = f"""
  with pairs as ({_PAIRS_SQL}),
  valid_pairs as (select * from pairs where occupation_area >= {OCCUPATION_THRESHOLD!r}),
  best as (
    select crn_id, ngd_id from (
      select crn_id, ngd_id,
             row_number() over (partition by crn_id
                                order by occupation_area desc, ngd_id asc) as rn
      from valid_pairs) where rn = 1
  ),
  crn_max as (select crn_id, max(occupation_area) as mo from pairs group by crn_id),
  ngd_max as (select ngd_id, max(occupation_area) as mo,
                     max(case when occupation_area >= {OCCUPATION_THRESHOLD!r} then 1 else 0 end) as v
              from pairs group by ngd_id)
"""


def _conflation(spark: SparkSession, sf_dir: str):
    crn = _crn_rects(spark, sf_dir)
    ngd = _ngd_rects(spark, sf_dir)
    pairs = CF.conflate_pairs_rect(crn, ngd, res=5)
    return CF.classify_conflation(pairs, crn.select("crn_id"), ngd.select("ngd_id"))


def q_conflation_crn(spark, sf_dir):
    return _conflation(spark, sf_dir)[0]


SQL_CONFLATION_CRN = f"""
  {_CONFLATE_CTES}
  select c.crn_id,
         b.ngd_id is not null as valid,
         cast(case when b.ngd_id is not null then -1
                   else coalesce(floor(m.mo * 100), -1) end as int) as occupation_pct,
         coalesce(b.ngd_id, -1) as bb_uid
  from ({_CRN_SQL}) c
  left join best b using (crn_id)
  left join crn_max m using (crn_id)
"""


def q_conflation_ngd(spark, sf_dir):
    return _conflation(spark, sf_dir)[1]


SQL_CONFLATION_NGD = f"""
  {_CONFLATE_CTES}
  select n.ngd_id,
         coalesce(g.v = 1, false) as valid,
         cast(case when coalesce(g.v = 1, false) then -1
                   else coalesce(floor(g.mo * 100), -1) end as int) as occupation_pct
  from ({_NGD_SQL}) n
  left join ngd_max g using (ngd_id)
"""


def q_conflation_metrics(spark, sf_dir):
    return _conflation(spark, sf_dir)[2]


SQL_CONFLATION_METRICS = f"""
  {_CONFLATE_CTES},
  crn_out as (
    select c.crn_id, b.ngd_id is not null as valid
    from ({_CRN_SQL}) c left join best b using (crn_id)),
  ngd_out as (
    select n.ngd_id, coalesce(g.v = 1, false) as valid
    from ({_NGD_SQL}) n left join ngd_max g using (ngd_id))
  select (select count(*) from crn_out where not valid) as invalid_crn,
         (select count(*) from ngd_out where not valid) as invalid_ngd,
         (select count(*) from crn_out where not valid)
         + (select count(*) from ngd_out where not valid) as invalid_total
"""


# ---------------------------------------------------------------------------
# tile / cell assignment (S2.9 phash georef analogue on events keys)
# ---------------------------------------------------------------------------
def q_cell_assignment(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("point_id"),
        key_x(F.col("event_id")).alias("x"),
        key_y(F.col("event_id")).alias("y"),
    )
    cell10 = C.cell_of_xy(F.col("x"), F.col("y"), 10)
    return ev.select(
        "point_id",
        cell10.alias("cell10"),
        C.parent_cell(cell10, 10, 4).alias("tile"),
    )


SQL_CELL_ASSIGNMENT = f"""
  with pts as (
    select event_id as point_id,
           {key_x_sql('event_id')} as x,
           {key_y_sql('event_id')} as y
    from events)
  select point_id,
         {C.cell_of_xy_sql('x', 'y', 10)} as cell10,
         {C.cell_of_xy_sql('x', 'y', 4)} as tile
  from pts
"""


# ---------------------------------------------------------------------------
# distance join + kNN on derived points
# ---------------------------------------------------------------------------
_DJ_RADIUS = 400.0


def q_distance_join(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_id") % 20 == 7).select(
        F.col("event_id").alias("l_id"),
        key_x(F.col("event_id")).alias("lx"),
        key_y(F.col("event_id")).alias("ly"),
    )
    right = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("r_id"),
        key_x(F.col("event_id")).alias("rx"),
        key_y(F.col("event_id")).alias("ry"),
    )
    # right side is bounded by the events table (dimension-sized at
    # driver scales): the broadcast-grid kernel replaces the 9x k-ring
    # explode + equi-join with one map stage (r9, guide §4.2)
    return SJ.distance_join(left, right, _DJ_RADIUS,
                            broadcast_right=True).select("l_id", "r_id")


SQL_DISTANCE_JOIN = f"""
  with l as (select event_id as l_id, {key_x_sql('event_id')} as lx,
                    {key_y_sql('event_id')} as ly
             from events where event_id % 20 = 7),
       r as (select event_id as r_id, {key_x_sql('event_id')} as rx,
                    {key_y_sql('event_id')} as ry
             from events where event_id % 2 = 0)
  select l_id, r_id from l, r
  where sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)) <= {_DJ_RADIUS!r}
"""

_KNN_MAXD = 3000.0
_SUPP_KEY_OFFSET = 1_000_000  # decorrelate supplier coords from customer keys


def q_knn_nearest(spark, sf_dir):
    left = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("l_id"),
        key_x(F.col("c_custkey")).alias("lx"),
        key_y(F.col("c_custkey")).alias("ly"),
    )
    right = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("r_id"),
        key_x(F.col("s_suppkey") + _SUPP_KEY_OFFSET).alias("rx"),
        key_y(F.col("s_suppkey") + _SUPP_KEY_OFFSET).alias("ry"),
    )
    # supplier is the dimension side (1k rows per sf vs 15k customers):
    # broadcast keeps the k-ring-exploded customer side map-side (3x)
    return SJ.knn_join(left, right, k=1, max_distance=_KNN_MAXD,
                       broadcast_right=True).select("l_id", "r_id")


SQL_KNN_NEAREST = f"""
  with l as (select c_custkey as l_id, {key_x_sql('c_custkey')} as lx,
                    {key_y_sql('c_custkey')} as ly from customer),
       r as (select s_suppkey as r_id,
                    {key_x_sql(f'(s_suppkey + {_SUPP_KEY_OFFSET})')} as rx,
                    {key_y_sql(f'(s_suppkey + {_SUPP_KEY_OFFSET})')} as ry from supplier),
       cand as (
         select l_id, r_id,
                row_number() over (partition by l_id
                                   order by sqrt((lx-rx)*(lx-rx) + (ly-ry)*(ly-ry)) asc,
                                            r_id asc) as rn
         from l, r
         where sqrt((lx-rx)*(lx-rx) + (ly-ry)*(ly-ry)) <= {_KNN_MAXD!r})
  select l_id, r_id from cand where rn = 1
"""


# ---------------------------------------------------------------------------
# node degree / crossings / deadends (A2) on a derived arc graph
# ---------------------------------------------------------------------------
_NODE_MOD = 4096
_EDGE_SQL = f"""
  select (l_orderkey * 2654435761) % {_NODE_MOD} as n1,
         (l_orderkey * 2654435761 + l_linenumber * 2246822519) % {_NODE_MOD} as n2
  from lineitem
"""


def _edges(li: DataFrame) -> DataFrame:
    """(n1, n2) endpoints of the derived arc graph, one arc per lineitem."""
    return li.select(
        (F.col("l_orderkey") * 2654435761 % _NODE_MOD).alias("n1"),
        ((F.col("l_orderkey") * 2654435761 + F.col("l_linenumber") * 2246822519) % _NODE_MOD).alias("n2"),
    )


def _degrees(li: DataFrame) -> DataFrame:
    """(node_id, degree): endpoint-incidence count of ``_edges(li)``."""
    e = _edges(li)
    nodes = e.select(F.col("n1").alias("node_id")).unionAll(
        e.select(F.col("n2").alias("node_id"))
    )
    return nodes.groupBy("node_id").agg(F.count("*").alias("degree"))


def q_node_degree(spark, sf_dir):
    return _degrees(read_table(spark, sf_dir, "lineitem")).select(
        "node_id",
        "degree",
        (F.col("degree") >= 4).alias("is_crossing"),
        (F.col("degree") == 1).alias("is_deadend"),
    )


SQL_NODE_DEGREE = f"""
  with e as ({_EDGE_SQL}),
  nodes as (select n1 as node_id from e union all select n2 as node_id from e)
  select node_id, count(*) as degree,
         count(*) >= 4 as is_crossing, count(*) = 1 as is_deadend
  from nodes group by node_id
"""


# ---------------------------------------------------------------------------
# duplicate-geometry checksum (F9 / validation 201) on derived 2-pt lines
# ---------------------------------------------------------------------------
def q_dup_geometry(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 512).alias("a"),
        (F.col("o_orderkey") * 31 % 512).alias("b"),
    )
    ck = F.md5(
        F.least(
            F.concat_ws(":", F.col("a"), F.col("b")),
            F.concat_ws(":", F.col("b"), F.col("a")),
        )
    )
    w = Window.partitionBy("ck")
    return (
        o.withColumn("ck", ck)
        .withColumn("is_dup", F.count("*").over(w) > 1)
        .select("o_orderkey", "ck", "is_dup")
    )


SQL_DUP_GEOMETRY = """
  with g as (
    select o_orderkey,
           md5(least((o_orderkey % 512) || ':' || (o_orderkey * 31 % 512),
                     (o_orderkey * 31 % 512) || ':' || (o_orderkey % 512))) as ck
    from orders)
  select o_orderkey, ck, count(*) over (partition by ck) > 1 as is_dup
  from g
"""


# ---------------------------------------------------------------------------
# incremental deltas: id anti-joins (J12) + full-outer classification (J9/F22)
# ---------------------------------------------------------------------------
def q_delta_orders(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    prev = o.filter(F.col("o_orderkey") % 10 != 3).select("o_orderkey")
    curr = o.filter(F.col("o_orderkey") % 7 != 2).select("o_orderkey")
    adds = curr.join(prev, "o_orderkey", "left_anti").withColumn("status", F.lit("Additions"))
    dels = prev.join(curr, "o_orderkey", "left_anti").withColumn("status", F.lit("Deletions"))
    return adds.unionAll(dels)


SQL_DELTA_ORDERS = """
  with prev as (select o_orderkey from orders where o_orderkey % 10 != 3),
       curr as (select o_orderkey from orders where o_orderkey % 7 != 2)
  select o_orderkey, 'Additions' as status from curr
   where o_orderkey not in (select o_orderkey from prev)
  union all
  select o_orderkey, 'Deletions' as status from prev
   where o_orderkey not in (select o_orderkey from curr)
"""


def q_crossings_delta(spark, sf_dir):
    """gen_crossings.py:104-122 — outer-join old vs new crossings, classify
    Additions / Deletions / Modifications (nodes.crossings_delta)."""
    li = read_table(spark, sf_dir, "lineitem")

    def counts(df):
        return _degrees(df).select(F.col("node_id").alias("node"),
                                   F.col("degree").alias("count"))

    delta = N.crossings_delta(counts(li),
                              counts(li.filter(F.col("l_linenumber") <= 3)))
    return delta.select(F.col("node").alias("node_id"), "status")


SQL_CROSSINGS_DELTA = f"""
  with e_new as ({_EDGE_SQL}),
  e_old as (
    select (l_orderkey * 2654435761) % {_NODE_MOD} as n1,
           (l_orderkey * 2654435761 + l_linenumber * 2246822519) % {_NODE_MOD} as n2
    from lineitem where l_linenumber <= 3),
  d_new as (select node_id, count(*) as degree from
            (select n1 as node_id from e_new union all select n2 from e_new)
            group by node_id),
  d_old as (select node_id, count(*) as degree from
            (select n1 as node_id from e_old union all select n2 from e_old)
            group by node_id)
  select coalesce(n.node_id, o.node_id) as node_id,
         case when o.node_id is null then 'Additions'
              when n.node_id is null then 'Deletions'
              when n.degree != o.degree then 'Modifications' end as status
  from d_new n full outer join d_old o using (node_id)
  where case when o.node_id is null then 'Additions'
             when n.node_id is null then 'Deletions'
             when n.degree != o.degree then 'Modifications' end is not null
"""


# ---------------------------------------------------------------------------
# relational core: aggregate (A6), window top-1 (W1), sessionize (W2)
# ---------------------------------------------------------------------------
def q_pricing_summary(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
  select l_returnflag, l_linestatus,
         cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
         cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as sum_base,
         count(*) as count_order
  from lineitem
  where l_shipdate <= timestamp '1998-09-02 00:00:00'
  group by l_returnflag, l_linestatus
"""


def q_top_customer_per_nation(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    top = c.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return top.join(F.broadcast(n), top.c_nationkey == n.n_nationkey).select(
        "n_name", "c_custkey", "c_acctbal"
    )


SQL_TOP_CUSTOMER_PER_NATION = """
  with top as (
    select c_custkey, c_nationkey, c_acctbal,
           row_number() over (partition by c_nationkey
                              order by c_acctbal desc, c_custkey asc) as rn
    from customer)
  select n_name, c_custkey, c_acctbal
  from top join nation on c_nationkey = n_nationkey
  where rn = 1
"""

_SESSION_GAP = 1800


def q_sessionize(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    return (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > _SESSION_GAP), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("user_id", "event_id", F.col("session_id").cast("int").alias("session_id"))
    )


SQL_SESSIONIZE = f"""
  with g as (
    select user_id, event_id, ts,
           epoch(ts) - lag(epoch(ts)) over
             (partition by user_id order by ts asc, event_id asc) as gap
    from events)
  select user_id, event_id,
         cast(sum(case when gap is null or gap > {_SESSION_GAP} then 1 else 0 end)
              over (partition by user_id order by ts asc, event_id asc
                    rows between unbounded preceding and current row) as int) as session_id
  from g
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}

_BATCH1 = {
    "conflation_crn": (q_conflation_crn, SQL_CONFLATION_CRN),
    "conflation_ngd": (q_conflation_ngd, SQL_CONFLATION_NGD),
    "conflation_metrics": (q_conflation_metrics, SQL_CONFLATION_METRICS),
    "cell_assignment": (q_cell_assignment, SQL_CELL_ASSIGNMENT),
    "distance_join": (q_distance_join, SQL_DISTANCE_JOIN),
    "knn_nearest": (q_knn_nearest, SQL_KNN_NEAREST),
    "node_degree": (q_node_degree, SQL_NODE_DEGREE),
    "dup_geometry": (q_dup_geometry, SQL_DUP_GEOMETRY),
    "delta_orders": (q_delta_orders, SQL_DELTA_ORDERS),
    "crossings_delta": (q_crossings_delta, SQL_CROSSINGS_DELTA),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_customer_per_nation": (q_top_customer_per_nation, SQL_TOP_CUSTOMER_PER_NATION),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
}

QUERIES.update(_BATCH1)

from .driverq2 import QUERIES2  # noqa: E402
from .driverq3 import QUERIES3  # noqa: E402
from .driverq4 import QUERIES4  # noqa: E402
from .driverq5 import QUERIES5  # noqa: E402

QUERIES.update(QUERIES2)
QUERIES.update(QUERIES3)
QUERIES.update(QUERIES4)
QUERIES.update(QUERIES5)
