"""Driver-contract queries, batch 4: topology validations, snapping,
within-network containment, restore deltas, dissolve — the operators that
were pytest-only in round 1 (VERDICT.md round-1 item 1).

Derivation rule (same as driverq.py): spatial inputs come from the
driver's TPC-H-ish keys via arithmetic expressible identically in Spark
and ANSI SQL. Where a predicate involves float comparisons, the DERIVED
DATA keeps a margin (>= 1e-1 relative to thresholds) so one-ulp
differences between engines can never flip an outcome, and the SQL
mirrors the engine's expression shape (same operand order) wherever the
comparison is tighter (orientation signs, point-segment distances).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.georef import key_x, key_x_sql, key_y, key_y_sql
from .operators import validate as V
from .operators.deltas import restore_modified
from .operators.dissolve import dissolve_blocks
from .operators.distance import arc_within_network_distance
from .operators.snap import snap_nodes
from .operators.snapsuggest import suggested_snapping
from .session import read_table


def _flags(arcs: DataFrame, flagged: DataFrame, name: str,
           id_col: str = "segment_id") -> DataFrame:
    """Full (id, flag) table from a flagged-id set — stable row counts."""
    return (
        arcs.select(id_col)
        .join(
            flagged.withColumnRenamed("flagged_id", id_col)
            .withColumn(name, F.lit(1)),
            id_col, "left",
        )
        .fillna({name: 0})
    )


_EPS = 1e-9


def _orient_sql(ax, ay, bx, by, cx, cy) -> str:
    """Mirror of geomkernel._orient: (bx-ax)*(cy-ay) - (by-ay)*(cx-ax)."""
    return f"((({bx}) - ({ax})) * (({cy}) - ({ay})) - (({by}) - ({ay})) * (({cx}) - ({ax})))"


def _proper_cross_sql(p1, p2, q1, q2) -> str:
    """Mirror of geomkernel.segments_properly_intersect incl. its EPS."""
    d1 = _orient_sql(q1[0], q1[1], q2[0], q2[1], p1[0], p1[1])
    d2 = _orient_sql(q1[0], q1[1], q2[0], q2[1], p2[0], p2[1])
    d3 = _orient_sql(p1[0], p1[1], p2[0], p2[1], q1[0], q1[1])
    d4 = _orient_sql(p1[0], p1[1], p2[0], p2[1], q2[0], q2[1])
    return (
        f"((({d1} > {_EPS} and {d2} < -{_EPS}) or ({d1} < -{_EPS} and {d2} > {_EPS}))"
        f" and (({d3} > {_EPS} and {d4} < -{_EPS}) or ({d3} < -{_EPS} and {d4} > {_EPS})))"
    )


# ---------------------------------------------------------------- v101 simple
_V101_N = 2048


def _v101_arcs(spark, sf_dir):
    """4-vertex polylines: k%3==0 → bowtie (segments 1 and 3 cross),
    else a monotone staircase (simple)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _V101_N)
    k = F.col("o_orderkey")
    x, y = key_x(k), key_y(k)
    a = (k % 5 + 2).cast("double")
    b = ((k * 3) % 7 + 3).cast("double")
    bow = F.array(F.array(x, y), F.array(x + a, y + b),
                  F.array(x + a, y), F.array(x, y + b))
    stair = F.array(F.array(x, y), F.array(x + a, y),
                    F.array(x + a, y + b), F.array(x + 2 * a, y + b))
    return o.select(
        k.cast("string").alias("segment_id"),
        F.when(k % 3 == 0, bow).otherwise(stair).alias("vertices"),
    )


def q_v101_simple(spark, sf_dir):
    arcs = _v101_arcs(spark, sf_dir)
    return _flags(arcs, V.v101_simple(arcs), "v101")


def _v101_sql() -> str:
    x, y = key_x_sql("k"), key_y_sql("k")
    base = f"""
      select cast(k as varchar) as segment_id, k % 3 = 0 as bow,
             {x} as x, {y} as y,
             cast(k % 5 + 2 as double) as a, cast((k * 3) % 7 + 3 as double) as b
      from (select o_orderkey as k from orders where o_orderkey < {_V101_N})
    """
    # bow: v0=(x,y) v1=(x+a,y+b) v2=(x+a,y) v3=(x,y+b)
    # stair: v0=(x,y) v1=(x+a,y) v2=(x+a,y+b) v3=(x+2a,y+b)
    pts = """
      select segment_id, x as v0x, y as v0y,
             x + a as v1x, case when bow then y + b else y end as v1y,
             x + a as v2x, case when bow then y else y + b end as v2y,
             case when bow then x else x + 2 * a end as v3x, y + b as v3y
      from base
    """
    cross = _proper_cross_sql(("v0x", "v0y"), ("v1x", "v1y"),
                              ("v2x", "v2y"), ("v3x", "v3y"))
    return f"""
      with base as ({base}), pts as ({pts})
      select segment_id, cast(case when {cross} then 1 else 0 end as int) as v101
      from pts
    """


SQL_V101 = _v101_sql()


# ---------------------------------------------------------------- v102 cluster tolerance
_V102_N = 2048
_V102_STEP = 0.00051  # tol 0.01 sits between steps (margin >= 3e-4, no boundary hits)


def _v102_arcs(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _V102_N)
    k = F.col("o_orderkey")
    x, y = key_x(k), key_y(k)
    s1 = (k % 40 + 1).cast("double") * _V102_STEP
    s2 = ((k * 7) % 40 + 1).cast("double") * _V102_STEP
    return o.select(
        k.cast("string").alias("segment_id"),
        F.array(F.array(x, y), F.array(x + s1, y), F.array(x + s1, y + s2)).alias("vertices"),
    )


def q_v102_cluster_tol(spark, sf_dir):
    arcs = _v102_arcs(spark, sf_dir)
    return _flags(arcs, V.v102_cluster_tolerance(arcs), "v102")


SQL_V102 = f"""
  select cast(o_orderkey as varchar) as segment_id,
         cast(case when least(cast(o_orderkey % 40 + 1 as double) * {_V102_STEP!r},
                            cast((o_orderkey * 7) % 40 + 1 as double) * {_V102_STEP!r})
                   < 0.01 then 1 else 0 end as int) as v102
  from orders where o_orderkey < {_V102_N}
"""


# ---------------------------------------------------------------- v201 duplicated
_V201_N = 512
_V201_MOD = 384  # classes < 128 hold two keys (k, k+384), rest are unique


def _v201_arcs(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _V201_N)
    k = F.col("o_orderkey")
    g = k % _V201_MOD
    a = F.array(key_x(g + 9000), key_y(g + 9000))
    b = F.array(key_x(g + 9500), key_y(g + 9500))
    # second copy runs the opposite direction — checksum must not care
    return o.select(
        k.cast("string").alias("segment_id"),
        F.when(k >= _V201_MOD, F.array(b, a)).otherwise(F.array(a, b)).alias("vertices"),
    )


def q_v201_duplicated(spark, sf_dir):
    arcs = _v201_arcs(spark, sf_dir)
    return _flags(arcs, V.v201_duplicated(arcs), "v201")


SQL_V201 = f"""
  with a as (select o_orderkey as k, o_orderkey % {_V201_MOD} as g
             from orders where o_orderkey < {_V201_N}),
  c as (select g, count(*) as n from a group by g)
  select cast(k as varchar) as segment_id,
         cast(case when n > 1 then 1 else 0 end as int) as v201
  from a join c using (g)
"""


# ---------------------------------------------------------------- v202 overlap
_V202_N = 512


def _v202_arcs(spark, sf_dir):
    """Horizontal segments on 32 shared rows: same-row arcs overlap iff
    x-intervals intersect with positive length; k and k+480 are EXACT
    duplicates (equal geometry → excluded from `overlaps`)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _V202_N)
    k = F.col("o_orderkey")
    y = (k % 32).cast("double") * 100.0 + 5000.0
    x0 = ((k * 17) % 40).cast("double") * 10.0 + 2000.0
    ln = (k % 6).cast("double") * 25.0 + 50.0
    return o.select(
        k.cast("string").alias("segment_id"),
        F.array(F.array(x0, y), F.array(x0 + ln, y)).alias("vertices"),
    )


def q_v202_overlap(spark, sf_dir):
    arcs = _v202_arcs(spark, sf_dir)
    return _flags(arcs, V.v202_overlap(arcs), "v202")


SQL_V202 = f"""
  with a as (select o_orderkey as k, cast(o_orderkey as varchar) as segment_id,
                    o_orderkey % 32 as row_y,
                    cast((o_orderkey * 17) % 40 as double) * 10.0 + 2000.0 as x0,
                    cast(o_orderkey % 6 as double) * 25.0 + 50.0 as ln
             from orders where o_orderkey < {_V202_N}),
  hit as (select distinct a.k
          from a join a b
            on a.row_y = b.row_y and a.k != b.k
           and least(a.x0 + a.ln, b.x0 + b.ln) - greatest(a.x0, b.x0) > 0
           and not (a.x0 = b.x0 and a.ln = b.ln))
  select segment_id,
         cast(case when k in (select k from hit) then 1 else 0 end as int) as v202
  from a
"""


# ---------------------------------------------------------------- v301 node intersection
_V301_N = 64


def _v301_arcs(spark, sf_dir):
    """Main arcs m_k: 3 collinear lattice vertices; spur arcs s_k
    (k%4==0) start AT m_k's interior vertex → m_k flagged."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _V301_N)
    k = F.col("o_orderkey")

    def px(i):
        return (i.cast("double") * 50.0 + 1000.0)

    main = o.select(
        F.concat(F.lit("m"), k.cast("string")).alias("segment_id"),
        F.array(
            F.array(px(k * 3), F.lit(9000.0)),
            F.array(px(k * 3 + 1), F.lit(9000.0)),
            F.array(px(k * 3 + 2), F.lit(9000.0)),
        ).alias("vertices"),
    )
    spur = o.filter(k % 4 == 0).select(
        F.concat(F.lit("s"), k.cast("string")).alias("segment_id"),
        F.array(
            F.array(px(k * 3 + 1), F.lit(9000.0)),
            F.array(px(k * 3 + 1), F.lit(9060.0)),
        ).alias("vertices"),
    )
    return main.unionByName(spur)


def q_v301_node_intersection(spark, sf_dir):
    arcs = _v301_arcs(spark, sf_dir)
    return _flags(arcs, V.v301_node_intersection(arcs), "v301")


SQL_V301 = f"""
  with ks as (select o_orderkey as k from orders where o_orderkey < {_V301_N}),
  mainv as (select 'm' || k as id, 3 as n, idx,
                   cast(k * 3 + idx as double) * 50.0 + 1000.0 as x, 9000.0 as y
            from ks, (select unnest([0, 1, 2]) as idx)),
  spurv as (select 's' || k as id, 2 as n, idx,
                   cast(k * 3 + 1 as double) * 50.0 + 1000.0 as x,
                   case when idx = 0 then 9000.0 else 9060.0 end as y
            from ks, (select unnest([0, 1]) as idx) where k % 4 = 0),
  allv as (select * from mainv union all select * from spurv),
  endpoints as (select distinct x, y from allv where idx = 0 or idx = n - 1),
  interiors as (select distinct x, y from allv where n > 2 and idx > 0 and idx < n - 1),
  multi_ref as (select x, y from (select x, y, count(distinct id) as c
                                  from allv group by x, y) where c > 1),
  invalid_pts as (select * from endpoints intersect select * from interiors
                  intersect select * from multi_ref),
  flagged as (select distinct id from allv
              join invalid_pts using (x, y)
              where n > 2 and idx > 0 and idx < n - 1)
  select id as segment_id,
         cast(case when id in (select id from flagged) then 1 else 0 end as int) as v301
  from (select distinct id from allv)
"""


# ---------------------------------------------------------------- v302 min distance
_V302_N = 128


def _v302_arcs(spark, sf_dir):
    """Roads every 40 units; disconnected vertical stubs (k%3==0) hover
    dy = 2.2 + k%7 above road k — flagged (both sides) iff dy <= 5
    (margin 0.2 from the threshold)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _V302_N)
    k = F.col("o_orderkey")
    yk = k.cast("double") * 40.0 + 20000.0
    roads = o.select(
        F.concat(F.lit("r"), k.cast("string")).alias("segment_id"),
        F.array(F.array(F.lit(1000.0), yk), F.array(F.lit(1400.0), yk)).alias("vertices"),
    )
    sx = (k % 7).cast("double") * 3.0 + 1100.0
    sy = yk + ((k % 7).cast("double") + 2.2)
    stubs = o.filter(k % 3 == 0).select(
        F.concat(F.lit("s"), k.cast("string")).alias("segment_id"),
        F.array(F.array(sx, sy), F.array(sx, sy + 20.0)).alias("vertices"),
    )
    return roads.unionByName(stubs)


def q_v302_min_distance(spark, sf_dir):
    arcs = _v302_arcs(spark, sf_dir)
    return _flags(arcs, V.v302_min_distance(arcs), "v302")


def _v302_sql() -> str:
    # mirror of distance.point_segment_dist2 (clamped projection)
    t = ("least(greatest(((px - ax) * (bx - ax) + (py - ay) * (by - ay))"
         " / (case when (bx - ax) * (bx - ax) + (by - ay) * (by - ay) = 0 then 1.0"
         " else (bx - ax) * (bx - ax) + (by - ay) * (by - ay) end), 0.0), 1.0)")
    d2 = (f"(px - (ax + {t} * (bx - ax))) * (px - (ax + {t} * (bx - ax)))"
          f" + (py - (ay + {t} * (by - ay))) * (py - (ay + {t} * (by - ay)))")
    return f"""
      with ks as (select o_orderkey as k from orders where o_orderkey < {_V302_N}),
      roads as (select 'r' || k as id, 1000.0 as ax,
                       cast(k as double) * 40.0 + 20000.0 as ay,
                       1400.0 as bx, cast(k as double) * 40.0 + 20000.0 as by
                from ks),
      stubs as (select 's' || k as id,
                       cast(k % 7 as double) * 3.0 + 1100.0 as ax,
                       (cast(k as double) * 40.0 + 20000.0) + (cast(k % 7 as double) + 2.2) as ay,
                       cast(k % 7 as double) * 3.0 + 1100.0 as bx,
                       (cast(k as double) * 40.0 + 20000.0) + (cast(k % 7 as double) + 2.2) + 20.0 as by
                from ks where k % 3 = 0),
      arcs as (select * from roads union all select * from stubs),
      -- every endpoint appears exactly once in this family → all deadends
      nodes as (select id as src_id, ax as px, ay as py from arcs
                union all select id, bx, by from arcs),
      near as (select distinct n.src_id, a.id as near_id
               from nodes n join arcs a on a.id != n.src_id
               where {d2} <= 25.0),
      -- connected = src endpoint node equals ANY vertex of the near arc
      connected as (select distinct n.src_id, a.id as near_id
                    from nodes n join arcs a on a.id != n.src_id
                    where (n.px = a.ax and n.py = a.ay) or (n.px = a.bx and n.py = a.by)),
      disc as (select * from near except select * from connected),
      flagged as (select src_id as id from disc union select near_id from disc)
      select id as segment_id,
             cast(case when id in (select id from flagged) then 1 else 0 end as int) as v302
      from (select id from arcs)
    """


SQL_V302 = _v302_sql()


# ---------------------------------------------------------------- v303 crosses
_V303_N = 2048


def _v303_arcs(spark, sf_dir):
    """Short random-direction segments (multiplicative-hash anchors +
    bounded deltas) — nearby pairs cross generically."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _V303_N)
    k = F.col("o_orderkey")
    x, y = key_x(k), key_y(k)
    dx = ((k * 1103515245) % 601 - 300).cast("double")
    dy = ((k * 69069) % 599 - 299).cast("double")
    dx = F.when((dx == 0) & (dy == 0), F.lit(7.0)).otherwise(dx)
    return o.select(
        k.cast("string").alias("segment_id"),
        F.array(F.array(x, y), F.array(x + dx, y + dy)).alias("vertices"),
    )


def q_v303_crosses(spark, sf_dir):
    arcs = _v303_arcs(spark, sf_dir)
    return _flags(arcs, V.v303_crosses(arcs), "v303")


def _v303_sql() -> str:
    x, y = key_x_sql("k"), key_y_sql("k")
    base = f"""
      select cast(k as varchar) as segment_id, k,
             {x} as ax, {y} as ay,
             {x} + (case when ((k * 1103515245) % 601 - 300) = 0
                          and ((k * 69069) % 599 - 299) = 0 then 7.0
                    else cast((k * 1103515245) % 601 - 300 as double) end) as bx,
             {y} + cast((k * 69069) % 599 - 299 as double) as by
      from (select o_orderkey as k from orders where o_orderkey < {_V303_N})
    """
    # staged CTEs with an EQUI bucket key: a pure-inequality self-join
    # picks DuckDB's IEJoin, which hits an internal "flat vector"
    # assertion on this version — bucketing to a 512-unit grid (segments
    # are <= 300 long, so each bbox covers <= 2 buckets per axis) turns
    # it into a hash join + residual filters (the same prefilter shape
    # the engine itself uses)
    d1 = _orient_sql("qx1", "qy1", "qx2", "qy2", "px1", "py1")
    d2 = _orient_sql("qx1", "qy1", "qx2", "qy2", "px2", "py2")
    d3 = _orient_sql("px1", "py1", "px2", "py2", "qx1", "qy1")
    d4 = _orient_sql("px1", "py1", "px2", "py2", "qx2", "qy2")
    return f"""
      with base as ({base}),
      gx as (select base.*, unnest(range(cast(floor(least(ax, bx) / 512) as bigint),
                                         cast(floor(greatest(ax, bx) / 512) as bigint) + 1)) as gxi
             from base),
      cells as (select gx.*, unnest(range(cast(floor(least(ay, by) / 512) as bigint),
                                          cast(floor(greatest(ay, by) / 512) as bigint) + 1)) as gyi
                from gx),
      cand as (select distinct a.k as ka, b.k as kb,
                      a.ax as px1, a.ay as py1, a.bx as px2, a.by as py2,
                      b.ax as qx1, b.ay as qy1, b.bx as qx2, b.by as qy2
               from cells a join cells b using (gxi, gyi)
               where a.k != b.k
                 and least(a.ax, a.bx) <= greatest(b.ax, b.bx)
                 and least(b.ax, b.bx) <= greatest(a.ax, a.bx)
                 and least(a.ay, a.by) <= greatest(b.ay, b.by)
                 and least(b.ay, b.by) <= greatest(a.ay, a.by)),
      ds as (select ka, kb, {d1} as d1, {d2} as d2, {d3} as d3, {d4} as d4
             from cand),
      hit as (select distinct ka as k from ds
              where ((d1 > {_EPS} and d2 < -{_EPS}) or (d1 < -{_EPS} and d2 > {_EPS}))
                and ((d3 > {_EPS} and d4 < -{_EPS}) or (d3 < -{_EPS} and d4 > {_EPS})))
      select segment_id,
             cast(case when k in (select k from hit) then 1 else 0 end as int) as v303
      from base
    """


SQL_V303 = _v303_sql()


# ---------------------------------------------------------------- snap_nodes (F12–F14)
_SNAP_N = 64


def _snap_arcs(spark, sf_dir):
    """NRN roads own lattice nodes; NGD arcs start a hair off an NRN node
    (dist margins >= 2e-4 from both prox thresholds)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _SNAP_N)
    k = F.col("o_orderkey")
    nx = k.cast("double") * 30.0 + 1000.0
    nrn = o.select(
        F.concat(F.lit("R"), k.cast("string")).alias("segment_id"),
        F.lpad(F.hex(k), 32, "0").alias("segment_id_orig"),
        F.lit(1).alias("segment_type"), F.lit(0).alias("boundary"),
        F.array(F.array(nx, F.lit(5000.0)), F.array(nx + 20.0, F.lit(5000.0))).alias("vertices"),
    )
    is_b = k % 5 == 0
    ex = F.when(is_b, (k % 3).cast("double") * 0.001).otherwise((k % 9).cast("double") * 0.004)
    ey = F.when(is_b, (k % 4).cast("double") * 0.003 + 0.002).otherwise(
        (k % 8).cast("double") * 0.012 + 0.011)
    ngd = o.select(
        F.concat(F.lit("G"), k.cast("string")).alias("segment_id"),
        F.lit("deadbeef").alias("segment_id_orig"),
        F.lit(3).alias("segment_type"),
        F.when(is_b, 1).otherwise(0).alias("boundary"),
        F.array(F.array(nx + ex, F.lit(5000.0) + ey),
                F.array(nx + 10.0, F.lit(5150.0))).alias("vertices"),
    )
    return nrn.unionByName(ngd)


def q_snap_nodes(spark, sf_dir):
    arcs = _snap_arcs(spark, sf_dir)
    out = snap_nodes(arcs).filter(F.col("segment_type") != 1)
    v = F.col("vertices")
    return out.select(
        "segment_id",
        F.element_at(F.element_at(v, 1), 1).alias("x0"),
        F.element_at(F.element_at(v, 1), 2).alias("y0"),
        F.element_at(F.element_at(v, 2), 1).alias("x1"),
        F.element_at(F.element_at(v, 2), 2).alias("y1"),
    )


SQL_SNAP_NODES = f"""
  with ks as (select o_orderkey as k from orders where o_orderkey < {_SNAP_N}),
  g as (select k, k % 5 = 0 as is_b,
               cast(k as double) * 30.0 + 1000.0 as nx,
               case when k % 5 = 0 then cast(k % 3 as double) * 0.001
                    else cast(k % 9 as double) * 0.004 end as ex,
               case when k % 5 = 0 then cast(k % 4 as double) * 0.003 + 0.002
                    else cast(k % 8 as double) * 0.012 + 0.011 end as ey
        from ks),
  v as (select k, is_b, nx, nx + ex as vx, 5000.0 + ey as vy,
               case when is_b then 0.01 else 0.1 end as prox
        from g),
  s as (select k, vx, vy, nx,
               sqrt((vx - nx) * (vx - nx) + (vy - 5000.0) * (vy - 5000.0)) <= prox as snapped
        from v)
  select 'G' || k as segment_id,
         case when snapped then nx else vx end as x0,
         case when snapped then 5000.0 else vy end as y0,
         nx + 10.0 as x1, 5150.0 as y1
  from s
"""


# ---------------------------------------------------------------- suggested snapping (J8)
_SS_N = 32


def _ss_arcs(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _SS_N)
    k = F.col("o_orderkey")
    yk = k.cast("double") * 200.0 + 10000.0
    roads = o.select(
        F.concat(F.lit("r"), k.cast("string")).alias("segment_id"),
        F.lit(1).alias("segment_type"),
        F.array(F.array(F.lit(2000.0), yk), F.array(F.lit(2600.0), yk)).alias("vertices"),
    )
    ox = (k % 5).cast("double") + 3.0
    oy = (k % 7).cast("double") + 4.0
    near_node = o.filter(k % 2 == 0).select(
        F.concat(F.lit("bn"), k.cast("string")).alias("segment_id"),
        F.lit(2).alias("segment_type"),
        F.array(F.array(F.lit(2000.0) + ox, yk + oy),
                F.array(F.lit(1500.0) + k.cast("double"), yk + 100.0)).alias("vertices"),
    )
    near_edge = o.filter(k % 2 == 1).select(
        F.concat(F.lit("be"), k.cast("string")).alias("segment_id"),
        F.lit(2).alias("segment_type"),
        F.array(F.array(F.lit(2300.0) + ox, yk + oy),
                F.array(F.lit(2300.0), yk + 120.0)).alias("vertices"),
    )
    return roads.unionByName(near_node).unionByName(near_edge)


def q_suggested_snapping(spark, sf_dir):
    return suggested_snapping(_ss_arcs(spark, sf_dir)).select(
        "snapping_type", "from_x", "from_y", "to_x", "to_y",
        F.col("valid").cast("int").alias("valid"),
    )


SQL_SUGGESTED_SNAPPING = f"""
  with ks as (select o_orderkey as k,
                     cast(o_orderkey as double) * 200.0 + 10000.0 as yk,
                     cast(o_orderkey % 5 as double) + 3.0 as ox,
                     cast(o_orderkey % 7 as double) + 4.0 as oy
              from orders where o_orderkey < {_SS_N})
  select 'node' as snapping_type, 2000.0 + ox as from_x, yk + oy as from_y,
         2000.0 as to_x, yk as to_y, cast(0 as int) as valid
  from ks where k % 2 = 0
  union all
  select 'edge', 2300.0 + ox, yk + oy, 2300.0 + ox, yk, cast(0 as int)
  from ks where k % 2 = 1
"""


# ---------------------------------------------------------------- arc within network (J13)
_AW_N = 64


def q_arc_within(spark, sf_dir):
    """3-vertex query arcs with a mid-vertex bump: the max sample
    distance is EXACTLY the mid-vertex offset (off + dip), with >= 0.1
    margin from the radius-5 threshold for every (k%9, k%3) combo."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _AW_N)
    k = F.col("o_orderkey")
    yk = k.cast("double") * 100.0 + 30000.0
    roads = o.select(
        F.concat(F.lit("n"), k.cast("string")).alias("segment_id"),
        F.array(F.array(F.lit(0.0), yk), F.array(F.lit(500.0), yk)).alias("vertices"),
        F.lit(1).alias("segment_type"),
    )
    off = (k % 9).cast("double") * 0.7
    dip = (k % 3).cast("double") * 1.3
    qarcs = o.select(
        k.cast("string").alias("segment_id"),
        F.array(
            F.array((k % 13).cast("double") + 100.0, yk + off),
            F.array((k % 11).cast("double") + 200.0, yk + off + dip),
            F.array((k % 13).cast("double") + 300.0, yk + off),
        ).alias("vertices"),
    )
    return arc_within_network_distance(qarcs, roads, radius=5.0)


SQL_ARC_WITHIN = f"""
  select cast(o_orderkey as varchar) as segment_id,
         (cast(o_orderkey % 9 as double) * 0.7
          + cast(o_orderkey % 3 as double) * 1.3) <= 5.0 as within
  from orders where o_orderkey < {_AW_N}
"""


# ---------------------------------------------------------------- restore modified (J14)
_RM_N = 256


def _rm_tables(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _RM_N)
    k = F.col("o_orderkey")
    x = k.cast("double") * 3.0 + 40000.0
    restore = o.select(
        k.cast("string").alias("segment_id"),
        F.array(F.array(x, F.lit(1000.0)), F.array(x + 0.4, F.lit(1000.0))).alias("vertices"),
    )
    # current: k%12==6 shifted by 0.012 (> radius 0.01 → modified),
    # k%17==0 dropped (missing → modified); everything else identical.
    dy = F.when(k % 12 == 6, 0.012).otherwise(0.0)
    current = o.filter(k % 17 != 0).select(
        k.cast("string").alias("segment_id"),
        F.array(F.array(x, F.lit(1000.0) + dy),
                F.array(x + 0.4, F.lit(1000.0) + dy)).alias("vertices"),
    )
    return restore, current


def q_restore_modified(spark, sf_dir):
    restore, current = _rm_tables(spark, sf_dir)
    return restore_modified(restore, current, radius=0.01).select("segment_id")


SQL_RESTORE_MODIFIED = f"""
  select cast(o_orderkey as varchar) as segment_id
  from orders
  where o_orderkey < {_RM_N}
    and (o_orderkey % 12 = 6 or o_orderkey % 17 = 0)
"""


# ---------------------------------------------------------------- dissolve (A4)
_DV_N = 64
_DV_CELL = 50.0


def q_dissolve_blocks(spark, sf_dir):
    """8x8 cell grid (one cell dropped per k%13==0) dissolved into 2x2
    blocks; per block: ring count, total area, total ring vertices."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") < _DV_N) & (F.col("o_orderkey") % 13 != 0))
    k = F.col("o_orderkey")
    i = (k % 8).cast("double")
    j = F.expr("o_orderkey div 8").cast("double")
    c = _DV_CELL
    x0, y0 = i * c + 50000.0, j * c + 50000.0
    faces = o.select(
        ((k % 8) / F.lit(2)).cast("long").alias("_bi"),
        F.expr("o_orderkey div 8 div 2").alias("_bj"),
        F.array(
            F.array(x0, y0), F.array(x0 + c, y0),
            F.array(x0 + c, y0 + c), F.array(x0, y0 + c),
        ).alias("vertices"),
    ).select((F.col("_bi") + 4 * F.col("_bj")).alias("bb_uid"), "vertices")
    rings = dissolve_blocks(faces)
    return rings.groupBy("bb_uid").agg(
        F.count("*").alias("n_rings"),
        F.sum("area").alias("total_area"),
        F.sum(F.size("vertices")).alias("n_vertices"),
    )


SQL_DISSOLVE_BLOCKS = f"""
  with cells as (select o_orderkey % 8 as i, o_orderkey // 8 as j
                 from orders
                 where o_orderkey < {_DV_N} and o_orderkey % 13 != 0),
  blocks as (select (i // 2) + 4 * (j // 2) as bb_uid, count(*) as n_cells
             from cells group by 1)
  select bb_uid, 1::bigint as n_rings,
         n_cells * {_DV_CELL!r} * {_DV_CELL!r} as total_area,
         8::bigint as n_vertices
  from blocks
"""


# ---------------------------------------------------------------- standardize (P2–P11)
_STD_N = 1024


def _std_raw(spark, sf_dir):
    """Messy raw arcs exercising the whole standardize pipeline: invalid/
    duplicate/null ids, domain-coded strings, nulls, NRN integrity
    violations, null-coordinate points, adjacent duplicate vertices, and
    zero-length geometries (dropped)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _STD_N)
    k = F.col("o_orderkey")
    x1 = (k * 3).cast("double") + 1000.0
    y = F.lit(7000.0)
    p1, p2 = F.array(x1, y), F.array(x1 + 2.0, y)
    nullpt = F.array(F.lit(None).cast("double"), y)
    verts = (
        F.when(k % 17 == 0, F.array(p1, p1))            # zero-length → dropped
        .when(k % 11 == 0, F.array(p1, p2, nullpt))      # null coord → stripped
        .when(k % 13 == 0, F.array(p1, p1, p2))          # adjacent dup → deduped
        .otherwise(F.array(p1, p2))
    )
    sid = (
        F.when(k % 5 == 0, F.lpad(F.hex(k), 32, "0"))
        .when(k % 5 == 1, F.concat(F.lit("id"), k))
        .when(k % 5 == 2, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("dup"), F.expr("o_orderkey div 10")))
    )
    orig = (
        F.when(k % 3 == 0, F.lpad(F.hex(k + 7), 32, "0"))
        .when(k % 3 == 1, F.lit("bad"))
        .otherwise(F.lit("-1"))
    )
    seg_t = (
        F.when(k % 7 == 0, "1").when(k % 7 == 1, "2").when(k % 7 == 2, "1.0")
        .when(k % 7 == 3, "2.0").when(k % 7 == 4, "9")
        .when(k % 7 == 5, F.lit(None).cast("string")).otherwise("2")
    )
    bo = (
        F.when(k % 4 == 0, "0").when(k % 4 == 1, "1").when(k % 4 == 2, "x")
        .otherwise(F.lit(None).cast("string"))
    )
    bnd = F.when(k % 6 == 0, "1").otherwise("0")
    uid = F.when(k % 8 == 0, F.lit(None).cast("int")).otherwise(k.cast("int"))
    st = (
        F.when(k % 5 == 0, "3").when(k % 5 == 1, "Tunnel").when(k % 5 == 2, "9")
        .when(k % 5 == 3, F.lit(None).cast("string")).otherwise("7.0")
    )
    return o.select(
        k.alias("k"), sid.alias("segment_id"), orig.alias("segment_id_orig"),
        seg_t.alias("segment_type"), bo.alias("bo_new"), bnd.alias("boundary"),
        uid.alias("ngd_uid"), st.alias("structure_type"),
        F.lit(1).alias("v99"),  # stale validation column → dropped
        verts.alias("vertices"),
    )


def q_standardize_arcs(spark, sf_dir):
    from .operators.standardize import standardize

    out = standardize(_std_raw(spark, sf_dir))
    return out.select(
        "k", "segment_id", "segment_id_orig", "segment_type", "bo_new",
        "boundary", "ngd_uid", "structure_type",
        F.size("vertices").alias("n_vertices"),
    )


def _standardize_sql() -> str:
    """Closed-form twin: the oracle reconstructs every standardization
    rule (domains, cross-field i–iii, NRN integrity, deterministic sha256
    id repair over the direction-insensitive geometry checksum) in SQL."""
    return f"""
      with raw as (
        select o_orderkey as k,
               case when o_orderkey % 5 = 0 then lpad(hex(o_orderkey), 32, '0')
                    when o_orderkey % 5 = 1 then 'id' || o_orderkey
                    when o_orderkey % 5 = 2 then null
                    else 'dup' || (o_orderkey // 10) end as sid,
               case when o_orderkey % 3 = 0 then lpad(hex(o_orderkey + 7), 32, '0')
                    when o_orderkey % 3 = 1 then 'bad'
                    else '-1' end as orig,
               case when o_orderkey % 7 = 0 then '1' when o_orderkey % 7 = 1 then '2'
                    when o_orderkey % 7 = 2 then '1.0' when o_orderkey % 7 = 3 then '2.0'
                    when o_orderkey % 7 = 4 then '9' when o_orderkey % 7 = 5 then null
                    else '2' end as seg_t,
               case when o_orderkey % 4 = 0 then '0' when o_orderkey % 4 = 1 then '1'
                    when o_orderkey % 4 = 2 then 'x' else null end as bo,
               case when o_orderkey % 6 = 0 then '1' else '0' end as bnd,
               case when o_orderkey % 8 = 0 then null else o_orderkey end as uid,
               case when o_orderkey % 5 = 0 then '3' when o_orderkey % 5 = 1 then 'Tunnel'
                    when o_orderkey % 5 = 2 then '9' when o_orderkey % 5 = 3 then null
                    else '7.0' end as st,
               cast(o_orderkey * 3 as double) + 1000.0 as x1
        from orders
        where o_orderkey < {_STD_N} and o_orderkey % 17 != 0),
      -- cleaned vertex count: null point stripped, adjacent dup collapsed
      dom as (
        select k, x1,
               -- every surviving arc cleans to exactly 2 vertices: the
               -- null point is stripped, the adjacent dup collapses
               2 as n_vertices,
               coalesce(sid, '-1') as sid0, orig,
               case when seg_t in ('1', '1.0') then 1
                    when seg_t in ('2', '2.0') then 2 else 1 end as seg1,
               case when bo in ('1', '1.0') then 1 else 0 end as bo1,
               case when bnd in ('1', '1.0') then 1 else 0 end as bnd1,
               coalesce(uid, -1) as uid1,
               case when st in ('3', '3.0', 'Bridge moveable') then 'Bridge moveable'
                    when st = 'Tunnel' then 'Tunnel'
                    when st in ('7', '7.0', 'Dam') then 'Dam'
                    else 'Unknown' end as st1
        from raw),
      r1 as (select dom.*, case when bo1 = 1 then 2 else seg1 end as seg2 from dom),
      r2 as (select r1.*, case when uid1 = -1 and bo1 != 1 and seg2 = 2 then 1
                               else bo1 end as bo2 from r1),
      r3 as (select r2.*,
                    case when length(orig) != 32 and orig != '-1' then '-1'
                         else orig end as orig1 from r2),
      r4 as (select r3.*,
                    case when length(orig1) = 32 then 0 else bo2 end as bo3,
                    case when length(orig1) = 32 then 0 else bnd1 end as bnd2,
                    case when length(orig1) = 32 then 1 else seg2 end as seg3
             from r3),
      -- deterministic id repair over the rounded, direction-insensitive
      -- geometry checksum (cleaned vertices are always [(x1,y),(x1+2,y)])
      ck as (select r4.*,
                    md5(least(
                      printf('%.5f', x1) || ':7000.00000;' || printf('%.5f', x1 + 2.0) || ':7000.00000',
                      printf('%.5f', x1 + 2.0) || ':7000.00000;' || printf('%.5f', x1) || ':7000.00000'
                    )) as gck
             from r4),
      rk as (select ck.*,
                    count(*) over (partition by sid0) as idn,
                    row_number() over (partition by sid0 order by gck) as rnk
             from ck),
      fixed as (select rk.*,
                       case when length(sid0) != 32
                                 or not regexp_matches(sid0, '^[0-9a-fA-F]{{32}}$')
                                 or idn > 1
                            then substr(sha256(sid0 || '|' || gck || '|' || rnk), 1, 32)
                            else sid0 end as sid1
                from rk)
      select k, sid1 as segment_id, orig1 as segment_id_orig,
             cast(seg3 as int) as segment_type, cast(bo3 as int) as bo_new,
             cast(bnd2 as int) as boundary, cast(uid1 as int) as ngd_uid,
             st1 as structure_type, cast(n_vertices as int) as n_vertices
      from fixed
    """


SQL_STANDARDIZE_ARCS = _standardize_sql()


# ------------------------------------------------ meshblock progress (composed)
# The composed meshblock stage's progress tracker (validate_meshblock:
# polygonize → v101/v201/v202 flags → v102 missing-BO → the reference's
# Valid / Invalid / Invalid (Missing BO) / Excluded counts,
# validate_meshblock.py:227-254). Input: an 8x8 grid network (all cells
# polygonize to faces) plus one isolated stub per cell class
# cls=(bi+bj)%4 — cls 0: interior road deadend (within exactly one face →
# v201 passes → Excluded); cls 1: deadend crossing a face boundary (within
# no single face → v201 flags → Invalid); cls 2: interior BO deadend
# (passes v201, off-boundary → v202 flags → Invalid); cls 3: no stub.
# Grid arcs (some typed BO — their segments lie on face rings, so v202
# passes) are all Valid. The class layout keeps stubs of adjacent cells
# disjoint (same class is never edge-adjacent: cls changes by 1 per step), so no
# stub chains into the network and every stub stays a deadend.
_MP_G = 8
_MP_C = 10.0
_MP_O = 30000.0


def _mp_arcs(spark, sf_dir):
    p = read_table(spark, sf_dir, "part")
    c, o = _MP_C, _MP_O
    lines = p.filter(F.col("p_partkey") <= _MP_G).select(
        F.col("p_partkey").cast("int").alias("i0"),
        F.explode(F.sequence(F.lit(0), F.lit(_MP_G - 1))).alias("j"),
    )
    fi, fj = F.col("i0").cast("double"), F.col("j").cast("double")
    uid = F.col("i0") * _MP_G + F.col("j")
    vert = lines.select(
        F.concat_ws("-", F.lit("v"), "i0", "j").alias("segment_id"),
        F.array(F.array(fi * c + o, fj * c + o),
                F.array(fi * c + o, (fj + 1) * c + o)).alias("vertices"),
        F.when(F.col("i0") % 2 == 0, 2).otherwise(1).alias("segment_type"),
        F.lit(0).alias("bo_new"),
        (uid + 1000).cast("int").alias("ngd_uid"),
    )
    horiz = lines.select(
        F.concat_ws("-", F.lit("h"), "i0", "j").alias("segment_id"),
        F.array(F.array(fj * c + o, fi * c + o),
                F.array((fj + 1) * c + o, fi * c + o)).alias("vertices"),
        F.when(F.col("i0") % 3 == 0, 2).otherwise(1).alias("segment_type"),
        F.lit(0).alias("bo_new"),
        (uid + 2000).cast("int").alias("ngd_uid"),
    )
    cells = p.filter(F.col("p_partkey") <= _MP_G - 1).select(
        F.col("p_partkey").cast("int").alias("bi"),
        F.explode(F.sequence(F.lit(0), F.lit(_MP_G - 1))).alias("bj"),
    )
    cls = (F.col("bi") + F.col("bj")) % 4
    x0 = F.col("bi").cast("double") * c + o
    y0 = F.col("bj").cast("double") * c + o
    stubs = cells.filter(cls != 3).select(
        F.concat_ws("-", F.lit("s"), "bi", "bj").alias("segment_id"),
        F.when(cls == 0, F.array(F.array(x0 + 2.0, y0 + 2.0),
                                 F.array(x0 + 6.0, y0 + 6.0)))
        .when(cls == 1, F.array(F.array(x0 + 5.0, y0 + 1.0),
                                F.array(x0 + 15.0, y0 + 1.0)))
        .otherwise(F.array(F.array(x0 + 3.0, y0 + 7.0),
                           F.array(x0 + 7.0, y0 + 3.0))).alias("vertices"),
        F.when(cls == 2, 2).otherwise(1).alias("segment_type"),
        F.lit(0).alias("bo_new"),
        (F.col("bi") * _MP_G + F.col("bj") + 3000).cast("int").alias("ngd_uid"),
    )
    return vert.unionByName(horiz).unionByName(stubs)


def _mp_restore(spark, sf_dir):
    """Restore snapshot for the missing-BO check: BO rows (r even) whose
    uid is present in the working arcs iff r % 3 == 0."""
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_partkey") >= 1) & (F.col("p_partkey") <= 30))
    r = F.col("p_partkey").cast("int")
    return p.select(
        F.when(r % 2 == 0, 2).otherwise(1).alias("segment_type"),
        F.when(r % 3 == 0, r + 1000).otherwise(r + 9000).cast("int").alias("ngd_uid"),
    )


def q_meshblock_progress(spark, sf_dir):
    from .operators.meshblock import validate_meshblock

    _, _, progress = validate_meshblock(
        _mp_arcs(spark, sf_dir), _mp_restore(spark, sf_dir), tile_res=4)
    return progress


SQL_MESHBLOCK_PROGRESS = f"""
  with lines as (select p_partkey as i0, unnest(range(0, {_MP_G})) as j
                 from part where p_partkey <= {_MP_G}),
  grid as (select 2 * count(*) as n_grid from lines),
  cells as (select p_partkey as bi, unnest(range(0, {_MP_G})) as bj
            from part where p_partkey <= {_MP_G} - 1),
  stubs as (select
      sum(case when (bi + bj) % 4 = 0 then 1 else 0 end) as n_excluded,
      sum(case when (bi + bj) % 4 in (1, 2) then 1 else 0 end) as n_invalid
    from cells),
  miss as (select count(*) as n_miss from part
           where p_partkey between 1 and 30
             and p_partkey % 2 = 0 and p_partkey % 3 != 0)
  select 'Valid' as status, cast(n_grid as bigint) as count from grid
  union all select 'Invalid', cast(n_invalid as bigint) from stubs
  union all select 'Invalid (Missing BO)', cast(n_miss as bigint) from miss
  union all select 'Excluded', cast(n_excluded as bigint) from stubs
"""


QUERIES4 = {
    "v101_simple": (q_v101_simple, SQL_V101),
    "v102_cluster_tol": (q_v102_cluster_tol, SQL_V102),
    "v201_duplicated": (q_v201_duplicated, SQL_V201),
    "v202_overlap": (q_v202_overlap, SQL_V202),
    "v301_node_intersection": (q_v301_node_intersection, SQL_V301),
    "v302_min_distance": (q_v302_min_distance, SQL_V302),
    "v303_crosses": (q_v303_crosses, SQL_V303),
    "snap_nodes": (q_snap_nodes, SQL_SNAP_NODES),
    "suggested_snapping": (q_suggested_snapping, SQL_SUGGESTED_SNAPPING),
    "arc_within_network": (q_arc_within, SQL_ARC_WITHIN),
    "restore_modified": (q_restore_modified, SQL_RESTORE_MODIFIED),
    "dissolve_blocks": (q_dissolve_blocks, SQL_DISSOLVE_BLOCKS),
    "standardize_arcs": (q_standardize_arcs, SQL_STANDARDIZE_ARCS),
    "meshblock_progress": (q_meshblock_progress, SQL_MESHBLOCK_PROGRESS),
}
