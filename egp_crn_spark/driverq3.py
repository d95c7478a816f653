"""Driver-contract queries, batch 3: neighbourhood review + source conformance."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.neighbours import compare_neighbours
from .session import read_table


# ---------------------------------------------------------------- neighbours
_NB_N, _NB_CELL = 4, 65536.0 / 4


def _grid_blocks(keys: DataFrame, key_col: str) -> DataFrame:
    i = F.col(key_col) % _NB_N
    j = F.expr(f"{key_col} div {_NB_N}")
    c = _NB_CELL
    return keys.select(
        F.col(key_col).alias("bb_uid"),
        F.array(
            F.array(i * c, j * c),
            F.array((i + 1) * c, j * c),
            F.array((i + 1) * c, (j + 1) * c),
            F.array(i * c, (j + 1) * c),
        ).alias("vertices"),
    )


def q_neighbour_review(spark, sf_dir):
    """review_meshblock semantics: CRN = full 4x4 block grid, NGD = same
    grid with keys%7==3 dropped; diff per-block neighbour sets."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") < _NB_N * _NB_N)
    crn = _grid_blocks(part, "p_partkey")
    ngd = _grid_blocks(part.filter(F.col("p_partkey") % 7 != 3), "p_partkey")
    return compare_neighbours(crn, ngd)


SQL_NEIGHBOUR_REVIEW = f"""
  with crn as (select p_partkey as k, p_partkey % {_NB_N} as i,
                      p_partkey // {_NB_N} as j
               from part where p_partkey < {_NB_N * _NB_N}),
  ngd as (select * from crn where k % 7 != 3),
  crn_n as (select a.k as block, list(b.k order by b.k) as nbrs
            from crn a join crn b
              on b.k != a.k and abs(a.i - b.i) <= 1 and abs(a.j - b.j) <= 1
            group by a.k),
  ngd_n as (select a.k as block, list(b.k order by b.k) as nbrs
            from ngd a join ngd b
              on b.k != a.k and abs(a.i - b.i) <= 1 and abs(a.j - b.j) <= 1
            group by a.k),
  j as (select c.block,
               coalesce(c.nbrs, []::bigint[]) as cn,
               coalesce(n.nbrs, []::bigint[]) as nn
        from crn_n c left join ngd_n n using (block))
  select block,
         case when len(list_filter(cn, x -> not list_contains(nn, x))) > 0
              then array_to_string(list_sort(list_filter(cn, x -> not list_contains(nn, x))), ',')
              end as extra,
         case when len(list_filter(nn, x -> not list_contains(cn, x))) > 0
              then array_to_string(list_sort(list_filter(nn, x -> not list_contains(cn, x))), ',')
              end as missing,
         len(list_filter(cn, x -> not list_contains(nn, x))) = 0
           and len(list_filter(nn, x -> not list_contains(cn, x))) = 0 as identical
  from j
"""


# ---------------------------------------------------------------- conformance
def q_conform_source(spark, sf_dir):
    """conform_deltas_src semantics (S6/P2/P3/P8): pushdown filter +
    semi-join extract + rename + domain-coded classification — all
    Catalyst-native (the reference shells out to ogr2ogr SQL)."""
    orders = read_table(spark, sf_dir, "orders")
    customers = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    status_domain = F.when(F.col("o_orderstatus") == "F", "Finished") \
        .when(F.col("o_orderstatus") == "O", "Open").otherwise("Pending")
    return (
        orders.filter(F.col("o_totalprice") > 100.0)
        .join(customers.select("c_custkey"), orders.o_custkey == F.col("c_custkey"),
              "left_semi")
        .select(
            F.col("o_orderkey").alias("uid"),
            status_domain.alias("status"),
            F.substring(F.col("o_orderpriority"), 1, 1).alias("priority_code"),
        )
    )


SQL_CONFORM_SOURCE = """
  select o_orderkey as uid,
         case when o_orderstatus = 'F' then 'Finished'
              when o_orderstatus = 'O' then 'Open'
              else 'Pending' end as status,
         substr(o_orderpriority, 1, 1) as priority_code
  from orders
  where o_totalprice > 100.0
    and o_custkey in (select c_custkey from customer where c_mktsegment = 'BUILDING')
"""


# ---------------------------------------------------------------- sink/catalog
_RT_PRIME = 1000003
_RT_MULT = 2654435761


def q_table_roundtrip(spark, sf_dir):
    """S2–S5 + S8 sink/catalog round-trip (reference: layer-existence probe
    validate_topology.py:66-73, GPKG create/delete helpers.py:63-107,
    feature writer helpers.py:211-282, restore-snapshot second read
    validate_meshblock.py:78-80):

      drop → probe(absent) → range-partitioned write of snapshot v1
      (filtered) and v2 (full) → bucketed managed-table write → probe
      (present) → read all three back → per-(snapshot, bucket) row counts
      + key checksums.

    The oracle computes the same aggregates straight from `orders`, so a
    hash match proves the write+read paths preserved every row exactly."""
    import hashlib
    import os
    import tempfile

    from .sources.tables import (drop_table, load_table, save_bucketed_table,
                                 save_table, table_exists)

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") % 8).alias("bucket")
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"{tempfile.gettempdir()}/egp_roundtrip_{tag}"
    bucketed_name = f"egp_rt_buckets_{tag}"

    drop_table(spark, base)                       # S4 (idempotent fresh start)
    assert not table_exists(spark, base)          # S2 probe: absent
    v1 = o.filter(F.col("o_orderkey") % 5 != 0)
    save_table(v1, base, range_partition_col="bucket", snapshot="v1")  # S3+S5
    save_table(o, base, range_partition_col="bucket", snapshot="v2")
    assert table_exists(spark, base)              # S2 probe: present
    # a FRESH session's catalog doesn't know a previous run's managed
    # table, so DROP alone leaves its warehouse directory behind and the
    # re-create fails with LOCATION_ALREADY_EXISTS. Resolve the REAL
    # location from the catalog when the table is known (no assumptions
    # about database, case folding or URI scheme), falling back to the
    # default-layout path only for the orphaned-directory case.
    import shutil
    from urllib.parse import urlparse

    loc = None
    if spark.catalog.tableExists(bucketed_name):
        desc = spark.sql(f"describe extended {bucketed_name}").collect()
        loc = next((r.data_type for r in desc if r.col_name == "Location"), None)
    spark.sql(f"drop table if exists {bucketed_name}")
    if loc is None:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, bucketed_name.lower())
    else:
        loc = urlparse(loc).path or loc
    if os.path.exists(loc):
        shutil.rmtree(loc, ignore_errors=True)
    save_bucketed_table(o, bucketed_name, "bucket", num_buckets=8,
                        sort_col="o_orderkey")    # S5 bucketed sink

    r1 = load_table(spark, base, snapshot="v1").withColumn("snapshot", F.lit("v1"))
    r2 = load_table(spark, base, snapshot="v2").withColumn("snapshot", F.lit("v2"))  # S8
    rb = spark.table(bucketed_name).withColumn("snapshot", F.lit("bucketed"))
    ck = F.sum((F.col("o_orderkey") * _RT_MULT) % _RT_PRIME).alias("key_checksum")
    return (
        r1.unionByName(r2).unionByName(rb)
        .groupBy("snapshot", "bucket")
        .agg(F.count("*").alias("row_count"), ck)
    )


SQL_TABLE_ROUNDTRIP = f"""
  with o as (select o_orderkey, o_orderkey % 8 as bucket from orders)
  select 'v1' as snapshot, bucket, count(*) as row_count,
         cast(sum((o_orderkey * {_RT_MULT}) % {_RT_PRIME}) as bigint) as key_checksum
  from o where o_orderkey % 5 <> 0 group by bucket
  union all
  select 'v2', bucket, count(*),
         cast(sum((o_orderkey * {_RT_MULT}) % {_RT_PRIME}) as bigint)
  from o group by bucket
  union all
  select 'bucketed', bucket, count(*),
         cast(sum((o_orderkey * {_RT_MULT}) % {_RT_PRIME}) as bigint)
  from o group by bucket
"""


# ---------------------------------------------------------------- phash dedup
_PH_M1, _PH_M2, _PH_P = 2654435761, 2246822519, 2147483647


def q_phash_near_dup(spark, sf_dir):
    """Image-payload near-dup by perceptual-hash hamming distance
    (operators/images.phash_near_dup). Synthetic 64-bit phashes derive
    from event keys with arithmetic both engines evaluate identically
    (two 31-bit multiplicative halves — no 64-bit overflow anywhere);
    every base image gets a planted partner one bit-flip away."""
    from .operators.images import phash_near_dup

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") % 4 == 0)
    hi = (F.col("event_id") * _PH_M1) % _PH_P
    lo = (F.col("event_id") * _PH_M2) % _PH_P
    ph = (hi * F.lit(2147483648) + lo).cast("long")
    bit = F.expr("shiftleft(cast(1 as bigint), cast(event_id % 7 as int))")
    rows = ev.select(
        F.explode(F.array(
            F.struct(F.concat(F.lit("o"), F.col("event_id")).alias("image_id"),
                     ph.alias("phash")),
            F.struct(F.concat(F.lit("d"), F.col("event_id")).alias("image_id"),
                     ph.bitwiseXOR(bit).alias("phash")),
        )).alias("r")
    ).select("r.image_id", "r.phash")
    return phash_near_dup(rows, max_hamming=3)


SQL_PHASH_NEAR_DUP = f"""
  with base as (
    select event_id,
           ((event_id * {_PH_M1}) % {_PH_P}) * 2147483648
           + ((event_id * {_PH_M2}) % {_PH_P}) as ph
    from events where event_id % 4 = 0),
  rows_ as (
    select 'o' || event_id as image_id, ph as phash from base
    union all
    select 'd' || event_id, xor(ph, 1::bigint << cast(event_id % 7 as int))
    from base)
  select a.image_id as a_id, b.image_id as b_id,
         cast(bit_count(xor(a.phash, b.phash)) as int) as hamming
  from rows_ a join rows_ b on a.image_id < b.image_id
  where bit_count(xor(a.phash, b.phash)) <= 3
"""


QUERIES3 = {
    "neighbour_review": (q_neighbour_review, SQL_NEIGHBOUR_REVIEW),
    "conform_source": (q_conform_source, SQL_CONFORM_SOURCE),
    "table_roundtrip": (q_table_roundtrip, SQL_TABLE_ROUNDTRIP),
    "phash_near_dup": (q_phash_near_dup, SQL_PHASH_NEAR_DUP),
}
