"""Incremental view maintenance over the snapshot-log changelog
(VERDICT r6 #3).

The reference's whole deltas stage diffs the INPUTS of two dated
vintages (fetch_deltas.py:166-233) and recomputes everything downstream.
At 100 TB the thing a pipeline actually wants is to maintain the
OUTPUTS: a derived aggregate (per-tile counts, validation-flag counts,
any additive rollup) updated from the insert/delete changelog rows
between vintages, never re-reading the unchanged data.

Shape: a maintained state is itself a DataFrame keyed by the group-by
columns, carrying ``_rows`` (live row count per group) plus the additive
measures. The changelog contributes signed deltas (+1 per insert, -1
per delete); merging is a union + re-aggregate — ONE shuffle sized by
|state| + |delta|, with map-side combine, no outer-join null-key
gymnastics (null keys group naturally through the union). Groups whose
row count reaches zero drop out, so the maintained frame is always
exactly the aggregate a full recompute would produce.

Exactness: counts and integral/decimal sums maintain EXACTLY (the tests
pin this over randomized vintage sequences). Floating-point sums
maintain up to re-association — same caveat any distributed sum already
has. Non-additive aggregates (min/max/distinct) are out of scope by
design: maintaining them needs per-group history, which is a different
(and far more expensive) contract.

Scale: the changelog itself is a METADATA-level file diff
(snaplog.changelog) — only rewritten files are scanned, so the
incremental path reads O(changed partitions), not O(table). The 2M-row
wall-clock evidence is in BENCH/ICEBERG.md (tools/iceberg_demo.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ROWS = "_rows"


def _sum_specs(sums: dict[str, Column] | None) -> dict[str, Column]:
    return dict(sums or {})


def snapshot_aggregate(df: DataFrame, keys: list[str],
                       sums: dict[str, Column] | None = None) -> DataFrame:
    """Full-scan aggregate of one snapshot — the state a maintained view
    starts from (and the recompute the tests compare against):
    keys + _rows (count) + one column per additive measure."""
    sums = _sum_specs(sums)
    aggs = [F.count(F.lit(1)).alias(_ROWS)]
    aggs += [F.sum(c).alias(n) for n, c in sums.items()]
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def aggregate_delta(changelog: DataFrame, keys: list[str],
                    sums: dict[str, Column] | None = None) -> DataFrame:
    """Signed per-group delta from changelog rows (_change_type
    'insert' = +1, 'delete' = -1): same schema as snapshot_aggregate,
    so states and deltas compose through merge_aggregate_state."""
    sums = _sum_specs(sums)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)) \
        .otherwise(F.lit(-1))
    aggs = [F.sum(sign).alias(_ROWS)]
    aggs += [F.sum(sign * c).alias(n) for n, c in sums.items()]
    return changelog.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_aggregate_state(state: DataFrame, delta: DataFrame,
                          keys: list[str],
                          sums: dict[str, Column] | None = None) -> DataFrame:
    """state ⊕ delta: union + re-aggregate (one map-side-combinable
    shuffle; null group keys merge correctly, which an equi-join on keys
    would silently miss), dropping groups whose live row count hits 0 —
    exactly what a recompute over the new snapshot yields."""
    sums = _sum_specs(sums)
    cols = list(keys) + [_ROWS] + list(sums)
    merged = (
        state.select(*cols).unionByName(delta.select(*cols))
        .groupBy(*[F.col(k) for k in keys])
        .agg(F.sum(_ROWS).alias(_ROWS),
             *[F.sum(n).alias(n) for n in sums])
        .filter(F.col(_ROWS) != 0)
    )
    return merged
