"""Size guards for join sides the engine measures before it commits to a plan.

This is the one module that knows how big a side may be before the
engine stops broadcasting it (``join_hint``) or collecting it to the
driver (``collect_bounded``). Callers ask it; they never compare a row
count with a bound of their own.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

# Largest side the engine broadcasts: 1M rows of a few longs/doubles is
# ~40-60 MB serialized, cheap for executors with the usual 4-8 GiB.
BROADCAST_MAX_ROWS = 1_000_000


def broadcastable(n_rows: int) -> bool:
    """Whether a side of ``n_rows`` rows may be broadcast."""
    return n_rows <= BROADCAST_MAX_ROWS


def join_hint(small: DataFrame) -> str:
    """Join strategy hint for a side expected to be small, from ONE
    count of it (a job at construction time; cache ``small`` first when
    it feeds more than this count).

    ``"broadcast"`` at or below ``BROADCAST_MAX_ROWS``; above it
    ``"shuffle_hash"``, which pins a shuffled hash join so neither the
    planner's size estimate nor AQE can broadcast a side that was just
    measured as oversized. Apply it with ``df.hint(h)``; the hint
    survives later projections of ``df``."""
    return "broadcast" if broadcastable(small.count()) else "shuffle_hash"


def collect_bounded(df: DataFrame, max_rows: int, what: str) -> pd.DataFrame:
    """Collect a dimension-sized side to the driver, enforcing the bound.

    ``limit(max_rows + 1)`` is collected in ONE job (no separate count,
    the lineage runs once); more than ``max_rows`` rows back means the
    dimension-sized contract is violated, and it raises naming the bound
    (``what``) instead of silently OOMing the driver."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"{what} is collected to the driver, but it has more than "
            f"{max_rows} rows; it must be dimension-sized — take the join "
            "path, shard the input, or raise the bound")
    return pdf
