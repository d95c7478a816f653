"""Incremental ANN-index maintenance from the snapshot-log changelog.

Composes the two scale seams this engine already has — the snapshot
catalog's metadata-level changelog (sources/snaplog.py) and the IVF /
IVF-PQ index build (operators/similarity.py) — into the thing a 100-TB
embedding pipeline actually needs: keep a serving index current as the
corpus table evolves, touching only changed rows, never rebuilding.

Semantics (an id is the unit of identity; corpus ids are unique):

- index rows carry ``_as_of`` = the corpus snapshot id they were encoded
  at; tombstones carry (n_id, _ts) = "everything this id was encoded as
  BEFORE snapshot _ts is dead".
- advancing from snapshot A to B: changelog inserts are assigned/encoded
  (the only vector compute — O(changed rows)) and appended with
  ``_as_of = B``; changelog delete ids become tombstones with
  ``_ts = B``. A rewritten-but-unchanged row (file-level changelogs
  re-state rows of rewritten files) is deleted-and-reinserted: its new
  row has ``_as_of = B >= _ts`` and stays live, its old row dies — and
  an UPDATED vector gets the same treatment with the new encoding. No
  vector comparison joins needed.
- serving reads ``live_index``: index left-joined to the max-_ts
  tombstone set, keeping rows with no tombstone or ``_as_of >= _ts``.
  The filter applies BEFORE top-k ranking, so dead rows never eat rank
  slots.

Invariant (pinned by tests/test_index_maintain.py over randomized
append/overwrite vintage sequences): live_index(maintained) equals the
from-scratch index of the current corpus snapshot as a SET, for both the
float and PQ index shapes — hence identical probe results.

Reference analog: the restore/deltas stages re-derive downstream layers
from vintage diffs (fetch_deltas.py:166-233); this maintains the
derived-index layer instead of recomputing it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .guard import join_hint
from .similarity import ivf_assign, ivf_pq_assign

AS_OF = "_as_of"
TOMB_TS = "_ts"


def index_delta(changelog: DataFrame, centroids: np.ndarray, as_of: int,
                codebooks: np.ndarray | None = None,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> tuple[DataFrame, DataFrame]:
    """(appends, tombstones) from one changelog frame (snaplog.changelog
    output: corpus rows + _change_type insert|delete).

    appends: insert rows assigned (float index) or residual-encoded
    (PQ index when ``codebooks`` is given), stamped ``_as_of = as_of``.
    tombstones: distinct delete ids stamped ``_ts = as_of``.
    """
    ins = changelog.filter(F.col("_change_type") == "insert") \
        .drop("_change_type")
    if codebooks is not None:
        appends = ivf_pq_assign(ins, centroids, codebooks, vec_col, id_col)
    else:
        appends = ivf_assign(ins, centroids, vec_col, id_col,
                             dtype="float32")
    appends = appends.withColumn(AS_OF, F.lit(int(as_of)))
    tombstones = (
        changelog.filter(F.col("_change_type") == "delete")
        .select(F.col(id_col).alias("n_id")).distinct()
        .withColumn(TOMB_TS, F.lit(int(as_of)))
    )
    return appends, tombstones


def live_index(index: DataFrame, tombstones: DataFrame) -> DataFrame:
    """Serving view of a maintained index: rows not killed by a
    tombstone. One tombstone per id (max _ts) left-joins the index.

    Broadcast guard (VERDICT r7 #4): the tombstone set grows with every
    delete — normally metadata-sized, but heavy churn grows it without
    bound, and an unconditional broadcast would silently exceed the driver/executor
    broadcast limit. The set is counted (one eager, metadata-sized
    aggregate at construction) and broadcast only up to
    ``guard.BROADCAST_MAX_ROWS`` distinct ids; past it the join is a
    pinned shuffled hash join (``guard.join_hint``) — identical results."""
    t = tombstones.groupBy("n_id").agg(F.max(TOMB_TS).alias(TOMB_TS))
    return (
        index.join(t.hint(join_hint(t)), "n_id", "left")
        .filter(F.col(TOMB_TS).isNull() | (F.col(AS_OF) >= F.col(TOMB_TS)))
        .drop(TOMB_TS)
    )
