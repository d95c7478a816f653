"""Cache hygiene (VERDICT r5 #7): the standardize → validate_topology →
meshblock → conflation → snap-suggestion composition, run end-to-end
with every release hook in try/finally, must leave ZERO persisted blocks
in executor storage. On a 100-TB cluster a leaked cache of the arc set
is executor-memory death across the session lifetime."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.operators import conflate as CF
from egp_crn_spark.operators import meshblock as MB
from egp_crn_spark.operators import standardize as ST
from egp_crn_spark.operators import validate as V
from egp_crn_spark.operators.snapsuggest import snapsuggest_release, suggested_snapping
from egp_crn_spark.synth import make_arcs


def _persisted_ids(spark) -> frozenset:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return frozenset(int(k) for k in jmap.keySet().toArray())


def test_composition_leaves_zero_cached_blocks(spark):
    # other tests in the session may have left caches (clearCache drops
    # DataFrame caches; localCheckpoint RDDs from elsewhere are excluded
    # by the before/after id-set comparison instead)
    spark.catalog.clearCache()
    before = _persisted_ids(spark)

    arcs = spark.createDataFrame(make_arcs(n_random=120))
    try:
        std = ST.standardize(arcs)
        flagged = V.validate_topology(std)  # all codes incl. the 302 persist
        counts = flagged.select(
            *[F.sum(f"v{c}").alias(f"v{c}") for c in sorted(V.VALIDATIONS)]
        ).first()
        assert counts is not None

        faces = MB.polygonize_meshblock(std, tile_res=4)
        n_faces = faces.count()
        assert n_faces > 0

        fpd = faces.toPandas()
        crn = spark.createDataFrame(pd.DataFrame({
            "crn_id": np.arange(len(fpd), dtype=np.int64),
            "xmin": [min(p[0] for p in v) for v in fpd.vertices],
            "ymin": [min(p[1] for p in v) for v in fpd.vertices],
            "xmax": [max(p[0] for p in v) for v in fpd.vertices],
            "ymax": [max(p[1] for p in v) for v in fpd.vertices],
        }))
        ngd = spark.createDataFrame(pd.DataFrame(
            {"ngd_id": [1], "xmin": [-1e5], "ymin": [-1e5],
             "xmax": [1e5], "ymax": [1e5]}))
        pairs = CF.conflate_pairs_rect(crn, ngd, res=6)
        _, _, metrics = CF.classify_conflation(
            pairs, crn.select("crn_id"), ngd.select("ngd_id"))
        assert metrics.count() == 1

        sugg = suggested_snapping(std)
        sugg.count()  # materialize both branches
    finally:
        V.validate_release()
        snapsuggest_release()

    leaked = _persisted_ids(spark) - before
    assert not leaked, f"composition leaked cached RDDs: {sorted(leaked)}"


def test_repeated_validate_does_not_accumulate(spark):
    """Back-to-back validate_topology runs (re-validation sweeps) release
    the previous run's caches implicitly — storage stays bounded by ONE
    run's working set even without explicit release calls."""
    spark.catalog.clearCache()
    before = _persisted_ids(spark)
    arcs = ST.standardize(spark.createDataFrame(make_arcs(n_random=60)))
    try:
        baseline = None
        for _ in range(3):
            V.validate_topology(arcs, codes=[101, 302]).select(
                F.sum("v101"), F.sum("v302")).first()
            n = len(_persisted_ids(spark) - before)
            baseline = n if baseline is None else baseline
            assert n <= baseline
    finally:
        V.validate_release()
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"repeated validate leaked: {sorted(leaked)}"
