"""Coordinate reference system seam — the engine's `to_crs` equivalent.

The reference reprojects every source to EPSG:3347 before conforming it
(conform_deltas_src.py:175 `self.df.to_crs("EPSG:3347")`); the engine's
operators then assume one shared planar CRS. This module is the
distributed form of that step: reproject ONCE at ingestion, run every
join/validation in the common planar frame.

Two tiers, same Spark shape (vectorized, never per-row Python):

- ``affine_transform`` — exact planar affine (translate/scale/rotate/
  shear) as pure Column arithmetic: whole-stage codegen, zero Python.
  Covers datum-shift-free cases: unit changes, local grid → engine
  domain mapping (the phash-georef mapping is itself such an affine),
  axis flips.
- ``reproject`` — true geodesic CRS→CRS through pyproj, as an
  Arrow-batched pandas UDF (pyproj's Transformer is vectorized over
  numpy arrays, so the per-batch cost is one C call, not per-row
  Python). pyproj is not in this sandbox: the import is gated, callers
  get a loud ImportError naming the dependency, and the UDF plumbing
  (schema, batch shape, transformer-per-worker caching) is tested with
  a registered fake transform so the Spark side is REAL even where the
  geodesy library is absent.

Scale note: reprojection is embarrassingly parallel (row-local), so the
only design decision that matters at 100 TB is batching — Arrow batches
through ONE vectorized Transformer call per batch, with the Transformer
constructed once per (worker, CRS pair) and cached (pyproj Transformer
construction reads grid files; per-batch construction would dominate).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .geomkernel import vertex_array

# worker-side cache: (src, dst) -> vectorized transform callable
_TRANSFORMERS: dict = {}

# test/deterministic-fallback registry: named planar transforms usable
# where pyproj is absent (registered via register_transform)
_REGISTERED: dict = {}


def affine_transform(x: Column, y: Column,
                     a: float = 1.0, b: float = 0.0, c: float = 0.0,
                     d: float = 0.0, e: float = 1.0, f: float = 0.0) -> tuple[Column, Column]:
    """(x', y') = (a·x + b·y + c, d·x + e·y + f) — shapely/GEOS affine
    parameter order. Pure Column arithmetic: stays in whole-stage
    codegen, no serialization boundary at any scale."""
    return (F.lit(a) * x + F.lit(b) * y + F.lit(c),
            F.lit(d) * x + F.lit(e) * y + F.lit(f))


def rotation(degrees: float, cx: float = 0.0, cy: float = 0.0) -> tuple[float, ...]:
    """Affine params rotating around (cx, cy) — feed to affine_transform."""
    t = math.radians(degrees)
    ca, sa = math.cos(t), math.sin(t)
    return (ca, -sa, cx - ca * cx + sa * cy, sa, ca, cy - sa * cx - ca * cy)


def register_transform(src: str, dst: str, fn) -> None:
    """Register ``fn(xs: ndarray, ys: ndarray) -> (xs', ys')`` for a CRS
    pair — the deterministic stand-in used by tests (and by deployments
    with bespoke projections) where pyproj is unavailable. Registered
    pairs take precedence over pyproj."""
    _REGISTERED[(src, dst)] = fn


def _transformer(src: str, dst: str):
    key = (src, dst)
    if key in _TRANSFORMERS:
        return _TRANSFORMERS[key]
    if key in _REGISTERED:
        _TRANSFORMERS[key] = _REGISTERED[key]
        return _TRANSFORMERS[key]
    try:
        from pyproj import Transformer
    except ImportError as exc:  # sandbox: no geodesy library
        raise ImportError(
            f"reproject({src!r} -> {dst!r}) needs pyproj (not installed) "
            "or a register_transform() entry for this pair") from exc
    t = Transformer.from_crs(src, dst, always_xy=True)
    _TRANSFORMERS[key] = lambda xs, ys: t.transform(xs, ys)
    return _TRANSFORMERS[key]


def reproject(df: DataFrame, src: str, dst: str,
              x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Reproject point columns ``x_col``/``y_col`` from CRS ``src`` to
    ``dst`` in place (same column names out). Arrow-batched: one
    vectorized transformer call per batch, transformer cached per
    worker per CRS pair."""
    schema = df.schema
    # a driver-side register_transform() entry must ride the closure —
    # executor python workers import this module fresh and would not see
    # the driver's registry (pyproj transformers ARE built worker-side:
    # construction reads grid files, so shipping one serialized driver
    # instance to every worker would be both slow and version-fragile)
    reg = _REGISTERED.get((src, dst))

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = reg if reg is not None else _transformer(src, dst)
        for pdf in batches:
            xs, ys = fn(pdf[x_col].to_numpy(), pdf[y_col].to_numpy())
            out = pdf.copy()
            out[x_col] = xs
            out[y_col] = ys
            yield out

    return df.mapInPandas(do, schema=schema)


def reproject_vertices(df: DataFrame, src: str, dst: str,
                       vertices: str = "vertices") -> DataFrame:
    """Reproject a vertex-array geometry column (array<array<double>>).
    Vertex arrays flatten to ONE numpy array per batch so the
    transformer still sees a single vectorized call; ragged structure is
    restored by split offsets."""
    import numpy as np

    schema = df.schema
    reg = _REGISTERED.get((src, dst))  # see reproject(): closure-shipped

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = reg if reg is not None else _transformer(src, dst)
        for pdf in batches:
            arrs = [vertex_array(v, f"reproject_vertices {vertices}")
                    for v in pdf[vertices]]
            lens = [len(a) for a in arrs]
            if sum(lens) == 0:
                yield pdf
                continue
            flat = np.concatenate(arrs)
            xs, ys = fn(flat[:, 0], flat[:, 1])
            pts = np.column_stack([xs, ys])
            out = pdf.copy()
            out[vertices] = [a.tolist() for a in np.split(pts, np.cumsum(lens)[:-1])]
            yield out

    return df.mapInPandas(do, schema=schema)
