"""phash → (x, y) georeferencing — pure Column expressions (no UDF).

BASELINE.json input_hint: rows are georeferenced by a deterministic
bit-slice of ``phash:int64``: the top 32 bits index the x axis, the low 32
bits the y axis, each scaled to the planar domain [0, EXTENT).

A +0.5 sub-ulp offset keeps derived points strictly off every cell/tile
boundary (boundaries sit on dyadic rationals of coarser precision), so
point-in-polygon and cell assignment are never ambiguous — this replaces
the reference's 5-decimal rounding trick for node identity
(/root/reference/src/helpers.py:306-342) with an exactness-by-construction
guarantee.

The key-derived builders (``key_x``/``key_y``) have twin ``*_sql`` emitters
producing the equivalent ANSI SQL string so DuckDB oracles share one
definition (no drift).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import EXTENT, PHASH_AXIS_BITS

_AXIS_MOD = 1 << PHASH_AXIS_BITS  # 2**32
_SCALE = EXTENT / _AXIS_MOD


def phash_x(phash: Column) -> Column:
    """x in [0, EXTENT) from the top 32 bits of phash."""
    ix = F.shiftright(phash, PHASH_AXIS_BITS).bitwiseAND(F.lit(_AXIS_MOD - 1))
    return (ix.cast("double") + F.lit(0.5)) * F.lit(_SCALE)


def phash_y(phash: Column) -> Column:
    """y in [0, EXTENT) from the low 32 bits of phash."""
    iy = phash.bitwiseAND(F.lit(_AXIS_MOD - 1))
    return (iy.cast("double") + F.lit(0.5)) * F.lit(_SCALE)


# ---------------------------------------------------------------------------
# Deterministic synthetic coordinates from an integer key (used to derive
# spatial inputs from the driver's TPC-H-ish tables so DuckDB oracles can
# reproduce them; multiplicative hashing — Knuth constants).
# ---------------------------------------------------------------------------
_KX = 2654435761
_KY = 2246822519


def key_x(key: Column) -> Column:
    h = F.pmod(key * F.lit(_KX), F.lit(_AXIS_MOD))
    return (h.cast("double") + F.lit(0.5)) * F.lit(_SCALE)


def key_y(key: Column) -> Column:
    h = F.pmod(key * F.lit(_KY), F.lit(_AXIS_MOD))
    return (h.cast("double") + F.lit(0.5)) * F.lit(_SCALE)


def key_x_sql(key: str) -> str:
    return f"((({key} * {_KX}) % {_AXIS_MOD}) + 0.5) * {_SCALE!r}"


def key_y_sql(key: str) -> str:
    return f"((({key} * {_KY}) % {_AXIS_MOD}) + 0.5) * {_SCALE!r}"
