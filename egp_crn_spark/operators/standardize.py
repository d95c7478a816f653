"""Arc-table standardization — pure Catalyst expressions.

Re-expresses /root/reference/src/helpers.py:443-639 (`standardize`): the
reference runs per-row Python lambdas over object columns; here every
step is a Column expression (whole-stage codegen), and the uuid4 repair
(helpers.py:584) becomes a deterministic content hash so re-runs are
reproducible (SURVEY.md §7 hard parts (c)).

Steps (numbering mirrors the reference docstring):
 2) drop zero-length geometries            (helpers.py:483-488)
 3) strip null coordinates, drop hulls     (helpers.py:490-510)
 4) round coordinates + adjacent dedup     (helpers.py:306-342, 512-514)
 5) domain/dtype enforcement               (helpers.py:516-571)
    + identifier validation/repair         (helpers.py:573-587)
 6) cross-field integrity rules i-iii      (helpers.py:589-620)
 7) drop stale validation columns v\\d+     (helpers.py:622-627)
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import COORD_DECIMALS
from ..functions import geomexpr as GX

#: Domain specs (helpers.py:519-537). Key = column; (domain map or None,
#: default, dtype). Domain keys are str() renderings of accepted values.
STRUCTURE_DOMAIN = {
    "-1": "Unknown", "-1.0": "Unknown", "Unknown": "Unknown",
    "0": "None", "0.0": "None", "None": "None",
    "1": "Bridge", "1.0": "Bridge", "Bridge": "Bridge",
    "2": "Bridge covered", "2.0": "Bridge covered", "Bridge covered": "Bridge covered",
    "3": "Bridge moveable", "3.0": "Bridge moveable", "Bridge moveable": "Bridge moveable",
    "4": "Bridge unknown", "4.0": "Bridge unknown", "Bridge unknown": "Bridge unknown",
    "5": "Tunnel", "5.0": "Tunnel", "Tunnel": "Tunnel",
    "6": "Snowshed", "6.0": "Snowshed", "Snowshed": "Snowshed",
    "7": "Dam", "7.0": "Dam", "Dam": "Dam",
}

_BIN_DOMAIN = {"0": 0, "0.0": 0, "1": 1, "1.0": 1}
_SEG_DOMAIN = {"1": 1, "1.0": 1, "2": 2, "2.0": 2}


def _domain_map(col: Column, domain: dict, default) -> Column:
    """domain lookup on str(value), else default — helpers.py:546-566."""
    s = col.cast("string")
    expr = F.lit(default)
    # build when-cascade in reverse so first match wins
    for k, v in domain.items():
        expr = F.when(s == k, F.lit(v)).otherwise(expr)
    return F.when(col.isNull(), F.lit(default)).otherwise(expr)


def clean_vertices(df: DataFrame, vertices: str = "vertices",
                   decimals: int = COORD_DECIMALS) -> DataFrame:
    """Steps 2-4: null-coordinate strip, zero-length drop, rounding +
    adjacent-duplicate collapse."""
    v = F.col(vertices)
    # 3) strip null/NaN coordinates
    valid = F.filter(
        v,
        lambda p: F.element_at(p, 1).isNotNull()
        & F.element_at(p, 2).isNotNull()
        & ~F.isnan(F.element_at(p, 1))
        & ~F.isnan(F.element_at(p, 2)),
    )
    df = df.withColumn(vertices, valid).filter(F.size(F.col(vertices)) >= 2)
    # 2) drop zero-length
    df = df.filter(GX.line_length(F.col(vertices)) > 0)
    # 4) round + dedup adjacent (only when >= 2 distinct rounded vertices,
    #    mirroring helpers.py:332-333)
    rounded = GX.round_vertices(F.col(vertices), decimals)
    deduped = GX.dedup_adjacent_vertices(rounded)
    df = df.withColumn(
        vertices,
        F.when(F.size(F.array_distinct(rounded)) >= 2, deduped).otherwise(rounded),
    )
    return df


def standardize_attributes(df: DataFrame) -> DataFrame:
    """Step 5 (domains/dtypes) + step 6 (cross-field rules)."""
    df = (
        df.withColumn("bo_new", _domain_map(F.col("bo_new"), _BIN_DOMAIN, 0).cast("int"))
        .withColumn("boundary", _domain_map(F.col("boundary"), _BIN_DOMAIN, 0).cast("int"))
        .withColumn("segment_type", _domain_map(F.col("segment_type"), _SEG_DOMAIN, 1).cast("int"))
        .withColumn("ngd_uid", F.coalesce(F.col("ngd_uid").cast("int"), F.lit(-1)))
        .withColumn("segment_id", F.coalesce(F.col("segment_id").cast("string"), F.lit("-1")))
        .withColumn("segment_id_orig",
                    F.coalesce(F.col("segment_id_orig").cast("string"), F.lit("-1")))
        .withColumn("structure_type",
                    _domain_map(F.col("structure_type"), STRUCTURE_DOMAIN, "Unknown"))
    )
    # rule i) bo_new = 1 ⇒ segment_type = 2 (helpers.py:592-596)
    df = df.withColumn(
        "segment_type",
        F.when(F.col("bo_new") == 1, F.lit(2)).otherwise(F.col("segment_type")),
    )
    # rule ii) completely new BOs get bo_new = 1 (helpers.py:599-603)
    df = df.withColumn(
        "bo_new",
        F.when(
            (F.col("ngd_uid") == -1) & (F.col("bo_new") != 1) & (F.col("segment_type") == 2),
            F.lit(1),
        ).otherwise(F.col("bo_new")),
    )
    # rule iii) NRN integrity: invalid NRN ids → "-1" (helpers.py:608-612);
    # NRN records revert bo_new/boundary/segment_type (helpers.py:615-620)
    df = df.withColumn(
        "segment_id_orig",
        F.when(
            (F.length("segment_id_orig") != 32) & (F.col("segment_id_orig") != "-1"),
            F.lit("-1"),
        ).otherwise(F.col("segment_id_orig")),
    )
    is_nrn = F.length("segment_id_orig") == 32
    df = (
        df.withColumn("bo_new", F.when(is_nrn & (F.col("bo_new") != 0), F.lit(0)).otherwise(F.col("bo_new")))
        .withColumn("boundary", F.when(is_nrn & (F.col("boundary") != 0), F.lit(0)).otherwise(F.col("boundary")))
        .withColumn("segment_type",
                    F.when(is_nrn & (F.col("segment_type") != 1), F.lit(1)).otherwise(F.col("segment_type")))
    )
    return df


def repair_identifiers(df: DataFrame, id_col: str = "segment_id",
                       vertices: str = "vertices") -> DataFrame:
    """Identifier validation + deterministic repair (helpers.py:576-587).

    Invalid = length != 32, non-hex, or duplicated. The reference assigns
    uuid4 (non-reproducible); we assign
    sha2(old_id ‖ geometry checksum ‖ dup-rank) so re-runs are stable and
    repaired ids never collide (dup-rank disambiguates identical rows).
    """
    w = Window.partitionBy(id_col)
    wr = Window.partitionBy(id_col).orderBy(GX.geom_checksum(F.col(vertices)))
    invalid = (
        (F.length(id_col) != 32)
        | ~F.col(id_col).rlike("^[0-9a-fA-F]{32}$")
        | (F.count("*").over(w) > 1)
    )
    repaired = F.substring(
        F.sha2(
            F.concat_ws("|", F.col(id_col), GX.geom_checksum(F.col(vertices)),
                        F.row_number().over(wr).cast("string")),
            256,
        ),
        1,
        32,
    )
    return df.withColumn(id_col, F.when(invalid, repaired).otherwise(F.col(id_col)))


def drop_validation_columns(df: DataFrame) -> DataFrame:
    """Step 7 (helpers.py:622-627)."""
    stale = [c for c in df.columns if re.fullmatch(r"v[0-9]+", c)]
    return df.drop(*stale) if stale else df


def standardize(df: DataFrame) -> DataFrame:
    """Full pipeline in reference order (helpers.py:443-639)."""
    df = clean_vertices(df)
    df = standardize_attributes(df)
    df = repair_identifiers(df)
    df = drop_validation_columns(df)
    return df
