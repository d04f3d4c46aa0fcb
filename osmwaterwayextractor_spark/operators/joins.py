"""Reusable join combinators (SURVEY.md §4.2 "cell-join helper" + salting).

- ``distance_join``: the engine's R-tree replacement as a public API —
  rewrites a geodesic-radius theta-join into a ring-1 cell equi-join at a
  radius-calibrated quad level plus an exact vectorized Vincenty filter.
- ``salted_equijoin``: explicit hot-key defense — the big side salts
  deterministically, the small side replicates per salt bucket. Result is
  row-identical to the plain join (pinned by tests); use when a handful of
  keys dwarf AQE's skew-split thresholds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import cells_sql
from ..functions.geodesy import geodesic_m
from ..functions.tiling import join_grid_level


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_cols: tuple[str, str] = ("lat", "lon"),
    right_cols: tuple[str, str] = ("lat", "lon"),
    dist_col: str = "dist_m",
) -> DataFrame:
    """All (left, right) pairs with geodesic distance ≤ radius_m.

    Right-side columns are suffixed ``_r`` on collision. The cell level is
    derived from the data's max |lat| so ring-1 neighborhoods always cover
    the radius (functions.tiling.join_grid_level).
    """
    lat_l, lon_l = left_cols
    lat_r, lon_r = right_cols
    maxlat = max(
        left.agg(F.max(F.abs(F.col(lat_l)))).collect()[0][0] or 0.0,
        right.agg(F.max(F.abs(F.col(lat_r)))).collect()[0][0] or 0.0,
    )
    level = join_grid_level(radius_m, float(maxlat))
    rename = {
        c: f"{c}_r" for c in right.columns if c in left.columns
    }
    r = right
    for old, new in rename.items():
        r = r.withColumnRenamed(old, new)
    lat_r2, lon_r2 = rename.get(lat_r, lat_r), rename.get(lon_r, lon_r)

    lhs = left.withColumn("_cell", F.explode(cells_sql.ring(lat_l, lon_l, level, "wrap")))
    rhs = r.withColumn("_cell", cells_sql.cell(lat_r2, lon_r2, level, "wrap"))
    cand = lhs.join(rhs, "_cell").drop("_cell").dropDuplicates(
        list(dict.fromkeys(left.columns + r.columns))
    )

    @pandas_udf("double")
    def _dist(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series(
            geodesic_m(
                a.to_numpy(dtype=float), b.to_numpy(dtype=float),
                c.to_numpy(dtype=float), d.to_numpy(dtype=float),
            )
        )

    return cand.withColumn(dist_col, _dist(lat_l, lon_l, lat_r2, lon_r2)).where(
        F.col(dist_col) <= radius_m
    )


def salted_equijoin(
    big: DataFrame,
    small: DataFrame,
    key: str,
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """big ⋈ small on ``key`` with explicit salting of the big side and
    per-bucket replication of the small side."""
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(buckets))
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(buckets)]))
    )
    return salted_big.join(salted_small, [key, "_salt"], how).drop("_salt")
