"""The analyse pipeline: distributed curve building.

Re-expresses the reference's ``analyse compute-curves`` driver loops
(/root/reference/src/analyser/specific_curves.rs,
/root/reference/src/analyser/default_curves.rs) as single Spark jobs:
no per-route driver loops — one shuffle per grouping, curve math in
Arrow-batched ``applyInPandas`` kernels.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .. import curves as cv


def ecdf_curve_points(df: DataFrame, group_cols: list[str], value_col: str,
                      min_samples: int = 2, focus: float | None = None,
                      y_round: int | None = None) -> DataFrame:
    """A3 ``make_curve`` per group, exploded to one row per curve
    point: (group..., x double, y double, sample_size long).

    With ``focus`` set, values are triangular-kernel weighted (C6).
    Exploded-point form keeps the result SQL-expressible (cumulative
    weight / total over distinct values), which is what the DuckDB
    oracle checks; ``y_round`` rounds y so cross-engine summation-order
    drift of fractional weights stays out of the value hash.  The
    curve tables' array-typed form is built over counted bases in
    plans/analyse_gtfs.py.
    """
    # Prune BEFORE the groupBy shuffle: the kernel reads only the keys
    # and the value column, so everything else (at scale, most of the
    # table width) must not travel through the Exchange into
    # FlatMapGroupsInPandas.
    df = df.select(*group_cols, value_col)
    fields = [df.schema[c] for c in group_cols]
    out_schema = StructType(fields + [
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("sample_size", LongType()),
    ])

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[value_col].dropna().to_numpy(dtype="float64")
        made = cv.make_curve(vals, focus) if len(vals) >= min_samples else None
        if made is None:
            return pd.DataFrame({f.name: pd.Series(dtype="object")
                                 for f in out_schema.fields})
        curve, _total = made
        n = len(curve)
        out = {c: [pdf[c].iloc[0]] * n for c in group_cols}
        out["x"] = curve.xs
        ys = curve.ys
        if y_round is not None:
            import numpy as np

            ys = np.round(ys, y_round)
        out["y"] = ys
        out["sample_size"] = [len(vals)] * n
        return pd.DataFrame(out)

    return df.groupBy(*group_cols).applyInPandas(build, out_schema)


def ecdf_curve_points_jvm_sql(src: str, group_cols: list[str],
                              value_col: str, min_samples: int = 2,
                              focus: float | None = None,
                              y_round: int | None = None,
                              pre_partition: bool = False) -> str:
    """Pure-JVM twin of :func:`ecdf_curve_points`, rendered as ONE
    Spark-SQL string over the registered view ``src``: the A3
    ``make_curve`` semantics (curve_utils.rs:65-94 quirks included) as
    counted distinct values plus a per-group window cumsum, with **no
    Python in the plan** — no Arrow transfer, no pandas kernel.  One
    ``spark.sql`` call parses the whole plan JVM-side; building the
    same tree from DataFrame Columns cost ~1.4 s of py4j round-trips
    at bench scale (measured round 4).

    Shape: one (group, value) hash aggregate (partial below the
    exchange), then windows over ≤ |distinct values| rows per group —
    at 12 s-rounded ±3000 s delays that is ≤ 501 rows per group
    regardless of record volume.  Equality vs the pandas kernel is
    pinned by tests.

    Semantics mirrored exactly: duplicate x keeps the cumulative
    weight of its first occurrence; an x == 0.0 at the group minimum
    emits no point; first/last surviving y forced to 0.0 / 1.0; groups
    with < ``min_samples`` values or < 2 surviving points vanish.

    ``pre_partition``: repartition the raw values by the GROUP key
    before the (group, x) aggregation.  Hash partitioning by a subset
    of the grouping keys satisfies the aggregate's distribution, and
    the window is keyed by the same subset — so the whole query runs
    on ONE exchange instead of two (guide §2.4 'share one exchange').
    The trade is losing map-side combine on the raw rows, which is
    the right call exactly when the value domain is near-unique per
    group (continuous measurements — the driver's events.value has a
    ~2× distinct ratio; measured 3× faster at sf0.1: 1.67 → 0.57 s)
    and the wrong call for low-cardinality domains (12 s-rounded GTFS
    delays combine ~1000×), so the default keeps the combine form and
    callers opt in per value-domain knowledge."""
    g = ", ".join(group_cols)
    p = f"PARTITION BY {g}"
    if focus is None:
        w = "CAST(1.0 AS DOUBLE)"
    else:
        fc = f"CAST({focus!r} AS DOUBLE)"
        w = f"""CASE WHEN x = {fc} THEN 1.0
                 WHEN x < {fc} THEN
                   CASE WHEN {fc} - __raw_min != 0.0
                        THEN (x - __raw_min) / ({fc} - __raw_min)
                        ELSE 1.0 END
                 ELSE
                   CASE WHEN __mx - {fc} != 0.0
                        THEN 1.0 - (x - {fc}) / (__mx - {fc})
                        ELSE 0.0 END END"""
    y = """CASE WHEN x = __mn THEN 0.0
                WHEN x = __mx THEN 1.0
                ELSE LEAST(1.0D, GREATEST(0.0D, cum_first / total)) END"""
    if y_round is not None:
        y = f"ROUND({y}, {y_round})"
    # Every full-partition window carries ORDER BY x with an explicit
    # UNBOUNDED..UNBOUNDED frame (values unchanged — the frame spans
    # the whole partition regardless of order) so ALL window nodes
    # share one (group, x) sort: Catalyst plans adjacent Window nodes
    # with no re-Sort between them.  In the unfocused case __w/__wc
    # are constants hoisted into ``counted``, which lets ``total``
    # join the stats window pass — the plan drops from 3 Window + 2
    # Sort nodes to 2 Window + 1 Sort (focused: weights depend on the
    # stats pass, so that path keeps two window layers but still one
    # sort).
    full = (f"{p} ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND UNBOUNDED FOLLOWING")
    if focus is None:
        counted = (f"SELECT {g}, x, COUNT(*) AS cnt, ({w}) AS __w, "
                   f"({w}) * COUNT(*) AS __wc "
                   f"FROM vals GROUP BY {g}, x")
        weighted = "SELECT * FROM stats"
    else:
        counted = f"SELECT {g}, x, COUNT(*) AS cnt FROM vals GROUP BY {g}, x"
        weighted = f"SELECT *, ({w}) AS __w, ({w}) * cnt AS __wc FROM stats"
    hint = f"/*+ REPARTITION({g}) */ " if pre_partition else ""
    return f"""
        WITH vals AS (
            SELECT {hint}{g}, CAST({value_col} AS DOUBLE) AS x
            FROM {src}
            WHERE CAST({value_col} AS DOUBLE) IS NOT NULL
              AND NOT isnan(CAST({value_col} AS DOUBLE))
        ),
        counted AS (
            {counted}
        ),
        stats AS (
            SELECT *,
                   MIN(x) OVER ({full}) AS __raw_min,
                   MAX(x) OVER ({full}) AS __mx,
                   COUNT(*) OVER ({full}) AS __k_pre,
                   MIN(CASE WHEN x != 0.0 THEN x END) OVER ({full})
                       AS __min_nz,
                   SUM(cnt) OVER ({full}) AS n
                   {", SUM(__wc) OVER (" + full + ") AS total"
                    if focus is None else ""}
            FROM counted
        ),
        weighted AS (
            {weighted}
        ),
        cum AS (
            SELECT *,
                   {"" if focus is None
                    else "SUM(__wc) OVER (" + full + ") AS total,"}
                   SUM(__wc) OVER ({p} ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - __wc + __w AS cum_first
            FROM weighted
        ),
        surviving AS (
            SELECT *,
                   IF(__raw_min = 0.0, __min_nz, __raw_min) AS __mn,
                   __k_pre - IF(__raw_min = 0.0, 1, 0) AS __k
            FROM cum WHERE NOT (x = 0.0 AND x = __raw_min)
        )
        SELECT {g}, x, {y} AS y, CAST(n AS BIGINT) AS sample_size
        FROM surviving
        WHERE n >= {min_samples} AND __k >= 2 AND total > 0
    """
