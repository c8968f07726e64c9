"""Arrow-batched pandas UDFs over curve columns
(array<struct<x:float,y:float>>) — the DataFrame-facing surface of the
NumPy curve library (§2.10 UDF family)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from .. import curves as cv
from ..schemas import CURVE_TYPE


def _c(points) -> cv.Curve | None:
    if points is None or len(points) < 2:
        return None
    return cv.Curve.from_points(points)


@pandas_udf(DoubleType())
def curve_y_at_x(curve: pd.Series, x: pd.Series) -> pd.Series:
    """C7: CDF evaluation."""
    return pd.Series([
        float(cv.y_at_x(c, xv)) if (c := _c(p)) is not None else None
        for p, xv in zip(curve, x)])


@pandas_udf(DoubleType())
def curve_x_at_y(curve: pd.Series, y: pd.Series) -> pd.Series:
    """C7: inverse CDF (percentile extraction)."""
    return pd.Series([
        float(cv.x_at_y(c, yv)) if (c := _c(p)) is not None else None
        for p, yv in zip(curve, y)])


# ---------------------------------------------------------------------------
# JVM twins of the C7 evaluators: pure Column expressions over the
# curve array via higher-order functions — no Python worker, no Arrow
# transfer.  These are the hot-path forms (departure boards and
# prediction lookups evaluate millions of curves); the pandas UDFs
# above remain the reference implementations, equality-pinned against
# NumPy in the tests.
# ---------------------------------------------------------------------------

def _interp_expr(keys, vals, q):
    """np.interp over parallel float arrays: clamp outside, linear
    inside, exact tie resolved to the RIGHT edge of a run of equal
    keys (the NumPy behavior downstream code pins: ``x_at_y`` plateau
    handling, curves.py:123-128).  ``keys`` must be nondecreasing."""
    import pyspark.sql.functions as F

    n = F.size(keys)
    # last 1-based index with key <= q; nondecreasing keys make the
    # filter-count equivalent to a right-edge searchsorted
    j = F.size(F.filter(keys, lambda k: k <= q))
    k_j, v_j = F.element_at(keys, j), F.element_at(vals, j)
    k_n, v_n = F.element_at(keys, j + 1), F.element_at(vals, j + 1)
    lerp = v_j + (q - k_j) * (v_n - v_j) / (k_n - k_j)
    # branch order matters for tie semantics: the below-range clamp is
    # STRICT (q < keys[1]) so a q equal to a duplicated first key falls
    # through to the k_j == q branch and resolves to the run's RIGHT
    # edge, exactly like np.interp (e.g. interp(0, [0,0,.5], [a,b,c])
    # is b, not a); j >= 1 holds in every surviving branch, keeping
    # element_at in bounds under ANSI
    return (
        F.when(q < F.element_at(keys, 1), F.element_at(vals, 1))
        .when(q >= F.element_at(keys, n), F.element_at(vals, n))
        .when(k_j == q, v_j)
        .otherwise(lerp)
    )


def curve_x_at_y_expr(curve, y):
    """C7 inverse CDF as a JVM Column expression (twin of
    :func:`curve_x_at_y`)."""
    import pyspark.sql.functions as F

    curve = F.col(curve) if isinstance(curve, str) else curve
    y = F.lit(y) if not hasattr(y, "_jc") else y
    ys = F.transform(curve, lambda p: p["y"].cast("double"))
    xs = F.transform(curve, lambda p: p["x"].cast("double"))
    # q null-guard matters under ANSI: a NULL query would make the
    # filter-count 0 and element_at(·, 0) raise instead of yielding
    # NULL like the pandas UDF does
    return F.when(curve.isNotNull() & (F.size(curve) >= 2)
                  & y.isNotNull(), _interp_expr(ys, xs, y))


def curve_y_at_x_expr(curve, x):
    """C7 CDF evaluation as a JVM Column expression (twin of
    :func:`curve_y_at_x`)."""
    import pyspark.sql.functions as F

    curve = F.col(curve) if isinstance(curve, str) else curve
    x = F.lit(x) if not hasattr(x, "_jc") else x
    ys = F.transform(curve, lambda p: p["y"].cast("double"))
    xs = F.transform(curve, lambda p: p["x"].cast("double"))
    return F.when(curve.isNotNull() & (F.size(curve) >= 2)
                  & x.isNotNull(), _interp_expr(xs, ys, x))


def interp_curve_set_expr(curve_set, x):
    """C9 ``curve_at_x_with_continuation`` as a pure-JVM Column
    expression (twin of :func:`plans.predict._interp_curve_set` /
    ``curves.curve_set_interpolate``): clamp to the first/last member
    curve outside the focus range, otherwise linearly blend the two
    neighbor curves on the sorted distinct union of their x grids,
    forcing the blended endpoints to exactly 0 and 1.

    ``curve_set`` is ``array<struct<focus:float, curve:
    array<struct<x:float,y:float>>>>`` sorted by focus (what
    ``plans.predict._curve_set_table`` emits); returns the same curve
    type, NULL on NULL/empty input or NULL ``x``.  With the C7 twins
    this makes the whole predict ladder expressible without Python in
    the plan.
    """
    import pyspark.sql.functions as F

    from ..schemas import CURVE_TYPE as _CT

    cs = F.col(curve_set) if isinstance(curve_set, str) else curve_set
    x = F.lit(x) if not hasattr(x, "_jc") else x
    n = F.size(cs)
    first, last = F.element_at(cs, 1), F.element_at(cs, n)
    # 1-based index of the right neighbor: the clamp branches leave
    # first.focus < x < last.focus, so 1 <= k and k+1 <= n under ANSI
    k = F.size(F.filter(cs, lambda m: m["focus"] < x))
    c0, c1 = F.element_at(cs, k), F.element_at(cs, k + 1)
    f0, f1 = c0["focus"].cast("double"), c1["focus"].cast("double")
    t = F.when(f1 == f0, F.lit(0.0)).otherwise((x - f0) / (f1 - f0))

    def interp(member, g):
        curve = member["curve"]
        xs = F.transform(curve, lambda p: p["x"].cast("double"))
        ys = F.transform(curve, lambda p: p["y"].cast("double"))
        return _interp_expr(xs, ys, g.cast("double"))

    grid = F.array_sort(F.array_distinct(F.concat(
        F.transform(c0["curve"], lambda p: p["x"]),
        F.transform(c1["curve"], lambda p: p["x"]))))
    gn = F.size(grid)
    blended = F.transform(grid, lambda g, i: F.struct(
        g.alias("x"),
        F.when(i == 0, F.lit(0.0))
        .when(i == gn - 1, F.lit(1.0))
        .otherwise((F.lit(1.0) - t) * interp(c0, g) + t * interp(c1, g))
        .cast("float").alias("y")))

    return (
        F.when(cs.isNull() | (n == 0) | x.isNull()
               | F.isnan(x.cast("double")),
               F.lit(None).cast(_CT))
        .when(x <= first["focus"], first["curve"])
        .when(x >= last["focus"], last["curve"])
        .otherwise(blended))


@pandas_udf(CURVE_TYPE)
def walk_time_curve(distance_m: pd.Series) -> pd.Series:
    """C13: synthetic walk-duration CDF per transfer distance."""
    return pd.Series([
        cv.walk_time_curve(float(d)).points() if d is not None else None
        for d in distance_m])


@pandas_udf(CURVE_TYPE)
def convolve_with(curve: pd.Series, duration_curve: pd.Series) -> pd.Series:
    """C14: arrival ⊛ duration convolution (add_duration_curve)."""
    out = []
    for p, q in zip(curve, duration_curve):
        a, b = _c(p), _c(q)
        out.append(cv.convolve_duration(a, b).points()
                   if a is not None and b is not None else None)
    return pd.Series(out)


@pandas_udf(DoubleType())
def transfer_probability(arr_curve: pd.Series, arr_ref_s: pd.Series,
                         dep_curve: pd.Series, dep_ref_s: pd.Series
                         ) -> pd.Series:
    """C15: P(transfer reached) from two typed curves."""
    out = []
    for ap, ar, dp, dr in zip(arr_curve, arr_ref_s, dep_curve, dep_ref_s):
        a, d = _c(ap), _c(dp)
        out.append(
            cv.transfer_probability(a, int(ar), d, int(dr))
            if a is not None and d is not None
            and ar is not None and dr is not None else None)
    return pd.Series(out)

