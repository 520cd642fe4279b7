"""Single-node oracle and the comparison of a query's rows against it.

The oracle is the program's own reference-semantics kernel run over the
full mosaicked raster of the seed: ``kernel.zonal_stats_one`` per zone and
``kernel.point_query_one`` per zone's vertices.

Tolerance. Counts, min, max, range, median, percentiles, majority,
minority and unique must match exactly.
Sums accumulate n float32 pixels in float64 in an order that differs
between the engine and the oracle; each order errs by at most
g(n) = n*u / (1 - n*u) of sum|x| (u = 2**-53), so

- sum:  |diff| <= 2 g(n) n M + 4 u |sum|
- mean: |diff| <= 2 g(n) M + 4 u |mean|
- std:  compared as variance, |diff| <= (6 g(n) + 8 u) M**2

where M is the largest |pixel| in the zone (from the oracle's min and max).
A bilinear point value is four float64 products summed in the same order
on both sides: |diff| <= 16 u |expected|.
"""

from __future__ import annotations

from python_rasterstats_spark import kernel as K

U = 2.0 ** -53
EXACT = object()


def gamma(n: int) -> float:
    nu = n * U
    return nu / (1.0 - nu)


def zonal_expected(zones: list[dict], arr, aff, nodata, stats) -> dict:
    """{zone_id: stats dict}; min/max/count are always computed, since the
    tolerances need them."""
    want = list(dict.fromkeys(list(stats) + ["count", "min", "max"]))
    return {
        z["zone_id"]: K.zonal_stats_one(z["geom"], arr, aff, nodata=nodata, stats=want)
        for z in zones
    }


def point_expected(zones: list[dict], arr, aff, nodata) -> dict:
    """{(zone_id, vertex_idx): bilinear value}."""
    out = {}
    for z in zones:
        vals = K.point_query_one(z["geom"], arr, aff, nodata=nodata,
                                 interpolate="bilinear")
        vals = vals if isinstance(vals, list) else [vals]
        for vi, v in enumerate(vals):
            out[(z["zone_id"], vi)] = v
    return out


def zonal_tolerance(stat: str, exp: dict) -> float | object:
    n = exp.get("count") or 0
    lo, hi = exp.get("min"), exp.get("max")
    m = max(abs(lo), abs(hi)) if lo is not None else 0.0
    g = gamma(n)
    if stat == "sum":
        return 2 * g * n * m + 4 * U * abs(exp["sum"] or 0.0)
    if stat == "mean":
        return 2 * g * m + 4 * U * abs(exp["mean"] or 0.0)
    if stat == "std":
        return (6 * g + 8 * U) * m * m
    return EXACT


def value_ok(got, exp, tol) -> bool:
    if got is None or exp is None:
        return got is None and exp is None
    if tol is EXACT:
        return got == exp
    return abs(got - exp) <= tol


def compare(rows, expected: dict, key_of, checks) -> dict:
    """Tally of a query's rows against the oracle.

    ``key_of(row)`` gives a row's key; ``checks(row, exp)`` yields one
    (ok) boolean per compared value. Counts missing, duplicated and extra
    rows and every differing value."""
    seen: dict = {}
    out = {"rows": 0, "missing": 0, "duplicated": 0, "extra": 0, "wrong_values": 0}
    for row in rows:
        out["rows"] += 1
        k = key_of(row)
        if k not in expected:
            out["extra"] += 1
            continue
        if k in seen:
            out["duplicated"] += 1
            continue
        seen[k] = True
        out["wrong_values"] += sum(1 for ok in checks(row, expected[k]) if not ok)
    out["missing"] = sum(1 for k in expected if k not in seen)
    return out


def failed(tally: dict) -> bool:
    return any(tally[k] for k in ("missing", "duplicated", "extra", "wrong_values"))


def compare_zonal(rows, expected: dict, stats) -> dict:
    def checks(row, exp):
        for s in stats:
            tol = zonal_tolerance(s, exp)
            got, want = row[s], exp.get(s)
            if s == "std" and got is not None and want is not None:
                yield abs(got * got - want * want) <= tol
            else:
                yield value_ok(got, want, tol)

    return compare(rows, expected, lambda r: r["zone_id"], checks)


def compare_point(rows, expected: dict) -> dict:
    def checks(row, exp):
        yield value_ok(row["value"], exp, 16 * U * abs(exp) if exp is not None else EXACT)

    return compare(rows, expected, lambda r: (r["zone_id"], r["vertex_idx"]), checks)
