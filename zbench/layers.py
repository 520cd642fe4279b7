"""Single-function layer timings and exact work counts, taken after the
timed loop of a traced run.

Everything here calls the program's public functions from outside: the
planner helpers of ``operators.zonal``, ``codecs.decode_tile`` and the
``kernel`` functions, each timed single-threaded on the workload's own
zones, pairs, tiles and vertices.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from python_rasterstats_spark import codecs as C
from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.operators import zonal as Z

from . import workloads as WL

MAX_CALLS = 400  # per kernel function; a seeded sample of the workload's items
PLANNER_REPS = 3


def _median_us(fn, items) -> float:
    times = []
    for it in items:
        t0 = time.perf_counter()
        fn(it)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e6


def _sample(items: list, seed: int) -> list:
    if len(items) <= MAX_CALLS:
        return items
    idx = np.random.default_rng(seed).choice(len(items), MAX_CALLS, replace=False)
    return [items[i] for i in sorted(idx)]


def work_counts(w: WL.Workload, inp: WL.Inputs) -> tuple[dict, list, set]:
    """Exact counts from the inputs, plus the pairs with a non-empty cover
    (zone, region, mask) and the tiles the query needs."""
    pairs = interior = pixels = 0
    live = []
    tiles = set()
    full = inp.tile * inp.tile
    for z, pgeom, win, tr, tc in WL.zone_pairs(inp):
        pairs += 1
        region = WL.pair_region(win, tr, tc, inp.tile)
        if region is None:
            continue
        rv = K.rasterize_pixgeom(pgeom, region)
        n = int(rv.sum())
        if n == 0:
            continue
        pixels += n
        interior += n == full
        live.append((pgeom, region, rv))
        tiles.add((tr, tc))
    if w.kind == "point":
        tiles = WL.vertex_tiles(inp)
    counts = {
        "work.zones": len(inp.query_zones),
        "work.pairs": pairs,
        "work.interior_pairs": interior,
        "work.pixels_covered": pixels,
        "work.tiles_needed": len(tiles),
        "work.vertices": sum(1 for z in inp.query_zones for _ in G.geom_vertices(z["geom"])),
    }
    return counts, live, tiles


def kernel_us(w: WL.Workload, inp: WL.Inputs, live: list, tiles: set, seed: int) -> dict:
    """Median µs per call of each kernel function on the workload's items."""
    fmt = "npy"
    payloads = [
        C.encode_tile(inp.arr[tr * inp.tile:(tr + 1) * inp.tile,
                              tc * inp.tile:(tc + 1) * inp.tile], fmt)
        for tr, tc in _sample(sorted(tiles), seed)
    ]
    pairs = _sample(live, seed)
    blocks = [(inp.arr[r0:r1, c0:c1], rv)
              for _, ((r0, r1), (c0, c1)), rv in pairs]
    points = [
        {"type": "Point", "coordinates": xy}
        for z in inp.query_zones for xy in G.geom_vertices(z["geom"])
    ]
    nd = inp.nodata
    return {
        "kernel.decode_tile_us": _median_us(lambda p: C.decode_tile(p, fmt), payloads),
        "kernel.rasterize_pixgeom_us": _median_us(
            lambda p: K.rasterize_pixgeom(p[0], p[1]), pairs),
        "kernel.partial_stats_us": _median_us(
            lambda b: K.partial_stats(b[0], b[1], nd, False), blocks),
        "kernel.partial_stats_vc_us": _median_us(
            lambda b: K.partial_stats(b[0], b[1], nd, True), blocks),
        "kernel.point_query_one_us": _median_us(
            lambda g: K.point_query_one(g, inp.arr, inp.aff, nodata=nd),
            _sample(points, seed)),
    }


def kernel_seconds(w: WL.Workload, counts: dict, us: dict) -> float:
    """Kernel math one query needs: decodes, plus rasterize and partial per
    pair (zonal) or one point kernel per vertex (point)."""
    s = counts["work.tiles_needed"] * us["kernel.decode_tile_us"]
    if w.kind == "zonal":
        partial = ("kernel.partial_stats_vc_us" if set(w.stats) - set(WL.SCALAR)
                   else "kernel.partial_stats_us")
        s += counts["work.pairs"] * (us["kernel.rasterize_pixgeom_us"] + us[partial])
    else:
        s += counts["work.vertices"] * us["kernel.point_query_one_us"]
    return s / 1e6


def _timed(fn) -> float:
    t = []
    for _ in range(PLANNER_REPS):
        t0 = time.perf_counter()
        fn()
        t.append(time.perf_counter() - t0)
    return statistics.median(t)


def planner_seconds(w: WL.Workload, zones, datasets) -> dict:
    """The planner helpers that zonal_stats_df calls, each on the
    workload's zones (with their dataset column, as the operator adds it)."""
    from pyspark.sql import functions as F

    zones = zones.withColumn("dataset", F.lit(WL.DATASET))
    spark = zones.sparkSession
    meta = Z.collect_dataset_meta(datasets)
    geoms = {
        (r["zone_id"], r["dataset"]): bytes(r["geometry_wkb"])
        for r in zones.select("zone_id", "dataset", "geometry_wkb").collect()
    }
    pad = 1 if w.kind == "point" else 0

    def bc_geoms():
        Z.broadcast_zone_geoms(zones).destroy()

    def bc_cover():
        Z.broadcast_cover_cells(spark, geoms, meta, max_cells_per_zone=4_000_000,
                                raise_beyond_extent=False).destroy()

    def sizing():
        Z.smj_sizing_summary(Z.zone_cell_counts(zones, meta, clip_to_grid=True), meta)

    return {
        "zonal.collect_dataset_meta_s": _timed(lambda: Z.collect_dataset_meta(datasets)),
        "zonal.broadcast_zone_geoms_s": _timed(bc_geoms),
        "zonal.tile_prune_filter_s": _timed(
            lambda: Z.tile_prune_filter(geoms, meta, pad_tiles=pad)),
        "zonal.broadcast_cover_cells_s": _timed(bc_cover),
        "zonal.smj_sizing_s": _timed(sizing),
    }, (geoms, meta, pad)


def scan_admission(w: WL.Workload, tiles_path: str, zones, plan_inputs) -> dict:
    """Row groups and bytes of the tile table that the operator's prune
    predicate admits, from the parquet footer's min/max statistics: a row
    group is admitted when some tile key inside its statistics box passes
    the predicate, which is how min/max filtering treats a disjunction of
    key ranges."""
    import pyarrow.parquet as pq

    geoms, meta, pad = plan_inputs
    if w.broadcast:
        pred = Z.tile_prune_filter(geoms, meta, pad_tiles=pad)
    else:
        from pyspark.sql import functions as F

        zones = zones.withColumn("dataset", F.lit(WL.DATASET))
        pred = Z.smj_sizing_summary(
            Z.zone_cell_counts(zones, meta, clip_to_grid=True), meta)[0]
    md = pq.ParquetFile(tiles_path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    col = {n: names.index(n) for n in ("dataset", "tile_col", "tile_row")}
    keys, sizes = [], []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = {n: rg.column(i).statistics for n, i in col.items()}
        sizes.append(sum(rg.column(i).total_compressed_size
                         for i in range(rg.num_columns)))
        ds = st["dataset"].min
        for tc in range(st["tile_col"].min, st["tile_col"].max + 1):
            for tr in range(st["tile_row"].min, st["tile_row"].max + 1):
                keys.append((g, ds, tc, tr))
    spark = zones.sparkSession
    df = spark.createDataFrame(keys, "rg int, dataset string, tile_col int, tile_row int")
    if pred is not None:
        df = df.filter(pred)
    admitted = [r["rg"] for r in df.select("rg").distinct().collect()]
    return {
        "scan.rowgroups_total": md.num_row_groups,
        "scan.rowgroups_admitted": len(admitted),
        "scan.admitted_mb": sum(sizes[g] for g in admitted) / 1e6,
    }
