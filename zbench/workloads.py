"""Workload definitions: inputs from the seed, the query, the oracle check
and the exact work counts.

Inputs come from the program's own bench-corpus generator
(``fixtures.build_bench_corpus``) with the run's seed. Generation is
untimed: the generator's call to ``fixtures.write_corpus`` is captured, so
the benchmark holds the raster and zones in memory and times the write
itself as ingestion.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

from python_rasterstats_spark import fixtures
from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K

from . import oracle

SCALAR = ("count", "min", "max", "mean", "sum", "std")
ALL_STATS = SCALAR + (
    "median", "majority", "minority", "unique", "range",
    "percentile_25", "percentile_90",
)
DATASET = "bench"


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "zonal" or "point"
    sf: str
    stats: tuple = ()
    broadcast: bool = True
    small_boxes: int | None = None  # the N small boxes with lowest zone_id
    warmup: int = 1  # untimed queries before measuring, the first one cold


WORKLOADS = {
    w.name: w
    for w in (
        Workload("zonal_scalar", "zonal", "sf0.1", SCALAR, broadcast=True, warmup=2),
        Workload("point_query", "point", "sf0.1", small_boxes=500, warmup=3),
        Workload("zonal_smj_holistic", "zonal", "sf0.01", ALL_STATS, broadcast=False,
                 warmup=1),
    )
}


@dataclass
class Inputs:
    arr: np.ndarray
    aff: tuple
    nodata: float
    tile: int
    arrays: dict
    zones: list  # every zone written to the corpus
    query_zones: list  # the zones the workload queries


def generate(w: Workload, seed: int, scratch_dir: str) -> Inputs:
    """The seed's raster and zones from the program's generator, without
    writing the corpus."""
    captured = {}

    def capture(outdir, arrays=None, zones=None, tile=fixtures.TILE):
        captured.update(arrays=arrays, zones=zones, tile=tile)

    os.makedirs(scratch_dir, exist_ok=True)  # the generator writes its meta file
    real = fixtures.write_corpus
    fixtures.write_corpus = capture
    try:
        fixtures.build_bench_corpus(scratch_dir, w.sf, seed=seed)
    finally:
        fixtures.write_corpus = real
    arr, aff, nodata, _ = captured["arrays"][DATASET]
    zones = captured["zones"]
    query_zones = zones
    if w.small_boxes is not None:
        small = sorted((z for z in zones if z["collection"] == "small"),
                       key=lambda z: z["zone_id"])
        query_zones = small[: w.small_boxes]
    return Inputs(arr, aff, nodata, captured["tile"], captured["arrays"],
                  zones, query_zones)


def ingest(inp: Inputs, corpus_dir: str) -> None:
    fixtures.write_corpus(corpus_dir, inp.arrays, inp.zones, tile=inp.tile)


def query_zones_df(w: Workload, inp: Inputs, zones_df):
    if w.small_boxes is None:
        return zones_df
    from pyspark.sql import functions as F

    ids = [z["zone_id"] for z in inp.query_zones]
    # the generator numbers small boxes first, so the N lowest are a range
    if ids != list(range(ids[0], ids[0] + len(ids))):
        raise ValueError("query zone ids are not one contiguous range")
    return zones_df.filter(F.col("zone_id").between(ids[0], ids[-1]))


def build_query(w: Workload, zones, tiles, datasets):
    """The operator call whose time is plan time; returns the DataFrame."""
    if w.kind == "zonal":
        from python_rasterstats_spark.operators.zonal import zonal_stats_df

        return zonal_stats_df(zones, tiles, datasets, dataset=DATASET,
                              stats=list(w.stats), broadcast_zones=w.broadcast)
    from python_rasterstats_spark.operators.point import point_query_df

    return point_query_df(zones, tiles, datasets, dataset=DATASET,
                          interpolate="bilinear")


def expected(w: Workload, inp: Inputs) -> dict:
    if w.kind == "zonal":
        return oracle.zonal_expected(inp.query_zones, inp.arr, inp.aff,
                                     inp.nodata, w.stats)
    return oracle.point_expected(inp.query_zones, inp.arr, inp.aff, inp.nodata)


def check(w: Workload, rows, exp: dict) -> dict:
    if w.kind == "zonal":
        return oracle.compare_zonal(rows, exp, w.stats)
    return oracle.compare_point(rows, exp)


def zone_pairs(inp: Inputs):
    """(zone, pixel geometry, zone window, tile_row, tile_col) for every
    (zone, tile) pair of the bbox cover, as the engine's cover cells."""
    h, w = inp.arr.shape
    ntr, ntc = math.ceil(h / inp.tile), math.ceil(w / inp.tile)
    for z in inp.query_zones:
        win = K.bounds_window(G.geom_bounds(z["geom"]), inp.aff)
        (r0, r1), (c0, c1) = win
        tr0, tr1 = max(r0 // inp.tile, 0), min((r1 - 1) // inp.tile, ntr - 1)
        tc0, tc1 = max(c0 // inp.tile, 0), min((c1 - 1) // inp.tile, ntc - 1)
        pgeom = K.geom_to_pixel(z["geom"], inp.aff)
        for tr in range(tr0, tr1 + 1):
            for tc in range(tc0, tc1 + 1):
                yield z, pgeom, win, tr, tc


def pair_region(win, tr: int, tc: int, tile: int):
    """Zone window ∩ tile extent, as the kernel driver rasterizes it."""
    (wr0, wr1), (wc0, wc1) = win
    rr0, rr1 = max(wr0, tr * tile), min(wr1, (tr + 1) * tile)
    cc0, cc1 = max(wc0, tc * tile), min(wc1, (tc + 1) * tile)
    if rr0 >= rr1 or cc0 >= cc1:
        return None
    return ((rr0, rr1), (cc0, cc1))


def vertex_tiles(inp: Inputs) -> set:
    """Tiles holding a pixel that a bilinear vertex window reads."""
    tiles = set()
    h, w = inp.arr.shape
    for z in inp.query_zones:
        for x, y in G.geom_vertices(z["geom"]):
            ((r0, r1), (c0, c1)), _ = K.point_window_unitxy(x, y, inp.aff)
            for r in range(max(r0, 0), min(r1, h)):
                for c in range(max(c0, 0), min(c1, w)):
                    tiles.add((r // inp.tile, c // inp.tile))
    return tiles


def corpus_dir(work_dir: str, rep: int) -> str:
    return os.path.join(work_dir, f"corpus{rep}")
