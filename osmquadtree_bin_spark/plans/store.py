"""Tiled-store query engine — the geometry server's read path (§3.2, P1+P6).

Reference: the server materializes SQL-queryable tables for one bbox/tile by
a pruned scan of the packed tile store (``pds.Filter``/``FilterTile``,
``osmquadtree-geometry.go:593-635``), pruning tiles against the region first
(``MakePassQt``, :766-777), with a guard rejecting oversized bboxes
(:600-602).

Spark shape: the store is tile-partitioned parquet (Iceberg in production).
``query_bbox`` computes the pruned tile list on the driver (a numpy pass over
the group keys — the P1 generator), filters with ``tile_idx IN (...)`` so the
scan reads ONLY those hive partitions (verify with
``.explain`` → PartitionFilters), applies the exact bbox predicate, registers
the planet_osm views over the slice, and hands back a dict of DataFrames —
on which any corpus query runs via ``spark.sql``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..footers import StoreReader
from ..operators.pip_join import region_tiles
from .tables import register_tables

MAX_BBOX_UNITS = 200_000_000  # reference guard: reject bboxes > 20M units (×10 margin)


class TileQueryEngine:
    def __init__(self, spark: SparkSession, store_path: str, groups: pd.DataFrame):
        self.spark = spark
        self.store_path = store_path
        self.groups = groups
        self._store = StoreReader(spark, store_path)

    def pruned_tiles(self, minx: int, miny: int, maxx: int, maxy: int) -> list[int]:
        """P1 generator: tile_idx list whose buffered tile bounds intersect."""
        keys = self.groups["tile_qt"].to_numpy(np.int64)
        hit_keys = region_tiles(minx, miny, maxx, maxy, keys, buffer=0.05)
        sel = self.groups[self.groups["tile_qt"].isin(hit_keys)]
        return [int(t) for t in sel["tile_idx"]]

    def scan_bbox(
        self, minx: int, miny: int, maxx: int, maxy: int, columns: list[str] | None = None
    ) -> DataFrame:
        """P6: pruned + exact-filtered scan of the tiled store."""
        if (maxx - minx) > MAX_BBOX_UNITS or (maxy - miny) > MAX_BBOX_UNITS:
            raise ValueError("bbox too large (reference guard, geometry.go:600-602)")
        tiles = self.pruned_tiles(minx, miny, maxx, maxy)
        df = (
            self._store.read()
            .filter(F.col("tile_idx").isin(tiles))  # → hive partition pruning
            .filter(
                (F.col("minx") <= maxx) & (F.col("maxx") >= minx)
                & (F.col("miny") <= maxy) & (F.col("maxy") >= miny)
            )
        )
        return df.select(*columns) if columns else df

    def tables_for_bbox(self, minx: int, miny: int, maxx: int, maxy: int):
        """Register planet_osm views over the bbox slice; returns the dict."""
        return register_tables(self.spark, self.scan_bbox(minx, miny, maxx, maxy))

    def sql(self, query: str, bbox: tuple[int, int, int, int]) -> DataFrame:
        from ..functions.dialect import translate

        self.tables_for_bbox(*bbox)
        return self.spark.sql(translate(query))

    def rawtile(self, tx: int, ty: int, tz: int) -> DataFrame:
        """J8 raw-tile fetch (``tq.rawtile``, ``osmquadtree-geometry.go:283-314``):
        every stored element whose qt is a descendant-or-equal of the raster
        cell — tile partitions pruned first, then the rounded-key equi-filter."""
        import numpy as np

        from .. import quadtree as qtk
        from ..tiling import qt_round_expr

        req = int(qtk.from_tuple(np.array([tx]), np.array([ty]), np.array([tz]))[0])
        minx, miny, maxx, maxy = (int(v[0]) for v in qtk.bounds(np.array([req]), 0.05))
        tiles = self.pruned_tiles(minx, miny, maxx, maxy)
        return (
            self._store.read()
            .filter(F.col("tile_idx").isin(tiles))
            .filter((F.col("qt").bitwiseAND(F.lit(31))) >= tz)
            .filter(qt_round_expr("qt", tz) == req)
        )

    def extract(
        self,
        regions: DataFrame,
        sort_by_id: bool = True,
    ) -> DataFrame:
        """The osmquadtree-filter extract (§3, ``osmquadtree-filter.go:122-225``):
        PIP-match elements against regions, two-pass id-set trim (P4), global
        (type,id) sort (O2)."""
        from ..operators.pip_join import idset_trim, pip_join

        # prune tiles PER REGION (a union bbox over scattered regions would
        # cover the world and defeat pruning — and trip the size guard)
        tiles: set[int] = set()
        for r in regions.collect():
            if r["minx"] is not None:
                bb = (r["minx"], r["miny"], r["maxx"], r["maxy"])
            else:
                bb = (min(r["lons"]), min(r["lats"]), max(r["lons"]), max(r["lats"]))
            tiles.update(self.pruned_tiles(*(int(v) for v in bb)))
        elements = self._store.read().filter(
            F.col("tile_idx").isin(sorted(tiles))
        )
        matched = pip_join(elements, regions)
        trimmed = idset_trim(elements, matched)
        return trimmed.orderBy("id") if sort_by_id else trimmed
