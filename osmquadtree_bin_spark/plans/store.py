"""Tiled-store query engine — the geometry server's read path (§3.2, P1+P6).

Reference: the server materializes SQL-queryable tables for one bbox/tile by
a pruned scan of the packed tile store (``pds.Filter``/``FilterTile``,
``osmquadtree-geometry.go:593-635``), pruning tiles against the region first
(``MakePassQt``, :766-777), with a guard rejecting oversized bboxes
(:600-602).

Spark shape: the store is tile-partitioned parquet (Iceberg in production).
``scan_bbox`` computes the pruned tile list on the driver (a numpy pass over
the group keys — the P1 generator) and lists ONLY those ``tile_idx=N``
directories (``StoreReader.read(tiles)``), so building a request's frame
submits no Spark job and its scan reads only the pruned tiles. The
``tile_idx IN (...)`` filter on top keeps the plan's PartitionFilters (and
prunes the whole-store fallback of a store the local fs cannot see). Then
the exact bbox predicate; ``tables_for_bbox`` registers the planet_osm views
over the slice, on which any corpus query runs via ``spark.sql``.
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

    def _read_tiles(self, tiles: list[int]) -> DataFrame:
        """Only the ``tiles`` directories of the store; the partition filter
        keeps the plan's PartitionFilters."""
        return self._store.read(tiles).filter(F.col("tile_idx").isin(tiles))

    def scan_bbox(
        self, minx: int, miny: int, maxx: int, maxy: int, columns: list[str] | None = None
    ) -> DataFrame:
        """P6: pruned + exact-filtered scan of the tiled store."""
        if (maxx - minx) > MAX_BBOX_UNITS or (maxy - miny) > MAX_BBOX_UNITS:
            raise ValueError("bbox too large (reference guard, geometry.go:600-602)")
        tiles = self.pruned_tiles(minx, miny, maxx, maxy)
        df = (
            self._read_tiles(tiles)
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
            self._read_tiles(tiles)
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
        (type,id) sort (O2). ``regions`` is collected once, for the tile
        pruning and the join."""
        from ..operators.pip_join import _pip_join_rows, idset_trim

        # prune tiles PER REGION (a union bbox over scattered regions would
        # cover the world and defeat pruning — and trip the size guard)
        regs = regions.collect()
        tiles: set[int] = set()
        for r in regs:
            if r["minx"] is not None:
                bb = (r["minx"], r["miny"], r["maxx"], r["maxy"])
            else:
                bb = (min(r["lons"]), min(r["lats"]), max(r["lons"]), max(r["lats"]))
            tiles.update(self.pruned_tiles(*(int(v) for v in bb)))
        elements = self._read_tiles(sorted(tiles))
        matched = _pip_join_rows(elements, regs)
        trimmed = idset_trim(elements, matched)
        return trimmed.orderBy("id") if sort_by_id else trimmed
