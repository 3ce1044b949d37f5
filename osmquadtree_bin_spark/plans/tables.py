"""The four virtual tables (SURVEY.md §1.3) + style-driven projection (P5).

Reference: table col lists assembled from the style at
``/root/reference/osmquadtree-geometry.go:859-893``; style format
``extrastyle.json``. The roads view SQL is the reference's verbatim contract
(``osmquadtree-geometry.go:889``), translated through the dialect shims.

Spark shape: one geometry elements DataFrame (from ``spans.explode_geoms``,
optionally tiled) → three projected temp views (point/line/polygon) with the
style tags pivoted to real columns (``element_at(tags, k)`` — Catalyst prunes
unused ones per query) → roads as a Spark SQL view over them.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dialect import translate
from ..functions.zorder import sql_str, way_area_merc, z_order

# Public style-vocabulary fixture (jharris2268/osmquadtree-bin ships it as
# extrastyle.json). A copy lives in tests/fixtures/ so the repo is
# self-contained; SPARK_GRAFT_STYLE_PATH overrides.
STYLE_PATH = os.environ.get(
    "SPARK_GRAFT_STYLE_PATH",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "tests", "fixtures", "extrastyle.json"),
)

# Verbatim from osmquadtree-geometry.go:889, with one fix: the reference's
# polygon branch omits `covered` (12 vs 13 cols) and its lenient sqlselect
# engine tolerated it; ANSI UNION requires matching arity, so we pad
# `null as covered` — semantics unchanged (the column was null-ish anyway).
ROADS_VIEW_SQL = (
    "SELECT osm_id,name,ref,admin_level,highway,railway,boundary, service,"
    "tunnel,bridge,covered,z_order, way FROM planet_osm_line WHERE highway in "
    "( 'secondary','secondary_link','primary','primary_link', 'trunk',"
    "'trunk_link','motorway','motorway_link') OR railway is not null or "
    "boundary = 'administrative' UNION SELECT osm_id,name,null as ref,"
    "admin_level,null as highway, null as railway, boundary, null as service, "
    "null as tunnel,null as bridge, null as covered, 0 as z_order,way "
    "FROM planet_osm_polygon WHERE osm_id<0 and boundary='administrative'"
)


def load_style(path: str = STYLE_PATH) -> list[dict]:
    with open(path) as f:
        return json.load(f)


# The column expressions below are SQL strings: each view is built per
# request over the bbox slice, and a string parses in the JVM where a
# Column tree costs a py4j round trip per node.

# Reference id unpack (``osmquadtree-postgis.go:279-284``): low 40 bits,
# negative for relations (type bits >= 59 == 2).
_OSM_ID = (
    f"CASE WHEN shiftrightunsigned(id, 59) = 2 THEN -(id & {(1 << 40) - 1}) "
    f"ELSE id & {(1 << 40) - 1} END"
)
_AREA_NO = "element_at(tags, 'area') IN ('no', '0', 'false')"

_PH_DEPTH = 12  # grid depth cap for the parent_highway cell join


def _grid_xy(lon_col: str, lat_col: str) -> tuple[str, str]:
    """Fixed-point lon/lat → depth-_PH_DEPTH integer grid coords (equirect
    grid is fine here: the key only buckets, the exact bbox test follows)."""
    n = 1 << _PH_DEPTH

    def cell(c: str, offset: int, extent: int) -> str:
        return (
            f"CAST(greatest(least(floor(({c} + {offset}) / {extent} * {n}), "
            f"{n - 1}), 0) AS BIGINT)"
        )

    return (
        cell(lon_col, 1_800_000_000, 3_600_000_000),
        cell(lat_col, 900_000_000, 1_800_000_000),
    )


def _bitlen(col: str, maxbits: int) -> str:
    """Exact integer bit_length (sum of threshold tests — no float log2,
    whose last-ulp rounding could silently skip grid cells)."""
    return " + ".join(
        f"(CASE WHEN {col} >= {1 << k} THEN 1 ELSE 0 END)" for k in range(maxbits)
    )


def _parent_highway(pts: DataFrame, hwy_lines: DataFrame) -> DataFrame:
    """A6 calc_parent as a CELL EQUI-JOIN (scales; no broadcast, no theta).

    Each highway line picks the deepest grid depth at which its bbox covers
    <= 2 cells per axis (capped at _PH_DEPTH) and explodes into those <= 4
    cells; each point explodes into its ancestor cells at every depth
    0.._PH_DEPTH. Hash-join on the packed (depth, cx, cy) key, then the exact
    bbox predicate, then min_by. Complete: a point inside a line's bbox
    shares its ancestor cell at the line's chosen depth with one of the
    line's covered cells. Skew-safe: nearly all lines land at full depth, so
    shallow-depth point keys meet only the few continent-sized lines.
    """
    D = _PH_DEPTH
    x0, y0 = _grid_xy("lminx", "lminy")
    x1, y1 = _grid_xy("lmaxx", "lmaxy")
    lines_k = (
        hwy_lines.selectExpr(
            "*", f"{x0} AS _x0", f"{y0} AS _y0", f"{x1} AS _x1", f"{y1} AS _y1"
        )
        # common-prefix depth per axis -> deepest depth with <= 2 cells/axis
        .selectExpr(
            "*",
            f"least({D} - ({_bitlen('(_x0 ^ _x1)', D)}) + 1, "
            f"least({D} - ({_bitlen('(_y0 ^ _y1)', D)}) + 1, {D})) AS _d",
        )
        .selectExpr(
            "*",
            f"explode(array_distinct(array("
            f"shiftleft(CAST(_d AS BIGINT), 40) | shiftleft(shiftright(_x0, {D} - _d), 20) | shiftright(_y0, {D} - _d),"
            f"shiftleft(CAST(_d AS BIGINT), 40) | shiftleft(shiftright(_x1, {D} - _d), 20) | shiftright(_y0, {D} - _d),"
            f"shiftleft(CAST(_d AS BIGINT), 40) | shiftleft(shiftright(_x0, {D} - _d), 20) | shiftright(_y1, {D} - _d),"
            f"shiftleft(CAST(_d AS BIGINT), 40) | shiftleft(shiftright(_x1, {D} - _d), 20) | shiftright(_y1, {D} - _d)))) AS _ck",
        )
        .drop("_x0", "_y0", "_x1", "_y1", "_d")
    )
    px, py = _grid_xy("minx", "miny")
    pts_k = (
        pts.selectExpr("id", "minx", "miny", f"{px} AS _px", f"{py} AS _py")
        .selectExpr(
            "*",
            f"explode(transform(sequence(0, {D}), a -> "
            f"shiftleft(CAST(a AS BIGINT), 40) | "
            f"shiftleft(shiftright(_px, {D} - a), 20) | shiftright(_py, {D} - a))) AS _ck",
        )
        .drop("_px", "_py")
    )
    return (
        pts_k.join(lines_k, "_ck")
        .filter("minx >= lminx AND minx <= lmaxx AND miny >= lminy AND miny <= lmaxy")
        .groupBy("id")
        .agg(F.expr("min_by(l_highway, l_osm_id) AS parent_highway"))
    )


def register_tables(
    spark: SparkSession,
    elements: DataFrame,
    style_path: str = STYLE_PATH,
    parent_highway: bool = True,
    relations: DataFrame | None = None,
    ways: DataFrame | None = None,
    nodes: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Create temp views planet_osm_point / line / polygon / roads.

    Geometry routing: our doc model declares geometry type per span
    (POINT/LINESTRING/POLYGON), so the point table takes geom_type 0, line 1,
    polygon 2 — with the reference's IsPoly='maybe' area-tag override: a
    POLYGON span tagged ``area=no`` lands in the line table instead
    (``extrastyle.json:9``, IsPoly maybe semantics).

    When ``relations``/``ways``/``nodes`` are given, multipolygon-relation
    geometries (rel_wkt — ``geometry.Multi``) are assembled and unioned into
    planet_osm_polygon with NEGATIVE osm_ids and member-LCA quadtrees, the
    reference's relation-row convention (``osmquadtree-postgis.go:279-284``
    id sign, ``:265-274`` GeometryType 7 rows).
    """
    style = load_style(style_path)
    node_tags = [s["Tag"] for s in style if s.get("IsNode") and s["Type"] == "text"]
    way_tags = [s["Tag"] for s in style if s.get("IsWay") and s["Type"] == "text"]

    def proj(tags: list[str]) -> list[str]:
        # SQL strings for one selectExpr: ~200 style columns parse in the JVM
        # instead of costing a few py4j round trips each
        return [
            f"element_at(tags, {sql_str(t)}) AS `{t.replace('`', '``')}`"
            for t in sorted(set(tags))
        ]

    base = elements.withColumns(
        {"osm_id": F.expr(_OSM_ID), "quadtree": F.col("qt"), "way": F.col("wkt")}
    )

    # A6 calc_parent (extrastyle.json:73): a point inherits the highway value
    # of a containing way — doc-model analogue: highway of the smallest-id
    # LINESTRING whose bbox contains the point center. Cell equi-join (see
    # _parent_highway) — never a broadcast nested-loop theta join. Built only
    # when `parent_highway=True`: the left join would survive in every plan
    # over planet_osm_point even when the column is never projected (Catalyst
    # cannot eliminate an outer join without unique-key metadata), so callers
    # whose query set never touches the column can skip it outright.
    pts = base.filter("geom_type = 0")
    if parent_highway:
        hwy_lines = base.filter(
            "geom_type = 1 AND element_at(tags, 'highway') IS NOT NULL"
        ).selectExpr(
            "minx AS lminx", "miny AS lminy", "maxx AS lmaxx", "maxy AS lmaxy",
            "osm_id AS l_osm_id", "element_at(tags, 'highway') AS l_highway",
        )
        parent = _parent_highway(pts, hwy_lines)
        point = pts.join(parent, "id", "left").selectExpr(
            "osm_id", "quadtree", "way", "parent_highway", *proj(node_tags)
        )
    else:
        point = pts.selectExpr(
            "osm_id", "quadtree", "way",
            "CAST(NULL AS STRING) AS parent_highway", *proj(node_tags)
        )
    line = (
        base.filter(f"geom_type = 1 OR (geom_type = 2 AND {_AREA_NO})")
        .withColumn("z_order", z_order())
        .selectExpr("osm_id", "quadtree", "way", "z_order", *proj(way_tags))
    )
    polygon = (
        base.filter(f"geom_type = 2 AND NOT coalesce({_AREA_NO}, false)")
        .withColumn("z_order", z_order())
        .withColumn("way_area", way_area_merc(F.col("wkt")))
        .selectExpr("osm_id", "quadtree", "way", "z_order", "way_area", *proj(way_tags))
    )
    if relations is not None:
        from ..operators.element_joins import (
            node_qts,
            rel_wkt,
            relation_qts,
            way_qts,
        )

        rq = relation_qts(relations, node_qts(nodes), way_qts(ways, nodes))
        mp = rel_wkt(relations, ways, nodes).filter(F.col("wkt").isNotNull())
        rel_tags = (
            relations.select("id", "tags")
            if "tags" in relations.columns
            else relations.select(
                "id", F.lit(None).cast("map<string,string>").alias("tags")
            )
        )
        mp_rows = (
            mp.join(rel_tags, "id", "left")
            .join(rq.withColumnRenamed("qt", "quadtree"), "id", "left")
            .withColumn("z_order", z_order())
            .withColumn("way_area", way_area_merc(F.col("wkt")))
            .selectExpr(
                "-id AS osm_id",  # relation rows: negative ids
                "coalesce(quadtree, 0) AS quadtree",
                "wkt AS way",
                "z_order",
                "way_area",
                *proj(way_tags),
            )
        )
        polygon = polygon.unionByName(mp_rows)

    point.createOrReplaceTempView("planet_osm_point")
    line.createOrReplaceTempView("planet_osm_line")
    polygon.createOrReplaceTempView("planet_osm_polygon")
    roads = spark.sql(translate(ROADS_VIEW_SQL))
    roads.createOrReplaceTempView("planet_osm_roads")
    return {
        "planet_osm_point": point,
        "planet_osm_line": line,
        "planet_osm_polygon": polygon,
        "planet_osm_roads": roads,
    }
