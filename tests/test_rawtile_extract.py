"""TileQueryEngine.rawtile (J8 over the store) and the extract path (§3 filter)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_bin_spark import quadtree as qtk
from osmquadtree_bin_spark.datagen import gen_regions
from osmquadtree_bin_spark.plans.store import TileQueryEngine
from osmquadtree_bin_spark.spans import explode_geoms
from osmquadtree_bin_spark.tiling import tiling_pipeline, write_tiled


@pytest.fixture(scope="module")
def engine(spark, docs, tmp_path_factory):
    assigned, counts, groups = tiling_pipeline(docs, target=200, minimum=100)
    path = str(tmp_path_factory.mktemp("store") / "tiles")
    write_tiled(assigned, path)
    return TileQueryEngine(spark, path, groups)


def test_rawtile_matches_oracle(spark, docs, engine):
    el = explode_geoms(docs).toPandas()
    # a zoom-10 cell over the London cluster
    key = qtk.point_quadtree(np.array([int(-0.13e7)]), np.array([int(51.5e7)]), 10)
    tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(key))
    got = set(engine.rawtile(tx, ty, tz).toPandas()["id"])
    deep = el[(el.qt & 31) >= tz]
    want = set(deep.id[qtk.round_to(deep.qt.to_numpy(np.int64), tz) == int(key[0])])
    assert got == want
    assert got, "expected a nonempty hot tile"


def test_extract_sorted_and_trimmed(spark, engine):
    regions = gen_regions(spark)
    res = engine.extract(regions)
    pdf = res.toPandas()
    assert len(pdf) > 0
    assert (np.diff(pdf["id"].to_numpy()) >= 0).all()  # O2 global id sort
    assert pdf["id"].is_unique  # P4 trim dedups multi-region matches


# More tile directories than Spark lists on the driver: above
# spark.sql.sources.parallelPartitionDiscovery.threshold (32) a listing of
# the whole store is a Spark job of its own.
LONDON = (-4_500_000, 510_000_000, 2_500_000, 520_000_000)
OCEAN = (int(-140e7), int(-45e7), int(-139e7), int(-44e7))


@pytest.fixture(scope="module")
def wide(spark, docs, tmp_path_factory):
    """A store of 33+ tiles over Europe: the European elements tiled at a
    small target, the root group (depth 0, the whole world) left out, so a
    bbox over the Pacific prunes to no tile at all."""
    import glob

    from osmquadtree_bin_spark.tiling import assign_tiles, count_tree, find_groups

    elements = explode_geoms(docs).filter(
        (F.col("minx") > -10e7) & (F.col("maxx") < 30e7)
        & (F.col("miny") > 35e7) & (F.col("maxy") < 70e7)
    )
    counts = count_tree(elements)
    groups = find_groups(
        counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64), 20, 10
    )
    deep = groups[(groups["tile_qt"] & 31) > 0].reset_index(drop=True)
    assigned = assign_tiles(elements, groups, counts=counts)
    path = str(tmp_path_factory.mktemp("wide") / "tiles")
    write_tiled(assigned.filter(F.col("tile_idx").isin(deep["tile_idx"].tolist())), path)
    assert len(glob.glob(path + "/tile_idx=*")) > 32
    return TileQueryEngine(spark, path, deep)


def _in_group(spark, group, fn):
    """Run ``fn`` under a Spark job group: (ids of the jobs it submitted,
    its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


def _python_rdd_stages(spark, job_ids):
    """Stages of ``job_ids`` whose RDD graph holds a PythonRDD: their tasks
    run in Python workers."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    return [
        s
        for j in job_ids
        for s in sc.statusTracker().getJobInfo(j).stageIds
        if "PythonRDD [" in dot(store.operationGraphForStage(s))
    ]


def test_request_frames_submit_no_job(spark, wide):
    """Building a request's frame lists only its pruned tile directories:
    no listing job over the whole store, and /extract's region frame is
    read on the driver without a job."""
    from osmquadtree_bin_spark.server import TileServer

    key = qtk.point_quadtree(np.array([int(-0.13e7)]), np.array([int(51.5e7)]), 10)
    tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(key))
    assert 0 < len(wide.pruned_tiles(*LONDON)) <= 32
    ts = TileServer(wide)
    for name, build in [
        ("bbox", lambda: wide.scan_bbox(*LONDON)),
        ("tile", lambda: wide.rawtile(tx, ty, tz)),
        ("extract", lambda: ts._extract_df(*LONDON)),
    ]:
        jobs, df = _in_group(spark, f"test-build-{name}", build)
        assert jobs == [], (name, jobs)
        assert df.count() > 0, name


def test_extract_runs_no_python_rdd_task(spark, wide):
    """The /extract request's jobs are JVM-only: its region frame is an
    Arrow-built local table, not a pickled Python RDD."""
    from osmquadtree_bin_spark.server import TileServer

    jobs, body = _in_group(
        spark, "test-extract-python", lambda: TileServer(wide).page_extract(*LONDON)
    )
    assert jobs and json.loads(body)["features"]
    assert _python_rdd_stages(spark, jobs) == []


def test_bbox_outside_every_tile_reads_nothing(spark, wide):
    """A bbox no tile covers reads an empty frame of the store's schema:
    no listing job while it is built, no rows."""
    assert wide.pruned_tiles(*OCEAN) == []
    jobs, df = _in_group(spark, "test-build-empty", lambda: wide.scan_bbox(*OCEAN))
    assert jobs == []
    assert df.collect() == []
    assert df.columns == wide.scan_bbox(*LONDON).columns
