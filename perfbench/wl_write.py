"""``write`` workload: the prepare job, then incremental diffs on its output.

The batch op is one prepare pass, timed as the first pass of the session
(a spark-submit job meets the same): ``jobs.prepare_job.prepare_pipeline``
(parse_qt → count_tree → find_groups → assign_write_tiled → lineage)
followed by ``operators.pip_join.pip_join`` over the slim elements against
the default ``datagen.gen_regions`` — the pass ``tools/bench_scaling.py``
times, so its rows are (elements + pip rows).  Set-up stages the seeded
doc set to parquet.  The pass writes a fresh work directory, whose store
has an empty ledger, so no diff state is skipped.

The requests then apply diffs to that store through
``streaming.update.TiledStore.apply_diff``, each followed by a bbox read of
a touched region through ``plans.store.TileQueryEngine.scan_bbox``; one
request op is one diff plus its read.  A group applies states local, local,
wide, local.  Local diffs change 2–6 rows of one tile; wide diffs sample
rows across all tiles.  Each row is modified in place (bbox nudged, same
cell), moved to another stored element's position (retiled with
``assign_tiles``) or deleted.  The first diff of a session is cold;
``request_p50_ms`` sits among the warm ones.  Spans, tiling and pip do the
batch work; update and the store's read path serve the requests; the server
and the query-suite operators are idle.

Checks.  The pass: lineage rows equal expected_rows for every tile and sum
to n_elements; the overflow tile is empty; per-tile rows equal the driver
rollup ``make_tile_assigner(groups)(cells)``; the pip row count equals a
numpy brute force over the slim elements.  Each diff, against a pandas
mirror of the store: the touched tiles are the diff's new and old tiles;
per-tile row counts from the parquet footers equal the mirror's (row
totals right, moved rows in their new tile and gone from the old); the
ledger's rows_out for the state match the footer counts; and the read
after the write returns exactly the mirror's rows in the bbox.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

import checks
from harness import CheckFailed, Op, dir_bytes, median

N_DOCS = {"full": 8_000, "tiny": 600}
DOC_PARTS = 8  # fixed staged file count, whatever the core count
TARGET, MINIMUM = 8000, 4000  # the shipped job's defaults
PHASES = ("parse_qt", "count_tree", "find_groups", "assign_write_tiled", "lineage")

WIDE_FRACTION = 0.004
PATTERN = ("diff_local", "diff_local", "diff_wide", "diff_local")
COLS = ["id", "qt", "minx", "miny", "maxx", "maxy", "geom_type"]
READ_HALF = 300_000  # read bbox half-size around a changed row


# ------------------------------------------------------------------ set-up
def setup(ctx, i: int) -> dict:
    from osmquadtree_bin_spark.datagen import gen_docs_dist, gen_regions, region_rows

    spark = ctx.spark
    d = os.path.join(ctx.run_dir, f"prepare{i}")
    docs_path = os.path.join(d, "docs")
    gen_docs_dist(
        spark, N_DOCS[ctx.size], seed=ctx.seed, partitions=DOC_PARTS
    ).write.parquet(docs_path)
    if i:
        shutil.rmtree(os.path.join(ctx.run_dir, f"prepare{i - 1}"))
    return {
        "dir": d,
        "docs": spark.read.parquet(docs_path),
        # the generator's default regions, as tools/bench_scaling.py uses,
        # so a pass's rows vary with the seeded docs only
        "regions": gen_regions(spark),
        "region_rows": region_rows(),
        "rng": np.random.default_rng(ctx.seed),
        "touched": {"diff_local": [], "diff_wide": []},
        "rewritten": [],
        "scan": [],
    }


# ------------------------------------------------------------ prepare pass
def _pass(ctx, st) -> dict:
    from pyspark.sql import functions as F

    from jobs.prepare_job import prepare_pipeline
    from osmquadtree_bin_spark.operators.pip_join import pip_join

    spark = ctx.spark
    work = os.path.join(st["dir"], "pass")
    with ctx.tracer.span("prepare_pipeline"):
        stages, arts = prepare_pipeline(
            spark, st["docs"], work, target=TARGET, minimum=MINIMUM
        )
    # lineage columns from the packed id, as tools/bench_scaling.py does:
    # the slim table carries no strings
    slim = spark.read.parquet(arts["elements_path"])
    seq = F.col("id").bitwiseAND(F.lit((1 << 40) - 1))
    elements = slim.withColumn(
        "doc_id", F.format_string("doc_%08d", (seq / 64).cast("long"))
    ).withColumn("span_idx", (seq % 64).cast("int"))
    with ctx.tracer.span("pip"):
        n_pip = pip_join(elements, st["regions"]).count()
    return {"stages": stages, "arts": arts, "n_pip": n_pip, "work": work}


def _verify_pass(st, res) -> int:
    arts = res["arts"]
    st["pass"] = res
    checks.prepare_lineage(arts)
    want_pip = checks.pip_bruteforce(arts["elements_path"], st["region_rows"])
    if res["n_pip"] != want_pip:
        raise CheckFailed(f"pip rows {res['n_pip']} != brute force {want_pip}")
    return int(arts["n_elements"]) + int(res["n_pip"])


def batch(ctx, st) -> list[Op]:
    return [Op("prepare", "batch", lambda: _pass(ctx, st), lambda r: _verify_pass(st, r))]


# ------------------------------------------------------------------ update
def _bind(ctx, st) -> None:
    """Point the diffs at the store the prepare pass wrote."""
    from osmquadtree_bin_spark.plans.store import TileQueryEngine
    from osmquadtree_bin_spark.streaming.update import TiledStore

    res = st["pass"]
    st["store"] = TiledStore(ctx.spark, res["work"])
    st["groups"] = groups = res["arts"]["groups"]
    st["engine"] = TileQueryEngine(ctx.spark, st["store"].data_path, groups)
    st["mirror"] = checks.read_parquet_dir(st["store"].data_path, COLS).set_index("id")
    st["state"] = 0


def _make_diff(st, kind: str) -> tuple[pd.DataFrame, tuple]:
    rng, m = st["rng"], st["mirror"]
    if kind == "diff_local":
        tile = m["tile_idx"].iloc[rng.integers(0, len(m))]
        pool = m.index[m["tile_idx"] == tile].to_numpy()
        ids = rng.choice(pool, size=min(len(pool), int(rng.integers(2, 7))), replace=False)
    else:
        ids = rng.choice(m.index.to_numpy(), size=max(2, int(len(m) * WIDE_FRACTION)), replace=False)
    rows = m.loc[ids].reset_index()
    what = rng.choice(["modify", "move", "delete"], size=len(rows), p=[0.6, 0.25, 0.15])
    rows["changetype"] = np.where(what == "delete", "delete", "modify")
    mod = what == "modify"
    rows.loc[mod, "minx"] += 1
    rows.loc[mod, "maxx"] += 1
    mv = np.nonzero(what == "move")[0]
    if len(mv):
        src = m.iloc[rng.integers(0, len(m), len(mv))]
        for c in ("qt", "minx", "miny", "maxx", "maxy"):
            rows.loc[mv, c] = src[c].to_numpy()
    rows["version"] = st["state"] + 1
    # the read that follows looks around the first changed row
    cx, cy = int(rows["minx"].iloc[0]), int(rows["miny"].iloc[0])
    bbox = (cx - READ_HALF, cy - READ_HALF, cx + READ_HALF, cy + READ_HALF)
    return rows[COLS + ["changetype", "version"]], bbox


def _apply_and_read(ctx, st, rows: pd.DataFrame, bbox):
    from pyspark.sql import functions as F

    from osmquadtree_bin_spark.tiling import assign_tiles

    spark = ctx.spark
    st["state"] += 1
    with ctx.tracer.span("apply_diff"):
        df = spark.createDataFrame(
            rows.astype({c: "int64" for c in ("id", "qt", "version")}),
            "id long, qt long, minx int, miny int, maxx int, maxy int, "
            "geom_type tinyint, changetype string, version long",
        )
        diff = (
            assign_tiles(df, st["groups"])
            .drop("tile_qt")
            .withColumn("tile_idx", F.col("tile_idx").cast("int"))
        )
        touched = st["store"].apply_diff(diff, st["state"])
    with ctx.tracer.span("update_read"):
        got = st["engine"].scan_bbox(*bbox).select(*COLS).toPandas()
    return touched, got


def _verify_diff(st, kind, rows, bbox, old_tiles, result) -> int:
    from osmquadtree_bin_spark.footers import tile_rows_from_footers
    from osmquadtree_bin_spark.tiling import make_tile_assigner

    touched, got = result
    m = st["mirror"]
    new_tile = make_tile_assigner(st["groups"])(rows["qt"].to_numpy(np.int64))
    keep = rows["changetype"].to_numpy() != "delete"
    upd = rows[keep].set_index("id")[COLS[1:]].assign(tile_idx=new_tile[keep])
    st["mirror"] = m = pd.concat([m.drop(rows["id"]), upd.astype(m.dtypes.to_dict())])
    want_touched = set(new_tile.tolist()) | set(old_tiles.tolist())
    if set(touched) != want_touched:
        raise CheckFailed(f"touched {sorted(touched)} != {sorted(want_touched)}")
    footer = tile_rows_from_footers(st["store"].data_path)
    want = m.groupby("tile_idx").size().to_dict()
    if footer != want:
        bad = sorted(t for t in set(footer) | set(want) if footer.get(t) != want.get(t))
        raise CheckFailed(f"per-tile rows differ from the mirror in tiles {bad}")
    led = checks.read_parquet_dir(st["store"].ledger_path)
    led = led[led["state"] == st["state"]]
    if set(led["tile_idx"]) != set(touched) or any(
        r.rows_out != footer.get(r.tile_idx, 0) for r in led.itertuples()
    ):
        raise CheckFailed(f"ledger rows_out of state {st['state']} != footer counts")
    mnx, mny, mxx, mxy = bbox
    hit = m[(m["minx"] <= mxx) & (m["maxx"] >= mnx) & (m["miny"] <= mxy) & (m["maxy"] >= mny)]
    want_rows = hit.reset_index()[COLS].sort_values("id").reset_index(drop=True)
    got = got.sort_values("id").reset_index(drop=True).astype(want_rows.dtypes.to_dict())
    if not got.equals(want_rows):
        raise CheckFailed(
            f"read after state {st['state']}: {len(got)} rows, mirror has {len(want_rows)}"
        )
    st["touched"][kind].append(len(touched))
    st["rewritten"].append((int(led["rows_out"].sum()), len(rows)))
    tiles = st["engine"].pruned_tiles(*bbox)
    st["scan"].append((len(tiles), sum(want.get(t, 0) for t in tiles), max(len(got), 1)))
    return len(rows) + len(got)


def _diff_ops(ctx, st):
    """One group of diffs, each drawn from the mirror as the previous one
    left it."""
    for kind in PATTERN:
        rows, bbox = _make_diff(st, kind)
        old_tiles = st["mirror"].loc[rows["id"], "tile_idx"].to_numpy()
        yield Op(
            kind, "request",
            lambda rows=rows, bbox=bbox: _apply_and_read(ctx, st, rows, bbox),
            lambda r, kind=kind, rows=rows, bbox=bbox, old=old_tiles: _verify_diff(
                st, kind, rows, bbox, old, r
            ),
        )


def requests(ctx, st):
    _bind(ctx, st)
    while True:
        yield _diff_ops(ctx, st)


# ----------------------------------------------------------------- metrics
def layer_metrics(ctx, st, records) -> tuple[dict, dict]:
    """Count-tree and group counts, pip rows, the prepare phases and pip as
    shares of the pass wall; update and store counters over the diffs."""
    res = st["pass"]
    arts, stages = res["arts"], res["stages"]
    cells = arts["counts"]["cell"].to_numpy(np.int64)
    data = st["store"].data_path
    tiles = [d for d in os.listdir(data) if d.startswith("tile_idx=")]
    files = sum(
        len([f for f in os.listdir(os.path.join(data, d)) if f.endswith(".parquet")])
        for d in tiles
    )
    rw, scan = st["rewritten"], st["scan"]
    out = {
        "tiling.count_tree.cells": len(cells),
        "tiling.count_tree.level": int((cells & 31).max()),
        "tiling.groups": len(arts["groups"]),
        "pip.rows_out": int(res["n_pip"]),
        "update.touched_tiles_local": median(st["touched"]["diff_local"]),
        "update.touched_tiles_wide": median(st["touched"]["diff_wide"]),
        "update.rows_rewritten_per_changed_row": sum(a for a, _ in rw) / max(sum(b for _, b in rw), 1),
        "update.files_per_tile": files / max(len(tiles), 1),
        "store.bytes_per_element": dir_bytes(data) / len(st["mirror"]),
        "store.tiles_read_frac": float(np.mean([t for t, _, _ in scan])) / len(st["groups"]),
        "store.rows_scanned_per_row_returned": sum(r for _, r, _ in scan) / sum(n for _, _, n in scan),
    }
    detail = {
        "n_elements": int(arts["n_elements"]),
        "n_docs": N_DOCS[ctx.size],
        "pass_wall_s": [r.wall for r in records if r.kind == "prepare"],
        "stages": {k: v for k, v in stages.items() if not isinstance(v, dict)},
        "update_tiles": len(st["groups"]),
    }
    passes = [r for r in records if r.kind == "prepare"]
    if ctx.trace and passes:
        r = passes[-1]
        pipeline_s = ctx.tracer.child_time(r.op_id, "prepare_pipeline")
        pip_s = ctx.tracer.child_time(r.op_id, "pip")
        phases = {p: float(stages.get(p, 0.0)) for p in PHASES}
        out.update({f"prepare.{p}_share": v / r.wall for p, v in phases.items()})
        out["prepare.unattributed_share"] = (pipeline_s - sum(phases.values())) / r.wall
        out["pip.share"] = pip_s / r.wall
        detail.update({
            "prepare_s": phases,
            "prepare_unattributed_s": pipeline_s - sum(phases.values()),
            "pip_s": pip_s,
        })
    return out, detail
