"""Output checks.  Each recomputes the expected answer apart from the
Spark path being timed — numpy over parquet files read with pyarrow, or
DuckDB; the driver-side helpers it uses (the tile assigner) are numpy code
of the engine — and raises ``CheckFailed`` on a mismatch."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from harness import CheckFailed


def read_parquet_dir(path: str, columns=None) -> pd.DataFrame:
    """A (possibly hive-partitioned) parquet directory as pandas; the
    partition value is added as an int column."""
    frames = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        df = pq.read_table(f, columns=columns).to_pandas()
        for part in os.path.relpath(f, path).split(os.sep)[:-1]:
            k, _, v = part.partition("=")
            df[k] = int(v)
        frames.append(df)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=columns)


# ----------------------------------------------------------------- prepare
def prepare_lineage(arts: dict) -> None:
    """Lineage rows equal expected_rows for every tile and sum to
    n_elements; nothing lands in the overflow tile; per-tile counts equal
    the driver rollup ``make_tile_assigner(groups)(cells)``."""
    from osmquadtree_bin_spark.tiling import make_tile_assigner

    lin = read_parquet_dir(arts["lineage_path"])
    groups, counts = arts["groups"], arts["counts"]
    bad = lin[lin["rows"] != lin["expected_rows"]]
    if len(bad):
        raise CheckFailed(f"{len(bad)} tiles with rows != expected_rows")
    if int(lin["rows"].sum()) != int(arts["n_elements"]):
        raise CheckFailed(f"lineage rows {lin['rows'].sum()} != {arts['n_elements']}")
    assign = make_tile_assigner(groups)
    overflow = assign.overflow_idx
    if os.path.isdir(os.path.join(arts["tiled_path"], f"tile_idx={overflow}")):
        raise CheckFailed("rows in the overflow tile")
    tidx = assign(counts["cell"].to_numpy(np.int64))
    rollup = pd.Series(counts["cnt"].to_numpy(np.int64)).groupby(tidx).sum()
    got = lin.set_index("tile_idx")["rows"]
    got = got[got > 0]
    if not rollup.sort_index().equals(got.sort_index().astype(rollup.dtype)):
        raise CheckFailed("per-tile rows differ from the count-tree rollup")


def _in_ring(px, py, lons, lats) -> np.ndarray:
    """Even-odd ray cast, one edge at a time (points × 1 edge per step)."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(lons)
    for i in range(n):
        x0, y0 = float(lons[i]), float(lats[i])
        x1, y1 = float(lons[(i + 1) % n]), float(lats[(i + 1) % n])
        if y0 == y1:
            continue
        cross = (y0 > py) != (y1 > py)
        xs = x0 + (py - y0) / (y1 - y0) * (x1 - x0)
        inside ^= cross & (px < xs)
    return inside


def pip_bruteforce(elements_path: str, region_rows: list) -> int:
    """Row count of pip_join: bbox regions match on bbox overlap, polygon
    regions on the bbox centre being inside the ring."""
    el = read_parquet_dir(elements_path, ["minx", "miny", "maxx", "maxy"])
    mnx, mny, mxx, mxy = (el[c].to_numpy(np.int64) for c in ("minx", "miny", "maxx", "maxy"))
    cx = np.trunc((mnx + mxx) / 2.0)
    cy = np.trunc((mny + mxy) / 2.0)
    n = 0
    for rid, kind, rminx, rminy, rmaxx, rmaxy, lons, lats in region_rows:
        if kind == "bbox":
            n += int(((mnx <= rmaxx) & (mxx >= rminx) & (mny <= rmaxy) & (mxy >= rminy)).sum())
        else:
            lo, la = np.asarray(lons, float), np.asarray(lats, float)
            box = (cx >= lo.min()) & (cx <= lo.max()) & (cy >= la.min()) & (cy <= la.max())
            n += int(_in_ring(cx[box], cy[box], lo, la).sum())
    return n


# ------------------------------------------------------------------- suite
def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, list cells as tuples, numbers as numbers,
    rows sorted — the comparison ``tools/driver_check.py`` makes."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind in "iuf":
            df[c] = pd.to_numeric(df[c])
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, (str, bytes)) else v
            )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = normalize(got), normalize(want)
    if not a.astype(str).equals(b.astype(str)):
        return "values differ"
    return None
