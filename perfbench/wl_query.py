"""``query`` workload: the query suite, then the map server's read path.

The batch ops are the 12 ``bench.py`` headline leaves of
``__spark_entry__.queries()`` over the repository's test tables at scale
0.01 (``data/sf0.01``, a copy of the test data; ``--size tiny`` reads
``data/sf0.001``), each timed at its first call in the session, as
``bench.py`` times them.  An op collects the leaf's rows (``toPandas``).
Set-up stages q26's doc input alone (``_staged_docs``, 400 docs per 0.001
of scale, the suite's own seed): TMPDIR points into the set-up's own
directory, so the staged-docs cache misses and pays its staging there,
and no leaf's plans run before the batch.

After the batch, untimed, the map server's store is built with
``tiling.tiling_pipeline`` → ``tiling.write_tiled`` from those same docs
with q26's group parameters, and ``server.serve`` starts over
``plans.store.TileQueryEngine``.  The requests are HTTP GETs in groups of
3 /bbox, 3 /tile (zoom 10–13), 1 /query (planet_osm SQL) and 1 /extract in
a seeded order, after one untimed request of each kind.  Centres are
stored elements' bbox centres, so they follow the generator's
hot-cluster-plus-background distribution; extents run from inside one tile
to several.  Each group repeats one /bbox and one /tile key, so the
1-entry bbox cache and the 3-entry tile LRU each serve one hit per group
and every other request is a miss.  The seed drives the request stream;
the tables and q26's docs are fixed by the suite.

Checks, after the clock stops: 11 leaves equal their ``oracle_sql()``
answer from DuckDB over the same files; q26 equals the served store's rows
per tile, its distributed form (``assign_tiles`` + write over the same
docs and groups), and those rows equal the group walk's counts; every
response is HTTP 200 and its /bbox, /tile, /extract feature count or
/query row count equals numpy over every stored row (no tile pruning),
capped at the server limit.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import shutil
import tempfile
import urllib.parse
import urllib.request

import numpy as np
import pandas as pd

import checks
from harness import CheckFailed, Op, dir_bytes, median
from metrics import SUITE_LEAVES

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = {"full": "sf0.01", "tiny": "sf0.001"}
Q26 = "q26_tiling_pipeline"
Q26_TARGET, Q26_MINIMUM = 500, 250  # __spark_entry__.q26_tiling_pipeline
MIX = (("bbox", 3), ("tile", 3), ("query", 1), ("extract", 1))  # per group
QUERY_SQL = "SELECT count(*) AS n FROM planet_osm_point"


def _entry(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_entry", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ------------------------------------------------------------------ set-up
def setup(ctx, i: int) -> dict:
    d = os.path.join(ctx.run_dir, f"suite{i}")
    tmp = os.path.join(d, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp  # q26's staged-docs cache: a miss, paid here
    sf = os.path.join(HERE, "data", SF_DIR[ctx.size])
    entry = _entry(ctx.root)
    n_docs = 400 * entry._sf_mult(sf)
    entry._staged_docs(ctx.spark, n_docs)
    if i:
        shutil.rmtree(os.path.join(ctx.run_dir, f"suite{i - 1}"))
    return {
        "sf": sf, "entry": entry, "queries": entry.queries(), "n_docs": n_docs,
        "want": {},
        "store": os.path.join(ctx.run_dir, "serve-store"),
        "rng": np.random.default_rng(ctx.seed), "tiles_seen": set(),
        "expect": {}, "sizes": [], "scan": [],
    }


# ------------------------------------------------------------------- suite
def _oracle(st, leaf) -> pd.DataFrame:
    """The leaf's ``oracle_sql()`` answer, from DuckDB over the same files."""
    if "duck" not in st:
        import duckdb

        st["duck"] = con = duckdb.connect()
        for f in sorted(glob.glob(os.path.join(st["sf"], "*.parquet"))):
            name = os.path.basename(f)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        st["oracle"] = st["entry"].oracle_sql()
    if leaf not in st["want"]:
        st["want"][leaf] = st["duck"].execute(st["oracle"][leaf]).df()
    return st["want"][leaf]


def _run_leaf(ctx, st, leaf):
    return st["queries"][leaf](ctx.spark, st["sf"]).toPandas()


def _verify_leaf(st, leaf, got) -> int:
    if leaf == Q26:  # checked against the served store once it is built
        st["q26_got"] = got
    else:
        why = checks.same_frame(got, _oracle(st, leaf))
        if why:
            raise CheckFailed(f"{leaf}: {why}")
    return len(got)


def batch(ctx, st) -> list[Op]:
    return [
        Op(leaf, "batch", lambda leaf=leaf: _run_leaf(ctx, st, leaf),
           lambda r, leaf=leaf: _verify_leaf(st, leaf, r))
        for leaf in SUITE_LEAVES
    ]


# ------------------------------------------------------------------ server
class TracedEngine:
    """Wraps the engine the server calls so a traced request records a
    ``store`` span around each engine call (plan building and tile
    pruning; the jobs run when the server collects)."""

    def __init__(self, engine, tracer):
        self._engine = engine
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._engine, name)
        if name not in ("scan_bbox", "rawtile", "sql", "extract"):
            return attr

        def call(*a, **kw):
            with self._tracer.span("store"):
                return attr(*a, **kw)

        return call


def _build(ctx, st):
    from osmquadtree_bin_spark.tiling import tiling_pipeline, write_tiled

    docs = st["entry"]._staged_docs(ctx.spark, st["n_docs"])
    assigned, counts, groups = tiling_pipeline(docs, target=Q26_TARGET, minimum=Q26_MINIMUM)
    write_tiled(assigned, st["store"])
    return counts, groups


def _serve(ctx, st, built) -> int:
    """Start a server over the built store, then check its per-tile rows
    against the group walk's counts and against q26's answer."""
    from osmquadtree_bin_spark.footers import tile_rows_from_footers
    from osmquadtree_bin_spark.plans.store import TileQueryEngine
    from osmquadtree_bin_spark.server import DEFAULT_LIMIT, serve

    st["counts"], st["groups"] = counts, groups = built
    st["el"] = checks.read_parquet_dir(
        st["store"], ["id", "qt", "minx", "miny", "maxx", "maxy", "geom_type"]
    )
    st["tile_rows"] = st["el"].groupby("tile_idx").size().to_dict()
    st["limit"] = DEFAULT_LIMIT
    st["engine"] = TileQueryEngine(ctx.spark, st["store"], groups)
    st["httpd"], st["server"] = serve(TracedEngine(st["engine"], ctx.tracer))
    st["base"] = f"http://127.0.0.1:{st['httpd'].server_address[1]}"

    rows = tile_rows_from_footers(st["store"])
    want = dict(zip(groups["tile_idx"].astype(int), groups["cnt"].astype(int)))
    if rows != {t: n for t, n in want.items() if n}:
        raise CheckFailed("per-tile rows written differ from the group walk's counts")
    tile_qt = groups.set_index("tile_idx")["tile_qt"]
    distributed = pd.DataFrame({
        "tile_idx": list(rows),
        "tile_qt": [int(tile_qt[t]) for t in rows],
        "n_elements": list(rows.values()),
    })
    why = checks.same_frame(st["q26_got"], distributed)
    if why:
        raise CheckFailed(f"{Q26} vs the distributed assignment: {why}")
    return len(st["el"])


def _bbox(st):
    """A fresh bbox around a stored element's centre; half-sizes
    0.01°–0.15°, from inside one hot-cluster tile to several."""
    el, rng = st["el"], st["rng"]
    i = int(rng.integers(0, len(el)))
    cx = (int(el["minx"].iat[i]) + int(el["maxx"].iat[i])) // 2
    cy = (int(el["miny"].iat[i]) + int(el["maxy"].iat[i])) // 2
    h = int(np.exp(rng.uniform(np.log(1e5), np.log(1.5e6))))
    return (cx - h, cy - h, cx + h, cy + h)


def _tile(st):
    """A tile (zoom 10–13) over a stored element, not requested before."""
    import osmquadtree_bin_spark.quadtree as qtk

    el, rng = st["el"], st["rng"]
    while True:
        qt = el["qt"].to_numpy(np.int64)[int(rng.integers(0, len(el)))]
        key = qtk.round_to(np.array([qt]), int(rng.integers(10, 14)))
        tx, ty, tz = (int(v[0]) for v in qtk.to_tuple(key))
        if (tz, tx, ty) not in st["tiles_seen"]:
            st["tiles_seen"].add((tz, tx, ty))
            return tz, tx, ty


def _group(st, warm: bool) -> list[tuple]:
    """One group's requests: (kind, path, what to expect), kinds in a
    seeded order.  A group's /bbox keys are b1, b1, b2 and its /tile keys
    t1, t2, t1, all new, so the 1-entry bbox cache and the 3-entry tile LRU
    each serve exactly one hit; a warm group sends one of each kind."""
    if warm:
        keys = {"bbox": [_bbox(st)], "tile": [_tile(st)]}
    else:
        b1, t1 = _bbox(st), _tile(st)
        keys = {"bbox": [b1, b1, _bbox(st)], "tile": [t1, _tile(st), t1]}
    kinds = [k for k, n in MIX for _ in range(1 if warm else n)]
    st["rng"].shuffle(kinds)
    out = []
    for k in kinds:
        if k == "tile":
            tz, tx, ty = keys["tile"].pop(0)
            out.append((k, f"/tile/{tz}/{tx}/{ty}", ("tile", (tz, tx, ty))))
            continue
        bb = keys["bbox"].pop(0) if k == "bbox" else _bbox(st)
        q = f"minx={bb[0]}&miny={bb[1]}&maxx={bb[2]}&maxy={bb[3]}"
        if k == "query":
            sql = urllib.parse.quote(QUERY_SQL)
            out.append((k, f"/query?sql={sql}&bbox={','.join(map(str, bb))}", ("point", bb)))
        else:
            out.append((k, f"/{k}?{q}", ("bbox", bb)))
    return out


def _tile_key(arg) -> np.ndarray:
    import osmquadtree_bin_spark.quadtree as qtk

    tz, tx, ty = arg
    return qtk.from_tuple(np.array([tx]), np.array([ty]), np.array([tz]))


def _expected(el, what) -> int:
    kind, arg = what
    if kind == "tile":
        import osmquadtree_bin_spark.quadtree as qtk

        tz = arg[0]
        qt = el["qt"].to_numpy(np.int64)
        return int((((qt & 31) >= tz) & (qtk.round_to(qt, tz) == int(_tile_key(arg)[0]))).sum())
    mnx, mny, mxx, mxy = arg
    hit = (
        (el["minx"].to_numpy() <= mxx) & (el["maxx"].to_numpy() >= mnx)
        & (el["miny"].to_numpy() <= mxy) & (el["maxy"].to_numpy() >= mny)
    )
    if kind == "point":
        hit &= el["geom_type"].to_numpy() == 0
    return int(hit.sum())


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _verify_request(st, kind, what, resp) -> int:
    status, body = resp
    if status != 200:
        raise CheckFailed(f"HTTP {status}: {body[:200]!r}")
    st["sizes"].append(len(body))
    doc = json.loads(body)
    got = doc["rows"][0]["n"] if kind == "query" else len(doc["features"])
    key = (kind, str(what))
    if key not in st["expect"]:
        st["expect"][key] = _expected(st["el"], what)
    want = st["expect"][key]
    if kind != "query":
        want = min(st["limit"], want)
    if got != want:
        raise CheckFailed(f"{kind} {what}: {got} features, expected {want}")
    if kind in ("bbox", "tile"):
        # rows the pruned scan reads per row returned
        tiles = _tiles_for(st, what)
        st["scan"].append((len(tiles), sum(st["tile_rows"].get(t, 0) for t in tiles), max(want, 1)))
    return doc["n"] if kind == "query" else got  # rows in the response


def _tiles_for(st, what):
    import osmquadtree_bin_spark.quadtree as qtk

    kind, arg = what
    if kind == "tile":
        arg = tuple(int(v[0]) for v in qtk.bounds(_tile_key(arg), 0.05))
    return st["engine"].pruned_tiles(*arg)


def _request_ops(ctx, st, warm: bool = False) -> list[Op]:
    """One group of requests in a seeded order; one of each kind when
    ``warm``."""
    return [
        Op(
            kind, "request",
            lambda url=st["base"] + path: _get(url),
            lambda r, kind=kind, what=what: _verify_request(st, kind, what, r),
        )
        for kind, path, what in _group(st, warm)
    ]


def warm(ctx, st):
    """Build and serve the store, then send one request of each kind."""
    yield Op("store_build", "batch", lambda: _build(ctx, st),
             lambda built: _serve(ctx, st, built))
    yield from _request_ops(ctx, st, warm=True)


def requests(ctx, st):
    while True:
        yield _request_ops(ctx, st)


def close(st) -> None:
    if "httpd" in st:
        httpd = st.pop("httpd")
        httpd.shutdown()
        httpd.server_close()
    if "duck" in st:
        st.pop("duck").close()


# ----------------------------------------------------------------- metrics
def layer_metrics(ctx, st, records) -> tuple[dict, dict]:
    def ratio(c):
        n = c.hits + c.misses
        return c.hits / n if n else 0.0

    scan = st["scan"]
    n_tiles = len(st["groups"])
    cells = st["counts"]["cell"].to_numpy(np.int64)
    per_leaf = {
        leaf: median([r.wall for r in records if r.kind == leaf]) for leaf in SUITE_LEAVES
    }
    total = sum(per_leaf.values())
    out = {
        "tiling.count_tree.cells": len(cells),
        "tiling.count_tree.level": int((cells & 31).max()),
        "tiling.groups": n_tiles,
        "server.bbox_cache_hit_ratio": ratio(st["server"].bbox_cache),
        "server.tile_cache_hit_ratio": ratio(st["server"].tile_cache),
        "server.response_kb_p50": median(st["sizes"]) / 1024,
        "store.bytes_per_element": dir_bytes(st["store"]) / len(st["el"]),
        "store.tiles_read_frac": float(np.mean([t for t, _, _ in scan])) / n_tiles if scan else 0.0,
        "store.rows_scanned_per_row_returned": (
            sum(r for _, r, _ in scan) / sum(n for _, _, n in scan) if scan else 0.0
        ),
        **{f"suite.{k}_share": v / total for k, v in per_leaf.items()},
    }
    detail = {
        "serve_tiles": n_tiles, "serve_elements": len(st["el"]),
        "suite_s": total, "suite_leaf_s": per_leaf, "tables": SF_DIR[ctx.size],
    }
    return out, detail
