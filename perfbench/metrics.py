"""Metric names and units the command prints (BENCHMARK.json lists the
same; ``test_perfbench.py`` pins the two together).

Every workload prints every metric.  A workload's ops are of two families:
"batch" (a prepare-job pass; a query-suite leaf) and "request" (one update
applied and read back; one HTTP request).  Per-layer metrics of a layer a
workload leaves idle read 0; those are counts and ratios, never times, so
a time metric always carries a measurement.
"""

END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "batch_rows_per_s": "1/s",
    "request_p50_ms": "ms",
    "requests_per_s": "1/s",
    "peak_rss_mb": "MB",
}

ENGINE_STATS = {
    "jobs": "count",
    "tasks": "count",
    "run_s": "s",
    "cpu_s": "s",
    "gc_share": "ratio",  # JVM GC time over executor run time
    "driver_s": "s",
    "shuffle_write_bytes": "B",
    "input_bytes": "B",
}

SUITE_LEAVES = (
    "q01_pricing_summary", "q02_join_revenue", "q08_newest_wins",
    "q09_minmax_bbox", "q14_morton_encode", "q15_tile_counts",
    "q17_pip_regions", "q19_lca", "q20_dedup_exact", "q23_lang_counts",
    "q25_knn_cosine", "q26_tiling_pipeline",
)

REQUEST_KINDS = ("bbox", "tile", "query", "extract", "diff_local", "diff_wide")

# per-op engine counters; an op a workload does not run reads 0
ENGINE_OPS = (
    "prepare", "pip", "bbox", "tile", "query", "extract",
    "diff_local", "diff_wide", "update_read", "suite",
)
ENGINE_OP_STATS = {
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "B",
    "input_bytes": "B",
    "driver_share": "ratio",  # wall not covered by the op's Spark jobs
    "run_per_wall": "ratio",  # executor run time over wall: busy cores
}

PER_LAYER = {
    # tracing, session and engine: measured on every workload
    "trace.overhead_ms": "ms",
    "trace.read_store_s": "s",
    "trace.spans": "count",
    "session.start_s": "s",
    "request.p90_ms": "ms",
    **{f"engine.{fam}.{k}": u for fam in ("batch", "request") for k, u in ENGINE_STATS.items()},
    **{f"engine.{op}.{k}": u for op in ENGINE_OPS for k, u in ENGINE_OP_STATS.items()},
    "cpu.jvm_s": "s",
    "cpu.python_worker_s": "s",
    "cpu.driver_python_s": "s",
    "host.steal_share": "ratio",  # CPU time the hypervisor gave elsewhere
    # tiling: the count tree and groups behind the workload's store
    "tiling.count_tree.cells": "count",
    "tiling.count_tree.level": "count",
    "tiling.groups": "count",
    # prepare phases as shares of the pass wall (write)
    "prepare.parse_qt_share": "ratio",
    "prepare.count_tree_share": "ratio",
    "prepare.find_groups_share": "ratio",
    "prepare.assign_write_tiled_share": "ratio",
    "prepare.lineage_share": "ratio",
    "prepare.unattributed_share": "ratio",
    # pip (write: the pass's pip_join)
    "pip.share": "ratio",
    "pip.rows_out": "count",
    # store
    "store.bytes_per_element": "B",
    "store.tiles_read_frac": "ratio",
    "store.rows_scanned_per_row_returned": "ratio",
    # server (query)
    "server.bbox_cache_hit_ratio": "ratio",
    "server.tile_cache_hit_ratio": "ratio",
    "server.response_kb_p50": "KB",
    # update (write)
    "update.touched_tiles_local": "count",
    "update.touched_tiles_wide": "count",
    "update.rows_rewritten_per_changed_row": "ratio",
    "update.files_per_tile": "ratio",
    # each request kind's p50 over the workload's request_p50
    **{f"request.{k}_p50_rel": "ratio" for k in REQUEST_KINDS},
    # each leaf's median as a share of the suite pass (query)
    **{f"suite.{leaf}_share": "ratio" for leaf in SUITE_LEAVES},
}
