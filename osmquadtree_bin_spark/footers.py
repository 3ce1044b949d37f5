"""Parquet metadata reads for hive-partitioned tile stores.

Per-tile row counts from file footers — the driver-side metadata path that
replaces full distributed count scans for write audits and diff ledgers
(guide §1.2: don't compute things a metadata read already knows). On
Iceberg the same numbers come from one manifest-summary scan; on HDFS/S3
the footers stream through the FS API or the caller falls back to a
distributed count. Callers must treat ``None`` as "fall back", never as
zero.

``StoreReader`` is the one Spark read path of a tiled store: its schema is
found once per reader (from a footer where it can be), later reads pass it
with ``.schema(...)`` and only list files.
"""

from __future__ import annotations

import glob
import logging
import os

from .session import local_frame

log = logging.getLogger(__name__)


def _fall_back(path: str, e: Exception) -> None:
    """The except clauses below are narrow on purpose: a corrupt-footer
    signal must surface in the log, not silently vanish into the fallback
    (r05 ADVICE)."""
    log.warning(
        "footer walk of %s failed (%s: %s) — falling back to a "
        "distributed count; if this is a corrupt-footer signal it needs "
        "attention, not silence",
        path,
        type(e).__name__,
        e,
    )


def parquet_rows(path: str) -> int | None:
    """Exact row count of a flat parquet directory from its footers. None →
    caller falls back to a Spark count (no files, no pyarrow, unreadable
    footer)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError as e:
        _fall_back(path, e)
        return None
    try:
        files = glob.glob(os.path.join(path, "*.parquet"))
        if not files:
            return None
        return sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError, KeyError, pa.ArrowException) as e:
        _fall_back(path, e)
        return None


def tile_rows_from_footers(
    tiled_path: str,
    max_files: int = 50_000,
    tiles: list[int] | None = None,
) -> dict[int, int] | None:
    """Per-tile written row counts from the parquet footers of a local
    hive-partitioned layout (tile_idx=N/ dirs) — a driver-side metadata
    read replacing a full distributed scan of the store. ``tiles`` limits
    the walk to those partitions (diff ledgers only touch a few tiles; the
    full-store walk is for the post-prepare audit). None → caller falls
    back to the Spark count (non-partitioned layout, non-local fs, no
    pyarrow, unreadable footer, or more files than a serial driver walk
    should touch)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError as e:
        _fall_back(tiled_path, e)
        return None
    try:
        if tiles is not None:
            dirs = [
                d
                for t in tiles
                if os.path.isdir(d := os.path.join(tiled_path, f"tile_idx={t}"))
            ]
            if not dirs and tiles:
                return {}
        else:
            dirs = glob.glob(os.path.join(tiled_path, "tile_idx=*"))
            if not dirs:
                return None
        per_dir = {
            int(os.path.basename(d).split("=", 1)[1]): glob.glob(
                os.path.join(d, "*.parquet")
            )
            for d in dirs
        }
        if sum(len(fs) for fs in per_dir.values()) > max_files:
            return None
        return {
            t: sum(pq.read_metadata(f).num_rows for f in fs)
            for t, fs in per_dir.items()
        }
    except (OSError, ValueError, KeyError, pa.ArrowException) as e:
        _fall_back(tiled_path, e)
        return None


# the Spark schema every Spark-written parquet file carries in its footer
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _as_nullable(t):
    """Spark's ``asNullable`` on a schema's JSON form: a file source reads
    every field as nullable, whatever the writer recorded."""
    if isinstance(t, dict):
        return {k: True if k in _NULLABLE_KEYS else _as_nullable(v) for k, v in t.items()}
    if isinstance(t, list):
        return [_as_nullable(v) for v in t]
    return t


def spark_schema_from_footers(tiled_path: str):
    """The schema ``spark.read.parquet(tiled_path)`` would infer, read from
    one footer on the driver instead of by Spark's schema-inference job: the
    data columns Spark recorded when it wrote the file, all nullable, then
    ``tile_idx`` typed as Spark's partition inference types it (int unless a
    value overflows it). None → infer with Spark (not a local
    ``tile_idx=N/`` layout, or the file was not written by Spark)."""
    import json

    from pyspark.sql.types import IntegerType, LongType, StructType

    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return None
    try:
        dirs = glob.glob(os.path.join(tiled_path, "tile_idx=*"))
        tiles = [int(os.path.basename(d).split("=", 1)[1]) for d in dirs]
        sample = next(
            (fs[0] for d in dirs if (fs := glob.glob(os.path.join(d, "*.parquet")))),
            None,
        )
        if sample is None:
            return None
        row = (pq.read_metadata(sample).metadata or {}).get(_SPARK_ROW_METADATA)
        if row is None:
            return None
        schema = StructType.fromJson(_as_nullable(json.loads(row)))
    except (OSError, ValueError, KeyError, pa.ArrowException):
        return None
    if "tile_idx" in schema.names:
        return None
    fits = all(-(2**31) <= t < 2**31 for t in tiles)
    return schema.add("tile_idx", IntegerType() if fits else LongType())


class StoreReader:
    """Schema-pinned reader of a hive-partitioned store. The schema is found
    once per reader — from a footer (``spark_schema_from_footers``), or by
    Spark's inference job when that declines — and every read passes it to
    the reader, so a read costs a file listing and no job. The listing is
    fresh on every call: files a write added or replaced are seen.
    ``reset()`` after rewriting the store with another schema."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self._schema = None

    def reset(self) -> None:
        self._schema = None

    def read(self, tiles: list[int] | None = None):
        """The whole store, or only the ``tile_idx=N`` directories of
        ``tiles`` that exist (``basePath`` keeps ``tile_idx`` a column; the
        other directories are not listed). When none is found locally — no
        such tile yet, or a store the local fs cannot see — the whole store
        is read and pruned by a partition filter instead. An empty ``tiles``
        is an empty frame of the schema: no listing, no job."""
        if self._schema is None:
            self._schema = (
                spark_schema_from_footers(self.path)
                or self.spark.read.parquet(self.path).schema
            )
        reader = self.spark.read.schema(self._schema)
        if tiles is None:
            return reader.parquet(self.path)
        if not tiles:
            return local_frame(self.spark, self._schema)
        dirs = [
            d
            for t in tiles
            if os.path.isdir(d := os.path.join(self.path, f"tile_idx={t}"))
        ]
        if not dirs:
            from pyspark.sql import functions as F

            return reader.parquet(self.path).filter(F.col("tile_idx").isin(tiles))
        return reader.option("basePath", self.path).parquet(*dirs)
