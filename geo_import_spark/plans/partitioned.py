"""Cell-partitioned tables — storage layout for partition-pruned
spatial reads.

Hive-style `partitionBy` on a COARSE, bounded-cardinality spatial cell
key: every file under the table root lives in a `pcell=<x>_<y>/`
directory, so a query that filters on pcell (any viewport / tile /
region read) prunes whole directories at PLANNING time — the scan
never lists, opens, or reads the other partitions. At 100 TB this is
the difference between a viewport query touching ~(viewport share) of
the data and touching all of it; combined with Hilbert-sorted
compaction inside each partition (functions/hilbert.py, BASELINE.md)
reads collapse to a handful of contiguous files.

The cell must be COARSE (level <= ~6, <= 4096 directories): Hive
partitioning costs one directory + >= 1 file per value, so a
fine-grained key explodes the filesystem — fine-grained locality
belongs to the in-file sort (Hilbert) and bucketing (plans/bucketed),
not the directory layout. This mirrors the classic warehouse split:
partition by the pruning dimension, cluster by the locality dimension.

Reference parity: none — geo-import rewrites one flat table per import
(upstream/core.js); this is the at-scale read layout the north rule's
viewport/tile serving needs.

tests/test_partitioned_layout.py asserts physical pruning (fewer
distinct files actually read) and plan-level PartitionFilters, plus
result equality with the unpartitioned filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_import_spark.functions import cells as cellmod

PART_LEVEL = 3  # 8x8 = at most 64 directories


def cell_key(level: int = PART_LEVEL):
    """Coarse partition cell of (lon, lat) as a 'x_y' string column
    over cells.grid_xy, the engine's grid formula. A null coordinate
    gives a null key (concat, not concat_ws, which would skip the
    null part)."""
    gx, gy = cellmod.grid_xy("lon", "lat", level)
    return F.concat(gx.cast("string"), F.lit("_"), gy.cast("string"))


def write_cell_partitioned(
    df: DataFrame,
    path: str,
    level: int = PART_LEVEL,
    mode: str = "overwrite",
) -> None:
    """Persist a (lon, lat, ...) frame partitioned by its coarse cell.

    One shuffle-free write: partitionBy splits task output by value —
    no repartition needed (each task writes the cells it holds; for
    write-side file clustering, repartition('pcell') first at the cost
    of one shuffle)."""
    df.withColumn("pcell", cell_key(level)).write.mode(mode).partitionBy(
        "pcell"
    ).parquet(path)


def read_cells(
    spark: SparkSession, path: str, cells: list[str]
) -> DataFrame:
    """Read only the named partition cells. The IN filter lands in the
    scan's PartitionFilters — directories outside `cells` are pruned at
    planning time and never touched."""
    return spark.read.parquet(path).filter(F.col("pcell").isin(cells))


def files_read(df: DataFrame) -> int:
    """Distinct data files a plan actually reads — the physical
    pruning measurement used by the layout tests."""
    return (
        df.select(F.input_file_name().alias("f")).distinct().count()
    )
