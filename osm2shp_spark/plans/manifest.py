"""Per-partition lineage manifest + resumability (N7).

The reference's ephemeral pid-scoped sqlite temp table
(osm/handler.cc:27, osm/point_database.cc:31-34) and mapgen.sh's
file-existence memoization (mapgen.sh:20-23) are upgraded to a durable
Iceberg-shaped manifest: one row per (snapshot_id, stage, part_key)
with row counts and content digests, appended transactionally-enough
(write-new-file-then-visible, like an Iceberg snapshot commit) under
``<manifest_dir>/``.

Resumability: a restart anti-joins its input partitions against the
manifest and processes only the missing ones; digests make partition
outputs content-addressed so a re-run is verifiable byte-for-byte.
In production the same module writes to a real Iceberg table via the
catalog (swap in sources.tables); the layout mirrors Iceberg manifests
(snapshot id, per-file counts/digests) so the swap is mechanical.

Digest definition (a pure Catalyst aggregate, no Python):

    h      = sha2(to_json(struct(<every column>), _JSON), 256)  -- per row
    s_k    = sum(conv(substr(h, 1 + 16k, 15), 16, 10))    -- k = 0..3
    digest = sha2(concat_ws(':', row_count, s0, s1, s2, s3), 256)

Each ``s_k`` sums one 60-bit slice of the row hashes as
``decimal(20,0)`` (a ``bigint`` sum would overflow, and ANSI mode
raises on that), so the digest is an additive multiset hash:
insensitive to row order and partitioning, and partially aggregable
map-side — the exchange carries one row per (map task, part_key)
instead of every row. ``to_json`` renders binary as base64 and
handles arrays, maps, nulls and NaN. Its default timestamp format
keeps only milliseconds and follows the session time zone, so
``_JSON`` pins microseconds and UTC: digests then do not depend on
``spark.sql.session.timeZone``.
Earlier manifests hashed a Python ``repr`` of each row inside an
``applyInPandas`` group; their digests do not compare with these.

``wall_time_s`` stays in :data:`MANIFEST_SCHEMA` so old and new
manifest files read together, but is now a typed null: there is no
per-group Python call left to time.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "snapshot_id STRING, stage STRING, part_key BIGINT, "
    "row_count BIGINT, digest STRING, wall_time_s DOUBLE"
)

# to_json options for the row hash: microsecond timestamps in UTC
_JSON = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "timeZone": "UTC",
}


def partition_lineage(
    df: DataFrame, stage: str, part_col: str, snapshot_id: str | None = None
) -> DataFrame:
    """Compute (snapshot_id, stage, part_key, row_count, digest,
    wall_time_s) per value of ``part_col``. The digest is the additive
    multiset hash of the module docstring, so it is stable under
    partition/row reordering. One partially-aggregated groupBy on the
    partition key; rows hash map-side in the JVM.
    """
    snapshot_id = snapshot_id or uuid.uuid4().hex
    h = F.sha2(F.to_json(F.struct(*df.columns), _JSON), 256)
    hashed = df.select(F.col(part_col).cast("bigint").alias("part_key"), h.alias("_h"))
    sums = [
        F.sum(
            F.conv(F.substring("_h", 1 + 16 * k, 15), 16, 10).cast("decimal(20,0)")
        ).alias(f"_s{k}")
        for k in range(4)
    ]
    per_part = hashed.groupBy("part_key").agg(
        F.count(F.lit(1)).alias("row_count"), *sums
    )
    return per_part.select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.lit(stage).alias("stage"),
        "part_key",
        "row_count",
        F.sha2(
            F.concat_ws(":", "row_count", *[f"_s{k}" for k in range(4)]), 256
        ).alias("digest"),
        F.lit(None).cast("double").alias("wall_time_s"),
    )


class Manifest:
    """Append-only parquet manifest directory."""

    def __init__(self, spark: SparkSession, manifest_dir: str):
        self.spark = spark
        self.dir = manifest_dir

    def exists(self) -> bool:
        return os.path.isdir(self.dir) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.dir) for f in fs
        )

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.parquet(self.dir)

    def append(self, lineage: DataFrame) -> None:
        lineage.write.mode("append").parquet(self.dir)

    def completed_keys(self, stage: str) -> DataFrame:
        return (
            self.read()
            .filter(F.col("stage") == stage)
            .select("part_key")
            .distinct()
        )

    def pending(self, df: DataFrame, stage: str, part_col: str) -> DataFrame:
        """Input rows whose partition key has no manifest entry yet."""
        done = self.completed_keys(stage).withColumnRenamed("part_key", part_col)
        return df.join(F.broadcast(done), part_col, "left_anti")


def _unrecorded_keys(
    spark: SparkSession, m: Manifest, stage: str, out_dir: str, part_col: str
) -> DataFrame:
    """Distinct ``part_col`` values in ``out_dir`` with no ``stage``
    entry in the manifest: a column-pruned scan anti-joined against the
    broadcast manifest keys. Both parquet listings are taken here, at
    plan time, so later appends to either directory do not change what
    the frame evaluates to."""
    done = m.completed_keys(stage).withColumnRenamed("part_key", part_col)
    return (
        spark.read.parquet(out_dir)
        .select(part_col)
        .distinct()
        .join(F.broadcast(done), part_col, "left_anti")
    )


def run_stage_resumable(
    spark: SparkSession,
    inp: DataFrame,
    stage: str,
    part_col: str,
    transform,
    out_dir: str,
    manifest_dir: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Process only partitions not yet recorded; append data + lineage.

    ``transform(df) -> df`` must be partition-wise in ``part_col``
    (each output row keeps its input partition key). Returns the
    newly-written slice (empty when fully resumed).

    Resume keys are not collected into a literal ``isin`` list: rows
    are selected with a broadcast left-semi join against the unrecorded
    keys, so the plan does not grow with the number of keys. (The
    broadcast still relays the keys through the driver, at the scale
    of the broadcast anti-join in :meth:`Manifest.pending`.)
    """
    m = Manifest(spark, manifest_dir)
    # Heal the append-then-record crash window: data lands in out_dir
    # BEFORE its manifest row, so a crash between the two leaves fully
    # written but unrecorded partitions (Spark's output committer
    # makes files visible only on job success, so visible == complete).
    # Without this, the resume would re-run those partitions and append
    # their rows a second time; instead, record their lineage from the
    # data already on disk and skip reprocessing.
    if os.path.isdir(out_dir) and any(
        f.endswith(".parquet") for f in os.listdir(out_dir)
    ):
        # Short-circuit cheaply (r6, ADVICE r5): the emptiness check
        # reads only the key column's pages, and FULL rows are read
        # only for orphan keys that actually need lineage digests.
        orphan_keys = _unrecorded_keys(spark, m, stage, out_dir, part_col)
        if not orphan_keys.isEmpty():
            orphans = spark.read.parquet(out_dir).join(
                F.broadcast(orphan_keys), part_col, "left_semi"
            )
            m.append(partition_lineage(orphans, stage, part_col, snapshot_id))
    todo = m.pending(inp, stage, part_col)
    # persist: referenced by isEmpty and the write — one evaluation
    out = transform(todo).persist()
    try:
        if out.isEmpty():
            return out
        out.write.mode("append").parquet(out_dir)
    finally:
        out.unpersist(blocking=False)
    # Re-read the new slice from disk for both the lineage and the
    # return value, so digests cover the bytes actually persisted. Every
    # key on disk before this write is recorded (healed above), so the
    # new slice is exactly the unrecorded keys. Their manifest listing
    # is taken before the append below, so the returned frame keeps
    # evaluating to this slice afterwards.
    new_keys = _unrecorded_keys(spark, m, stage, out_dir, part_col)
    written = spark.read.parquet(out_dir).join(
        F.broadcast(new_keys), part_col, "left_semi"
    )
    m.append(partition_lineage(written, stage, part_col, snapshot_id))
    return written
