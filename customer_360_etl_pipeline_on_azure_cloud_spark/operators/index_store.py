"""Persisted-index store: the one owner of a standing index's on-disk
layout.

Every persisted index family (MinHash in ``dedup``, IVF and IVFPQ in
``similarity``, the edge index in ``graph``) is a set of Hive-bucketed
managed tables named ``{name}_<part>``, plus a one-row ``{name}_meta``
table of construction parameters for the hashed and quantized families.
The families compute their own rows (signatures, centroids, codebooks,
edge projections); this module does every table operation on them.

Compaction contract.  Appends add one file per bucket per append job,
so a year of daily ingests turns each bucket into ~365 small files:
scan tasks multiply, sort-within-bucket is lost, and object-store
listing dominates probe startup.  :func:`compact` rewrites a table into
the SAME bucket spec with exactly one file per bucket, then swaps it in
with a rename-out/rename-in sequence: the live table is renamed aside
to ``{table}__old``, the compacted table renamed in, and the old copy
dropped LAST.  The swap is not atomic — concurrent probes can hit a
missing-table window — but a crash at any point leaves a recoverable
state: the data always exists under the public name, ``__old``, or
``__compact``; nothing is deleted before its replacement is live.

It is a SINGLE-WRITER batch-maintenance op: schedule it when no probes
run, or have probe jobs retry on ``TABLE_OR_VIEW_NOT_FOUND`` (the gap
is two catalog renames wide).  If truly concurrent probing is ever
required, put a view in front of the table and repoint it (``ALTER
VIEW ... AS SELECT * FROM {table}__compact``) so readers never see the
gap — deliberately not done here because a view-wrapped table loses the
bucketed-scan guarantees the zero-Exchange probe plans are pinned on.
Probe results are bit-identical before and after (pinned by tests);
only the file layout changes.

Cost: one read and one write of the table — O(index), never O(corpus),
and ZERO shuffle: the read is forced onto the bucketed scan (one input
partition per bucket), so each task streams exactly its bucket's files
into one output file.  The forced scan matters: by default the planner
collapses a ``repartition`` on the bucket columns as "already
satisfied" by the bucket spec and AQE then disables the bucketed scan,
leaving bucket-MIXED file splits that re-fragment the write.  The table
is refreshed before it is read, because appends made through another
session (a ``foreachBatch`` micro-batch) leave this session's cached
file listing stale, and a rewrite from that listing would drop every
appended row.  Run compaction when file counts degrade, like any
LSM/Delta compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .skew import write_bucketed


def drop(spark, tables) -> None:
    """Drop each table and sweep its warehouse directory.

    The default (in-memory) catalog forgets tables across sessions but
    leaves their warehouse directories, and ``saveAsTable`` refuses to
    adopt an existing location [LOCATION_ALREADY_EXISTS] — so remove
    any stale directory via the Hadoop FS API (local FS, HDFS and
    object stores alike)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        path = spark._jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{t.lower()}")
        fs = path.getFileSystem(hconf)
        if fs.exists(path):
            fs.delete(path, True)


def write_meta(spark, name: str, row: tuple, schema: str) -> None:
    """Write ``{name}_meta`` as exactly one row of construction
    parameters, so probes can't silently mix incompatible configurations."""
    spark.createDataFrame([row], schema).write.mode("overwrite").saveAsTable(
        f"{name}_meta"
    )


def read_meta(spark, name: str):
    """The one row of ``{name}_meta``; raises ``ValueError`` unless the
    table holds exactly one distinct row."""
    rows = list(dict.fromkeys(spark.table(f"{name}_meta").collect()))
    if len(rows) != 1:
        raise ValueError(
            f"{name}_meta has {len(rows)} distinct rows — the index "
            "metadata is corrupted (a valid index has exactly one)"
        )
    return rows[0]


def _num_buckets(spark, table: str) -> int:
    describe = spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    info = {r.col_name.strip(): (r.data_type or "").strip() for r in describe}
    return int(info["Num Buckets"])


def append(df: DataFrame, table: str, bucket_by, sort_by) -> None:
    """Append ``df`` to a bucketed table under the bucket count in the
    table's catalog entry (one new file per bucket)."""
    write_bucketed(
        df, table, bucket_by=bucket_by,
        num_buckets=_num_buckets(df.sparkSession, table), sort_by=sort_by,
        mode="append",
    )


def compact(spark, table: str, cols: list[str]) -> dict[str, int]:
    """Rewrite ``table`` to one file per bucket and swap it in (see the
    module docstring for the contract).  Returns ``{table: files_after}``."""
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev_auto = spark.conf.get(auto_key, "true")
    spark.conf.set(auto_key, "false")
    try:
        spark.catalog.refreshTable(table)
        num_buckets = _num_buckets(spark, table)
        tmp, old = f"{table}__compact", f"{table}__old"
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        spark.sql(f"DROP TABLE IF EXISTS {old}")  # stale crash debris
        (
            spark.table(table)
            .sortWithinPartitions(*cols)
            .write.mode("overwrite")
            .bucketBy(num_buckets, *cols)
            .sortBy(*cols)
            .saveAsTable(tmp)
        )
        # rename-out / rename-in / drop-last: never DROP before the
        # replacement is live under the public name
        spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        spark.sql(f"DROP TABLE {old}")
        return {table: len(spark.table(table).inputFiles())}
    finally:
        spark.conf.set(auto_key, prev_auto)
