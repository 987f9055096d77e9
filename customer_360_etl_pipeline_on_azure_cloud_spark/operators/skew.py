"""Skew mitigation and co-located (bucketed) joins.

At 100 TB two join pathologies dominate wall-clock:

* **hot keys** — one key holding a large fraction of rows turns one task
  into the straggler. AQE's skew-join splitting handles *sort-merge*
  skew after the fact; :func:`salted_join` removes it up front and works
  for any join the planner picks, at the cost of replicating the
  build side ``salt`` times.
* **re-shuffling stable tables** — two fact tables repeatedly joined on
  the same key should not pay a shuffle per query. Hive-bucketed tables
  (:func:`write_bucketed` / :func:`bucketed_join`) pre-hash
  both sides into the same bucket layout so Spark plans the join with
  ZERO Exchange nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting: the (skewed) left side scatters each
    key across ``salt`` sub-keys; the right side replicates every row
    ``salt`` times so all sub-keys still meet. Hot keys are now spread
    over ``salt`` tasks.

    The left salt is ``xxhash64(whole row) % salt`` — deterministic (no
    rand(); results reproducible across runs/partitionings) yet spreads
    a hot key's rows uniformly. Use when one side has hot keys and the
    other side is small-ish per key (its replication factor is exactly
    ``salt``).

    Only ``inner`` and ``left`` are accepted: the construction replicates
    every right row ``salt`` times, so right/full outer joins would emit
    each UNMATCHED right row ``salt`` times (matched rows join exactly
    once because the left salt value is unique per left row).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join: how={how!r} unsupported — right/full outer would "
            "duplicate unmatched right rows salt times; use inner or left"
        )
    lcols = [F.col(c) for c in left.columns]
    l_salted = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*lcols), F.lit(salt)).cast("int")
    )
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l_salted.join(r_salted, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    num_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a Hive-bucketed (and optionally sorted) managed table.
    Both sides of a recurring join bucketed identically on the join key
    -> Spark plans SortMergeJoin with no Exchange on either side.

    ``bucket_by``/``sort_by`` accept a column list for composite join
    keys (e.g. the MinHash band-rows table bucketed on (band, bhash))."""
    bcols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bcols)
    if sort_by:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two identically-bucketed tables — shuffle-free when bucket
    specs match (verify with .explain: no Exchange above the scans)."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)
