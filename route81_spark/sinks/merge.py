"""Keyed upsert/delete merge sink (SURVEY §2 P15).

The reference buffers <= bulk-size docs / <= bulk-flush-duration and
issues one *unordered* BulkWrite of ReplaceOne(upsert)/DeleteOne models
(/root/reference/route81.go:1071-1131). Semantics to preserve:
whole-document replace (not patch), idempotent per-key last-writer-wins,
at-least-once safe (SURVEY §2.C).

Spark-first: the merge itself is a single DataFrame expression —
  new_state = (target anti-join the batch's keys) ∪ latest-change-per-key
applied inside foreachBatch for streams or once for batch. At cluster
scale this becomes Delta `MERGE INTO` on the same (key, is_delete, doc)
shape; the parquet swap below is the dependency-free harness stand-in.
Per-key ordering under parallelism comes from ranking by `seq` within
each key — not from any global sort — so the plan is one hash shuffle
on the key, no matter how many executors, and only the changes cross
it: the target is scanned in place and anti-joined against a broadcast
of the batch's raw keys (a key changed at all is replaced or deleted,
so the anti-join needs no collapse). A merge of a file batch runs 3
jobs: that broadcast, the changes' shuffle and the write. (A batch with
no size estimate, such as `createDataFrame` rows, is first planned as
a sort-merge join, and AQE shuffles the target before it broadcasts.)

Shuffling the target too (union it, ranked lowest, with the changes and
keep the top row per key) saves the broadcast job, and wins where
fixed per-job cost dominates: 510 against 695 ms of CPU per 400-change
merge into a 10k-row table. But it moves and sorts the whole table on
every batch: 1,310 against 915 ms at 100k rows and 5,185 against
2,930 ms at 1M (4 local cores, median of 8 merges after 4 warm-ups),
so it is not used.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def latest_per_key(changes: DataFrame, key: str = "doc_id", seq: str = "seq") -> DataFrame:
    """Collapse an at-least-once change feed to the last change per key.
    One shuffle on `key`; AQE handles skew."""
    w = Window.partitionBy(key).orderBy(F.col(seq).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_history(
    changes: DataFrame,
    key: str = "doc_id",
    seq: str = "seq",
    is_delete: str = "is_delete",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a keyed change feed
    (the same (key, seq, is_delete, payload...) shape the merge sink
    consumes): every non-delete change becomes a version row valid from
    its own seq until the key's NEXT change (delete or replacement);
    the latest un-superseded, un-deleted version is flagged current.

    Deletes contribute no version but close the preceding one — so a
    key deleted and later re-inserted yields two disjoint validity
    ranges, matching the reference sink's replace/delete-by-_id
    semantics (/root/reference/route81.go:1088-1116) replayed into
    history form.

    Scale shape: ONE hash shuffle on `key` (the lead() window), same
    cost as latest_per_key; no self-join against the history table.
    Columns out: all change columns except `is_delete`, plus
    valid_from / valid_to (next change's seq, null = open) and
    is_current."""
    w = Window.partitionBy(key).orderBy(F.col(seq).asc())
    h = changes.withColumn("__valid_to", F.lead(F.col(seq)).over(w))
    keep = [c for c in changes.columns if c not in (is_delete, seq)]
    return (
        h.filter(~F.col(is_delete))
        .select(
            *keep,
            F.col(seq).alias("valid_from"),
            F.col("__valid_to").alias("valid_to"),
            F.col("__valid_to").isNull().alias("is_current"),
        )
    )


def split_changes(
    changes: DataFrame, key: str = "doc_id", seq: str | None = "seq"
) -> tuple[DataFrame, DataFrame]:
    """Collapse a change batch to its last change per key (when `seq` is
    given and present) and take the upsert documents out of it. Returns
    (collapsed changes, upsert documents as `doc.*` rows)."""
    if seq is not None and seq in changes.columns:
        changes = latest_per_key(changes, key=key, seq=seq)
    return changes, changes.filter(~F.col("is_delete")).select("doc.*")


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str = "doc_id",
    seq: str | None = "seq",
    target_key: str = "_id",
) -> DataFrame:
    """Pure merge: replace/delete-by-key (route81.go:1086-1098 semantics).

    `changes` columns: <key>, is_delete, doc (struct matching target
    rows, keyed by <target_key>). Returns the new target state as a
    DataFrame of doc fields.

    The target rows whose key the batch names at all are dropped, by an
    anti-join against the batch's raw keys; the batch's upserts, after
    the collapse to the last change per key, take their place.

    Schema drift: the reference sink is schemaless (a replace with new
    fields just stores them, route81.go:1094-1100), so the union is
    allowMissingColumns — documents that add fields widen the table
    and old rows read null there; documents that drop fields store
    null, exactly the BSON-absent reading.
    """
    changed_keys = changes.select(F.col(key))
    _, upserts = split_changes(changes, key=key, seq=seq)
    kept = target.join(changed_keys, target[target_key] == changed_keys[key], "left_anti")
    return kept.unionByName(upserts, allowMissingColumns=True)


class KeyedParquetTable:
    """Mutable keyed table of parquet versions — the harness stand-in
    for Delta MERGE / MongoDB bulk writes. Used from foreachBatch.

    Layout: immutable version directories `<path>/v<n>/` and a one-line
    pointer file `<path>/_current` naming the live one. `init` and
    `merge` share one commit: write the new state to `v<n+1>/`, then
    `os.replace` the pointer, then remove versions older than the one
    just replaced. A crash at any step leaves the pointer on a complete
    version (the old or the new state), and replaying the batch is
    idempotent because replace/delete-by-key is, so no batch id is
    recorded. The replaced version is kept until the next commit, so a
    DataFrame from `read()` stays valid across one later merge.

    The table carries the schema of its last commit, with the version it
    names, and reads that version with it: no schema-inference job per
    merge. A version it did not commit itself (a fresh instance after a
    restart, or another writer's commit) is read with inference."""

    def __init__(self, spark: SparkSession, path: str, key: str = "_id"):
        self.spark = spark
        self.path = path
        self.key = key
        self._committed: tuple[str, StructType] | None = None

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current")

    def _live(self) -> str:
        with open(self._pointer) as f:
            return f.read().strip()

    def exists(self) -> bool:
        return os.path.isfile(self._pointer)

    def read(self) -> DataFrame:
        return self._read(self.spark)

    def _read(self, spark: SparkSession) -> DataFrame:
        live = self._live()
        reader = spark.read
        if self._committed is not None and self._committed[0] == live:
            reader = reader.schema(self._committed[1])
        return reader.parquet(os.path.join(self.path, live))

    def init(self, df: DataFrame) -> None:
        self._commit(df)

    def merge(self, changes: DataFrame, seq: str | None = "seq") -> None:
        """changes: doc_id, is_delete, doc struct (+ optional seq).

        The target is read through the session of `changes`, so the
        merge's write runs there: inside foreachBatch that is the
        stream's cloned session, and an `Observation` on `changes`
        completes only in the session that ran it."""
        target = self._read(changes.sparkSession)
        self._commit(apply_changes(target, changes, seq=seq, target_key=self.key))

    def _commit(self, state: DataFrame) -> None:
        os.makedirs(self.path, exist_ok=True)
        old = self._live() if self.exists() else "v0"
        new = f"v{int(old[1:]) + 1}"
        # overwrite: a crash before the pointer swap may have left a
        # partial v<n+1>; it was never live, so nothing reads it
        state.write.mode("overwrite").parquet(os.path.join(self.path, new))
        self._committed = (new, state.schema)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(new)
        os.replace(tmp, self._pointer)
        for d in os.listdir(self.path):
            if d.startswith("v") and d not in (old, new):
                shutil.rmtree(os.path.join(self.path, d))
