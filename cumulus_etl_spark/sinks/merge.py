"""Upsert sink: MERGE semantics over a managed table (SURVEY §2.2 K1-K3).

Reference behavior being reproduced (cumulus_etl/formats/deltalake.py):
- merge on configurable uniqueness keys (:110-132); insert-if-absent
- conditional update only when ``updates.meta.lastUpdated`` is >= the
  stored row's (string-cast to TIMESTAMP, null-tolerant) (:187-232)
- ``update_existing=False`` keeps first-seen rows (etl/tasks/base.py:71-73)
- group replacement: rows whose ``group_field`` value appears in this
  batch but whose key doesn't are deleted (:124-128) — "an NLP re-run
  that produces 4 rows where 5 existed must drop the stale 5th"
- delete-by-id (:134-153), schema evolution on write (:71)

Physical strategy
-----------------
With delta-spark importable, this is a genuine ``DeltaTable.merge`` —
file-pruned, transactional, liquid-clustered on the keys. Without Delta,
the fallback is a *bucket-pruned versioned-parquet* table:

- Every version directory is hive-partitioned by ``__bucket =
  pmod(xxhash64(bucket cols), n)``. The bucket columns are the
  ``group_field`` when the policy has one (group replacement must see
  every row of a touched group), else the uniqueness keys.
- ``n`` is sized by bytes, as Delta sizes files: the fewest power-of-two
  buckets of one scan task (``spark.sql.files.maxPartitionBytes``) each,
  at most MAX_BUCKETS (~25 GB buckets at 100 TB). A merge keeps the
  pointer's count while the current version's bytes on disk fit it, and
  rewrites a table that outgrew it whole, once (O(1) rewrites per row).
  A whole-table write is routed by an upper bound (current bytes plus
  every file the batch scans: an ETL frame filters the whole export),
  then folded down to the count its written bytes need, never below the
  pointer's, by moving bucket ``b``'s files into bucket ``b mod m``.
- A merge computes the batch's touched buckets (≤ n ints on
  the driver), reads ONLY those partitions of the current version
  (partition pruning — ``PartitionFilters`` in the scan), resolves
  winners with one shuffle over the touched subset, and writes only the
  touched buckets into the next version directory. Untouched buckets are
  hardlinked (copy fallback) from the previous version — metadata-only
  on a real filesystem. Shuffle and write are ∝ touched data + batch,
  NOT table size; this is the fallback's answer to Delta file pruning.
  On an object store without cheap links you'd run the Delta branch;
  the merge COMPUTE is bucket-pruned either way.
- The ``_CURRENT`` pointer (version, schema, stored columns, bucket
  layout) flips atomically at the end, so readers never see a
  half-written table and a crashed merge is invisible. ``finalize()``
  drops superseded version dirs (vacuum analog; hardlinked files survive
  via the live version).
- Contract vs stored columns. The pointer ``schema`` is the table's
  full contract, recorded nullable at every depth (the form the file
  source reads it back in, so ``schema()`` equals ``read().schema``
  from the first version on): a new table takes the ``contract`` its first merge
  passes (the ETL passes the wide FHIR schema after scrubbing), and every
  merge widens it by the frame it writes, whose types win (schema
  evolution, nested fields included). The files hold only the stored
  top-level columns, which the pointer lists by name under ``stored``:
  the union of the previous stored columns and the columns written, so
  they never shrink. An ETL frame carries only the fields its export
  holds: the perfbench Patient table stores 8 of its 21 top-level
  columns (232 of 2,071 leaves). ``read()`` reads under the contract and
  the parquet reader null-fills the rest; ``merge`` and ``delete_ids``
  read the existing side under the stored columns only. A pointer with
  no ``stored`` record stores every column of its schema. The Delta
  branch has no stored record: its ``UPDATE SET *`` would keep a target
  column the batch lacks, so ``merge`` null-fills every batch to the
  target schema (a new table's: the ``contract``).

Invariant for group-bucketed tables: a key never migrates between
groups (true for every reference table — NLP row ids embed note_ref,
completion keys embed group_name). A migrating key would strand its old
row in the old group's bucket, exactly as Delta's group-scoped
``whenNotMatchedBySourceDelete`` would.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from cumulus_etl_spark.schemas import cut_schema

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable

    HAVE_DELTA = True
except ImportError:
    DeltaTable = None
    HAVE_DELTA = False

CURRENT_POINTER = "_CURRENT"
BUCKET_COL = "__bucket"
MAX_BUCKETS = 4096


def _bucket_expr(cols: tuple[str, ...], num_buckets: int) -> Column:
    """Deterministic bucket id for a row: pmod(xxhash64(cols), n)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_buckets)).cast("int")


def _touched_buckets(df: DataFrame, cols: tuple[str, ...], n: int) -> list[int]:
    """The buckets ``df``'s rows hash into (at most ``n`` ints on the driver)."""
    return sorted(r[0] for r in df.select(_bucket_expr(cols, n).alias("b")).distinct().collect())


def _link_tree(src: str, dst: str) -> None:
    """Re-link one bucket directory into a new version: hardlink each file
    (metadata-only on a real filesystem), copy as a fallback."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        s, d = os.path.join(src, entry), os.path.join(dst, entry)
        if os.path.isdir(s):  # pragma: no cover - parquet leaves are flat
            _link_tree(s, d)
            continue
        try:
            os.link(s, d)
        except OSError:  # pragma: no cover - cross-device / FS without links
            shutil.copy2(s, d)


def _tree_bytes(path: str) -> int:
    """On-disk bytes of the data files (not ``.``/``_`` ones) under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if not f.startswith((".", "_")))


def _input_bytes(df: DataFrame) -> int:
    """Bytes of every file ``df`` scans, from the file indexes Spark listed
    when it planned the scan (no per-file filesystem call); 0 in memory."""
    sizes = {}  # per index: a union of filters lists one scan twice
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while leaves.hasNext():
        rel = leaves.next()
        rel = rel.relation() if rel.getClass().getSimpleName() == "LogicalRelation" else rel
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            sizes[rel.location().hashCode()] = rel.location().sizeInBytes()
    return sum(sizes.values())


def _fold_buckets(vdir: str, n: int, m: int) -> int:
    """Fold an ``n``-bucket version dir to ``m`` (dividing ``n``) buckets,
    no row rewritten: bucket ``b``'s files move into bucket ``b mod m``,
    prefixed ``b<b>-`` as one task names its file alike in every bucket."""
    if n % m:  # e.g. a recorded count that is not a power of two
        return n
    for b in range(m, n):
        src, dst = (os.path.join(vdir, f"{BUCKET_COL}={c}") for c in (b, b % m))
        if os.path.isdir(src):
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(src):
                dot = f[:1] == "."  # a checksum file keeps its leading dot
                os.rename(os.path.join(src, f), os.path.join(dst, f"{'.' * dot}b{b}-{f[dot:]}"))
            os.rmdir(src)
    return min(n, m)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the type a
    file source reads a column back as (Spark's ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _widen(base: StructType, over: StructType) -> StructType:
    """``base`` with ``over``'s fields laid on it: a field in both keeps
    its place and takes ``over``'s type; ``over``'s other fields follow."""
    mine = {f.name: f for f in over.fields}
    names = set(base.fieldNames())
    return StructType(
        [mine.get(f.name, f) for f in base.fields]
        + [f for f in over.fields if f.name not in names]
    )


def _has_field(df: DataFrame, dotted: str) -> bool:
    """Does a dotted field path resolve in this schema? The lastUpdated
    guard silently disables when the frame doesn't carry the field (e.g.
    i2b2-sourced resources have no meta), matching the reference's
    only-guard-when-present behavior."""
    dtype = df.schema
    for part in dotted.split("."):
        if not isinstance(dtype, StructType) or part not in dtype.fieldNames():
            return False
        dtype = dtype[part].dataType
    return True


@dataclass(frozen=True)
class MergePolicy:
    """Per-output-table merge configuration (ref etl/tasks/base.py:23-77)."""

    keys: tuple[str, ...] = ("id",)
    group_field: str | None = None
    update_existing: bool = True
    # dotted path of the ISO-string timestamp used as the freshness guard;
    # None disables the guard (always update on match)
    last_updated_field: str | None = "meta.lastUpdated"
    # emit a change feed (insert / update pre+post images / delete rows)
    # per merge version under <table>/changes/vN — the fallback analog of
    # Delta change data feed (delta.enableChangeDataFeed); read it back
    # with ManagedTable.read_changes()
    change_feed: bool = False

    @property
    def read_columns(self) -> set[str]:
        """The top-level columns a merge reads from the batch: the keys,
        the group field and the root of the freshness guard's field."""
        cols = set(self.keys)
        if self.group_field:
            cols.add(self.group_field)
        if self.last_updated_field:
            cols.add(self.last_updated_field.split(".")[0])
        return cols

    @property
    def bucket_cols(self) -> tuple[str, ...]:
        """Columns that route a row to its bucket. With a group_field the
        GROUP is the locality unit — group replacement must see every
        existing row of a touched group, so groups never straddle buckets."""
        return (self.group_field,) if self.group_field else self.keys


class ManagedTable:
    """A named table under ``root/name`` with MERGE/DELETE/finalize."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.name = name
        self.path = os.path.join(root, name)

    # ---- read side ----

    def _pointer(self) -> dict | None:
        ptr = os.path.join(self.path, CURRENT_POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return json.load(fh)

    def current_version(self) -> int | None:
        ptr = self._pointer()
        return None if ptr is None else int(ptr["version"])

    def schema(self) -> StructType | None:
        """The table's contractual schema (stored in the pointer so empty
        tables — e.g. ``init`` output — still carry full schemas)."""
        ptr = self._pointer()
        if ptr is None or "schema" not in ptr:
            return None
        return StructType.fromJson(json.loads(ptr["schema"]))

    def _bucket_dirs(self, vdir: str) -> list[str]:
        if not os.path.isdir(vdir):
            return []
        return [e for e in os.listdir(vdir) if e.startswith(BUCKET_COL + "=")]

    def _read_version(
        self, ptr: dict, buckets: list[int] | None = None,
        keep_bucket_col: bool = False, stored: bool = False,
    ) -> DataFrame:
        """Scan the pointer's version; ``buckets`` prunes to those hive
        partitions (shows up as PartitionFilters in the plan).

        The read uses the pointer schema EXPLICITLY instead of
        mergeSchema: the pointer always stores the union schema of its
        version (schema evolution only ever adds columns), the parquet
        reader null-fills columns missing from older re-linked files —
        identical frames — and the driver stops footer-reading every
        data file on every merge/read (guide §6: file metadata cost is
        driver-side, per-file). ``keep_bucket_col``: retain the hive
        partition column so a caller that writes the same layout back
        can skip the routing shuffle. Columns no file stores null-fill
        the same way; ``stored`` reads only the stored ones (the merge
        side)."""
        vdir = self._vdir(int(ptr["version"]))
        schema = StructType.fromJson(json.loads(ptr["schema"]))
        if stored:
            schema = cut_schema(schema, ptr.get("stored"))
        if not self._bucket_dirs(vdir):
            if keep_bucket_col:
                return self.spark.createDataFrame([], schema).withColumn(
                    BUCKET_COL, F.lit(None).cast("int")
                )
            return self.spark.createDataFrame([], schema)
        df = (
            self.spark.read.schema(schema)
            .option("basePath", vdir)
            .parquet(vdir)
        )
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(buckets))
        # stable column contract: pointer-schema order (partition-column
        # discovery appends BUCKET_COL in path order, not contractually)
        cols = [F.col(f.name) for f in schema.fields]
        if keep_bucket_col:
            cols.append(F.col(BUCKET_COL))
        return df.select(*cols)

    def _is_delta(self) -> bool:
        return HAVE_DELTA and DeltaTable.isDeltaTable(self.spark, self.path)

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current table state, or — time travel — a past ``version``
        that finalize() has not GC'd yet (Delta branch: ``versionAsOf``).
        Past versions read under the current contract (the pointer
        ``schema``): columns added by later schema evolution, and columns
        that version's files never stored, read as nulls."""
        if self._is_delta():
            if version is not None:
                return (
                    self.spark.read.format("delta")
                    .option("versionAsOf", version)
                    .load(self.path)
                )
            return DeltaTable.forPath(self.spark, self.path).toDF()
        ptr = self._pointer()
        if ptr is None:
            return None
        if version is not None and version != int(ptr["version"]):
            if version not in self.versions():
                raise ValueError(
                    f"version {version} not on disk (have {self.versions()}); "
                    "finalize() garbage-collects old versions"
                )
            return self._read_version({**ptr, "version": version})
        return self._read_version(ptr)

    def versions(self) -> list[int]:
        """Versions still on disk (oldest → newest)."""
        if not os.path.isdir(self.path):
            return []
        out = []
        for e in os.listdir(self.path):
            if e.startswith("v") and e[1:].isdigit() and os.path.isdir(
                os.path.join(self.path, e)
            ):
                out.append(int(e[1:]))
        return sorted(out)

    def exists(self) -> bool:
        return self._is_delta() or self.current_version() is not None

    # ---- write side ----

    def merge(
        self, updates: DataFrame, policy: MergePolicy,
        contract: StructType | None = None,
    ) -> None:
        """Upsert ``updates`` under ``policy`` (see module docstring).

        ``contract``: the full schema a NEW table promises its readers
        when ``updates`` carries only some of its columns (recorded as the
        pointer ``schema``; the Delta branch null-fills the batch to it).
        An existing table keeps its own.

        Within-batch dedup (freshest-timestamp winner, content-hash
        tiebreak — the `_dedupe_updates` contract) is FUSED into the
        merge's own exchange (r13 opt, guide §2.4): a standalone
        pre-dedup costs one extra full-batch shuffle per merge (and one
        extra full-TABLE shuffle on the bootstrap load, where the batch
        IS the table). The winner row is identical: ``row_number`` over
        the same partition keys with the same ordering, evaluated on the
        same exchange the merge window / bucket routing already needs."""
        if HAVE_DELTA:
            # UPDATE SET * keeps a target column the batch lacks as it
            # was, so every batch carries the whole target schema (a new
            # table's: the contract), the columns it lacks as nulls.
            target = (
                DeltaTable.forPath(self.spark, self.path).toDF().schema
                if self._is_delta() else contract
            )
            if target is not None:
                have = set(updates.columns)
                updates = updates.select(*[
                    F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in _widen(target, updates.schema).fields
                ])
            self._merge_delta(_dedupe_updates(updates, policy), policy)
            return
        self._publish_pending_changes(drop_orphans=True)
        ptr = self._pointer()
        fuse_bucket = policy.bucket_cols == tuple(policy.keys)
        if ptr is None:
            n = self._sized(_input_bytes(updates))
            if fuse_bucket:
                # Bootstrap, bucket = f(keys): route to the output bucket
                # first and dedupe on that same exchange — ONE shuffle
                # where dedupe-then-write was two.
                bucketed = updates.withColumn(
                    BUCKET_COL, _bucket_expr(policy.bucket_cols, n)
                ).repartition(F.col(BUCKET_COL))
                w0 = Window.partitionBy(BUCKET_COL, *policy.keys).orderBy(
                    *_dedupe_order(updates, policy)
                )
                deduped = (
                    bucketed.withColumn("__rn", F.row_number().over(w0))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
                if policy.change_feed:
                    # Changes stage BEFORE the pointer flip (the commit
                    # point) and publish into changes/ only after it —
                    # see _write_changes for the visibility contract.
                    self._write_changes(
                        1,
                        deduped.drop(BUCKET_COL).withColumn(
                            "_change_type", F.lit("insert")
                        ),
                    )
                self._write_version(
                    deduped, policy, n, touched=None, prev=None, pre_bucketed=True,
                    contract=contract,
                )
            else:
                deduped = _dedupe_updates(updates, policy)
                if policy.change_feed:
                    self._write_changes(
                        1, deduped.withColumn("_change_type", F.lit("insert"))
                    )
                self._write_version(
                    deduped, policy, n, touched=None, prev=None, contract=contract
                )
            self._publish_changes(1)
            return
        n = int(ptr.get("num_buckets") or 0)
        on_disk = _tree_bytes(self._vdir(int(ptr["version"])))
        if tuple(ptr.get("bucket_cols") or ()) != policy.bucket_cols or self._sized(on_disk) > n:
            # bucket columns changed or the table outgrew its count: merge
            # against the whole table once, rewriting every bucket
            n = max(n, self._sized(on_disk + _input_bytes(updates)))
            touched = None
        else:
            # Bucket pruning: only the batch's buckets are read, shuffled,
            # and rewritten; the rest of the table is re-linked untouched.
            # One bucket is touched by any batch: no job needed to say so.
            touched = [0] if n == 1 else _touched_buckets(updates, policy.bucket_cols, n)
        existing = self._read_version(ptr, buckets=touched, stored=True)

        keys = list(policy.keys)
        ex = existing.withColumn("__src", F.lit(0))
        up = updates.withColumn("__src", F.lit(1))
        # Schema evolution: new top-level columns appear as nulls on the old
        # side (parity: delta autoMerge, deltalake.py:71).
        allr = ex.unionByName(up, allowMissingColumns=True)

        # ONE exchange for window + write (r13 opt, guide §2.4): when the
        # bucket is a pure function of the MERGE KEYS (no group_field —
        # with one, bucket = f(group) and an update can MOVE a key
        # between groups, splitting its window frame), route rows to
        # their output bucket FIRST and window-partition by
        # (bucket, keys). Same frames as partitionBy(keys), but
        # hash-partitioning on the bucket column already clusters every
        # (bucket, keys) group, so the window needs no second exchange,
        # and _write_raw(pre_bucketed=True) reuses the same layout for
        # the partitioned write. Previously: window shuffle on keys +
        # write shuffle on bucket = two full-data exchanges.
        if fuse_bucket:
            allr = allr.withColumn(
                BUCKET_COL, _bucket_expr(policy.bucket_cols, n)
            ).repartition(F.col(BUCKET_COL))
            w = Window.partitionBy(BUCKET_COL, *keys)
        else:
            w = Window.partitionBy(*keys)
        # Within-batch dedup on the SAME exchange: updates sort before
        # existing rows (__src desc), then the `_dedupe_updates` order
        # (freshest timestamp, content-hash tiebreak) — so __rn == 1 on a
        # __src == 1 row marks exactly the batch winner that a standalone
        # pre-dedup would have kept. The aggregate flags below are
        # dedup-insensitive (max/min over the key group), and the guard's
        # up_ts = max over all duplicates = the winner's timestamp.
        upd_rn = F.row_number().over(
            w.orderBy(F.col("__src").desc(), *_dedupe_order(updates, policy))
        )
        allr = (
            allr.withColumn("__rn", upd_rn)
            .withColumn("__have_upd", F.max("__src").over(w) == 1)
            .withColumn("__have_ex", F.min("__src").over(w) == 0)
        )

        if policy.update_existing:
            guard = F.lit(True)
            if policy.last_updated_field and _has_field(allr, policy.last_updated_field):
                ts = F.col(policy.last_updated_field).cast("timestamp")
                ex_ts = F.max(F.when(F.col("__src") == 0, ts)).over(w)
                up_ts = F.max(F.when(F.col("__src") == 1, ts)).over(w)
                # update unless the stored row is strictly newer (null-safe:
                # a missing timestamp on either side lets the update through)
                guard = ~F.coalesce(up_ts < ex_ts, F.lit(False))
            allr = allr.withColumn("__take_upd", F.col("__have_upd") & guard)
            keep = ((F.col("__src") == 1) & F.col("__take_upd") & (F.col("__rn") == 1)) | (
                (F.col("__src") == 0) & ~F.col("__take_upd")
            )
        else:
            keep = (F.col("__src") == 0) | (~F.col("__have_ex") & (F.col("__rn") == 1))

        merged = allr.filter(keep)

        # Every helper column this merge may add; drop() skips absent ones.
        helper = ("__src", "__rn", "__have_upd", "__have_ex", "__take_upd", "__g", BUCKET_COL)
        change_parts: list[DataFrame] = []
        if policy.change_feed:
            # Classification reuses the window flags already computed for
            # the merge itself — no extra shuffle, one extra write.
            # __src == 1 parts take only the batch winner (__rn == 1),
            # matching what the pre-fusion standalone dedup emitted.
            win1 = (F.col("__src") == 1) & (F.col("__rn") == 1)
            if policy.update_existing:
                change_parts.append(
                    allr.filter(win1 & ~F.col("__have_ex"))
                    .drop(*helper).withColumn("_change_type", F.lit("insert"))
                )
                change_parts.append(
                    allr.filter(win1 & F.col("__have_ex") & F.col("__take_upd"))
                    .drop(*helper).withColumn("_change_type", F.lit("update_postimage"))
                )
                change_parts.append(
                    allr.filter((F.col("__src") == 0) & F.col("__take_upd"))
                    .drop(*helper).withColumn("_change_type", F.lit("update_preimage"))
                )
            else:
                change_parts.append(
                    allr.filter(win1 & ~F.col("__have_ex"))
                    .drop(*helper).withColumn("_change_type", F.lit("insert"))
                )

        if policy.group_field is not None:
            # J2: existing-only rows in groups touched by this batch are
            # stale → delete. Broadcast the (small) batch group set.
            groups = updates.select(F.col(policy.group_field).alias("__g")).distinct()
            merged = merged.join(
                F.broadcast(groups),
                F.col(policy.group_field) == F.col("__g"),
                "left",
            )
            stale = (F.col("__src") == 0) & ~F.col("__have_upd") & F.col("__g").isNotNull()
            if policy.change_feed:
                change_parts.append(
                    merged.filter(stale).drop(*helper)
                    .withColumn("_change_type", F.lit("delete"))
                )
            merged = merged.filter(~stale).drop("__g")

        out = merged.drop("__src", "__rn", "__have_upd", "__have_ex", "__take_upd")
        next_v = (self.current_version() or 0) + 1
        if policy.change_feed and change_parts:
            changes = change_parts[0]
            for p in change_parts[1:]:
                changes = changes.unionByName(p, allowMissingColumns=True)
            # Pre-flip stage: the pointer flip below is the commit point;
            # the publish after it is what makes the version visible to
            # feed consumers (crash between the two is completed lazily by
            # _publish_pending_changes).
            self._write_changes(next_v, changes)
        self._write_version(
            out, policy, n, touched=touched, prev=ptr, pre_bucketed=fuse_bucket
        )
        self._publish_changes(next_v)

    def delete_ids(
        self, ids: DataFrame | list[str], id_col: str = "id",
        change_feed: bool | None = None,
    ) -> None:
        """K2: delete rows by id. DataFrame-source anti-join — no 50k
        chunking needed (the reference chunks to protect a 6 GB driver;
        an anti-join never materializes the id list on the driver).

        Bucket-pruned when the table is bucketed by exactly ``id_col``;
        a group-bucketed or composite-keyed table rewrites all buckets
        (the ids alone can't locate the rows)."""
        if isinstance(ids, list):
            ids = self.spark.createDataFrame([(i,) for i in ids], f"{id_col} string")
        # No .distinct() (r13 opt): duplicate ids change neither the
        # broadcast anti-join (remaining) nor the semi-join (deleted
        # change rows), and the touched-bucket set below dedupes its own
        # projection — the distinct was one extra shuffle per delete.
        ids = ids.select(F.col(ids.columns[0]).alias("__del_id"))
        if self._is_delta():
            # Delta MERGE delete: file-pruned on the id equi-condition
            # (ref formats/deltalake.py:139-155 delete_records).
            target = DeltaTable.forPath(self.spark, self.path)
            (
                target.alias("t")
                .merge(ids.alias("u"), f"t.{id_col} = u.__del_id")
                .whenMatchedDelete()
                .execute()
            )
            return
        self._publish_pending_changes(drop_orphans=True)
        ptr = self._pointer()
        if ptr is None:
            return

        bucket_cols = tuple(ptr.get("bucket_cols") or (id_col,))
        num_buckets = int(ptr.get("num_buckets") or 1)
        by_id = bucket_cols == (id_col,)
        touched = None
        if by_id:
            touched = [0] if num_buckets == 1 else _touched_buckets(ids, ("__del_id",), num_buckets)
        if change_feed is None:
            # Inherit from the table: a feed-maintained table must never
            # commit a silent hole that CDF consumers would skip forever.
            change_feed = bool(ptr.get("change_feed", False))
        # SHUFFLE-FREE delete (r13 opt, guide §2.4): the stored layout IS
        # the output layout — every scanned row already carries its hive
        # BUCKET_COL and a row never changes bucket on delete — so the
        # broadcast anti-join plus a pre_bucketed write moves zero rows
        # over the network. (Each write task may hold several buckets
        # from scan packing; the writer's per-partition-value file split
        # handles that, and the leading BUCKET_COL sort keeps one file
        # per bucket per task.)
        existing = self._read_version(ptr, buckets=touched, keep_bucket_col=True, stored=True)
        remaining = existing.join(
            F.broadcast(ids), existing[id_col] == F.col("__del_id"), "left_anti"
        )
        next_v = (self.current_version() or 0) + 1
        if change_feed:
            deleted = existing.drop(BUCKET_COL).join(
                F.broadcast(ids), F.col(id_col) == F.col("__del_id"), "left_semi"
            )
            self._write_changes(next_v, deleted.withColumn("_change_type", F.lit("delete")))
        self._write_raw(
            remaining, bucket_cols, num_buckets, sort_cols=bucket_cols,
            touched=touched, prev=ptr, change_feed=change_feed,
            pre_bucketed=True,
        )
        self._publish_changes(next_v)

    def finalize(self, keep_versions: int = 1, keep_changes: int | None = None) -> None:
        """K3: compaction analog — drop superseded version directories.

        ``keep_changes``: change-feed retention (Delta's
        ``delta.changeDataFeed`` + log retention analog). None keeps the
        whole feed; N keeps the last N committed FEED ENTRIES (not table
        versions — feedless commits don't shrink the kept window) and
        drops older ones, oldest first, each via an atomic
        rename-then-delete so a crash can neither leave a half-deleted
        version that consumers would read as complete nor a
        non-contiguous feed. Without retention the feed grows without
        bound at scale. An IncrementalRollup behind the horizon fails
        loudly and offers rebuild(); a checkpointed stream_changes
        consumer behind it silently loses the truncated commits (the
        file source never lists deleted files) — drain streams past the
        horizon BEFORE truncating, exactly as with Delta's VACUUM vs
        streaming-source retention."""
        v = self.current_version()
        if v is None:
            return
        for entry in os.listdir(self.path):
            if entry.startswith("v") and entry[1:].isdigit() and int(entry[1:]) <= v - keep_versions:
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)
        if keep_changes is not None:
            self._publish_pending_changes()  # never GC an unpublished commit
            trash = os.path.join(self.path, ".changes_trash")
            # sweep any half-deleted trash from a previous crashed GC
            if os.path.isdir(trash):
                shutil.rmtree(trash, ignore_errors=True)
            feed = self.change_versions()
            # clamp: keep_changes > len(feed) must drop NOTHING (a negative
            # stop index would silently delete the oldest entries instead)
            drop = feed[: max(0, len(feed) - keep_changes)] if keep_changes > 0 else feed
            for ver in drop:  # ascending: a crash keeps the feed contiguous
                os.makedirs(trash, exist_ok=True)
                dst = os.path.join(trash, f"v{ver}")
                os.replace(self._changes_dir(ver), dst)  # atomic disappearance
                shutil.rmtree(dst, ignore_errors=True)

    def _merge_delta(self, updates: DataFrame, policy: MergePolicy) -> None:
        """Real Delta MERGE — same semantics, file-pruned and transactional.
        Runs wherever delta-spark is installed; covered in CI by a fake
        DeltaTable that executes the same builder spec
        (tests/test_merge_sink.py::FakeDeltaTable)."""
        # schema evolution on UpdateAll/InsertAll — parity with the
        # reference's write_deltalake(schema_mode="merge") (deltalake.py:71)
        self.spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")
        if policy.change_feed:
            # Native CDF: default the property so the bootstrap write (and
            # any re-created table) carries delta.enableChangeDataFeed;
            # read side is ManagedTable.read_changes → readChangeFeed.
            self.spark.conf.set(
                "spark.databricks.delta.properties.defaults.enableChangeDataFeed",
                "true",
            )
        if not DeltaTable.isDeltaTable(self.spark, self.path):
            self._delta_write_initial(updates)
            return
        target = DeltaTable.forPath(self.spark, self.path)
        cond = " AND ".join(f"t.{k} = u.{k}" for k in policy.keys)
        m = target.alias("t").merge(updates.alias("u"), cond)
        if policy.update_existing:
            if policy.last_updated_field:
                f = policy.last_updated_field
                m = m.whenMatchedUpdateAll(
                    condition=(
                        f"u.{f} IS NULL OR t.{f} IS NULL OR "
                        f"CAST(u.{f} AS TIMESTAMP) >= CAST(t.{f} AS TIMESTAMP)"
                    )
                )
            else:
                m = m.whenMatchedUpdateAll()
        m = m.whenNotMatchedInsertAll()
        if policy.group_field is not None:
            groups = [
                r["__g"]
                for r in updates.select(F.col(policy.group_field).alias("__g")).distinct().collect()
            ]
            quoted = ", ".join("'" + str(g).replace("'", "''") + "'" for g in groups if g is not None)
            if quoted:
                m = m.whenNotMatchedBySourceDelete(f"t.{policy.group_field} IN ({quoted})")
        m.execute()

    def _delta_write_initial(self, updates: DataFrame) -> None:  # pragma: no cover
        """Bootstrap write through the delta datasource (tests substitute
        a parquet-backed fake here; everything after the bootstrap runs
        through the DeltaTable merge-builder API, which IS under test)."""
        (
            updates.write.format("delta")
            .option("mergeSchema", "true")
            .mode("overwrite")
            .save(self.path)
        )

    # ---- internals ----

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def _sized(self, nbytes: int) -> int:
        """Fewest power-of-two buckets (<= MAX_BUCKETS) of one scan task each for ``nbytes``."""
        split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        tasks = max(1, -(-nbytes // split))
        return min(MAX_BUCKETS, 1 << (tasks - 1).bit_length())

    def _write_version(
        self, df: DataFrame, policy: MergePolicy, num_buckets: int,
        touched: list[int] | None, prev: dict | None, pre_bucketed: bool = False,
        contract: StructType | None = None,
    ) -> int:
        # range-cluster data files by key so parquet min/max footers prune key
        # lookups — the fallback's analog of Delta liquid clustering
        # (clusterBy(uniqueness_fields), ref deltalake.py:103-106)
        return self._write_raw(
            df, policy.bucket_cols, num_buckets,
            sort_cols=policy.keys, touched=touched, prev=prev,
            change_feed=policy.change_feed,
            pre_bucketed=pre_bucketed, fold=touched is None, contract=contract,
        )

    def _write_raw(
        self,
        df: DataFrame,
        bucket_cols: tuple[str, ...],
        num_buckets: int,
        sort_cols: tuple[str, ...],
        touched: list[int] | None,
        prev: dict | None,
        change_feed: bool = False,
        pre_bucketed: bool = False,
        fold: bool = False,
        contract: StructType | None = None,
    ) -> int:
        """Write the next version: hive-partition by bucket; one shuffle
        routes rows to their bucket, rows sorted by ``sort_cols`` within
        each file so parquet min/max footers prune later key lookups (the
        liquid-clustering analog). Untouched buckets re-link from the
        previous version (metadata-only). The pointer flip is atomic.

        ``pre_bucketed``: the caller already attached BUCKET_COL and
        hash-partitioned the frame on it (merge fuses that exchange with
        its window — r13 opt), so the routing shuffle is skipped here.
        ``fold``: fold a whole-table write (module docstring).
        ``contract``: a new table's full schema (see ``merge``)."""
        v = (self.current_version() or 0) + 1
        out = self._vdir(v)
        if pre_bucketed:
            schema = StructType(
                [f for f in df.schema.fields if f.name != BUCKET_COL]
            )
            bucketed = df  # already hash-partitioned on BUCKET_COL upstream
        else:
            schema = df.schema
            bucketed = df.withColumn(
                BUCKET_COL, _bucket_expr(bucket_cols, num_buckets)
            ).repartition(F.col(BUCKET_COL))
        (
            bucketed
            .sortWithinPartitions(BUCKET_COL, *sort_cols)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(out)
        )
        if fold:  # never below the recorded count
            floor = int(prev.get("num_buckets") or 0) if prev else 0
            num_buckets = _fold_buckets(out, num_buckets, max(floor, self._sized(_tree_bytes(out))))
        if touched is not None and prev is not None:
            prev_dir = self._vdir(int(prev["version"]))
            keep = {f"{BUCKET_COL}={t}" for t in touched}
            for entry in self._bucket_dirs(prev_dir):
                if entry not in keep:
                    _link_tree(os.path.join(prev_dir, entry), os.path.join(out, entry))
        # The pointer records the schema in the form the file source reads
        # it back (nullable at every depth), whatever the table's history.
        base = contract or StructType([])
        was: list[str] = []
        if prev is not None:
            base = StructType.fromJson(json.loads(prev["schema"]))
            was = prev.get("stored", base.fieldNames())
        full = _nullable(_widen(base, schema))
        stored = set(was) | set(schema.fieldNames())
        ptr = os.path.join(self.path, CURRENT_POINTER)
        tmp = ptr + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": v,
                    "schema": full.json(),
                    "stored": [n for n in full.fieldNames() if n in stored],
                    "bucket_cols": list(bucket_cols),
                    "num_buckets": num_buckets,
                    "change_feed": change_feed,
                },
                fh,
            )
        os.replace(tmp, ptr)  # atomic flip
        return v

    # ---- change data feed (fallback analog of Delta CDF) ----

    def _changes_dir(self, v: int) -> str:
        return os.path.join(self.path, "changes", f"v{v}")

    def _staging_dir(self, v: int) -> str:
        # Dot-prefixed AND outside changes/ — invisible both to Spark file
        # sources (hidden-path rule) and to the streaming tail of changes/.
        return os.path.join(self.path, ".changes_staging", f"v{v}")

    def _write_changes(self, version: int, changes: DataFrame) -> None:
        """Stage the change files; ``_publish_changes`` moves them into
        ``changes/vN`` only AFTER the pointer flip. The published dir is
        therefore append-only-by-commit: a path under changes/ implies its
        version committed, and a version's files are never rewritten — so
        the streaming tail (streaming/incremental.py:stream_changes) can
        never deliver phantom (uncommitted) rows or re-deliver a version
        whose number was reused after a crashed merge."""
        changes.write.mode("overwrite").parquet(self._staging_dir(version))

    def _publish_changes(self, version: int) -> None:
        dst = self._changes_dir(version)
        src = self._staging_dir(version)
        if not os.path.isdir(src):
            return
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.isdir(dst):  # pre-staging legacy layout only
            shutil.rmtree(dst)
        try:
            os.replace(src, dst)
        except FileNotFoundError:
            # TOCTOU with a concurrent publisher: the lazy sweep runs from
            # reader paths (change_versions/stream_changes) as well as
            # writers, so another process can finish the same publish
            # between our isdir check and the replace — that is success.
            if not os.path.isdir(dst):
                raise

    def _publish_pending_changes(self, drop_orphans: bool = False) -> None:
        """Crash recovery, run lazily from every feed access / merge:
        a staged dir at or below the committed version is a commit whose
        publish step was interrupted — complete it. A staged dir ABOVE
        the committed version is dropped only from WRITER paths
        (``drop_orphans=True`` — merge/delete_ids, where it is an orphan
        of a crashed merge whose number is about to be reused): a READER
        must leave it alone, because the same v > cur state is also what
        a concurrent in-flight merge looks like between its stage and
        its pointer flip — deleting it from a read path would silently
        commit that version with no change feed (code-review r4
        finding). Writer overwrite of the staging dir makes the drop
        cosmetic anyway."""
        root = os.path.join(self.path, ".changes_staging")
        if not os.path.isdir(root):
            return
        cur = self.current_version() or 0
        for e in os.listdir(root):
            if not (e.startswith("v") and e[1:].isdigit()):
                continue
            v = int(e[1:])
            if v <= cur:
                self._publish_changes(v)
            elif drop_orphans:
                shutil.rmtree(os.path.join(root, e), ignore_errors=True)

    def change_versions(self) -> list[int]:
        """Committed change versions only. Published dirs are committed by
        construction (see ``_write_changes``); the ≤-current cap is kept
        for tables written by the pre-staging layout, and the pending
        sweep completes any publish a crash interrupted."""
        self._publish_pending_changes()
        root = os.path.join(self.path, "changes")
        if not os.path.isdir(root):
            return []
        cur = self.current_version() or 0
        return sorted(
            int(e[1:]) for e in os.listdir(root)
            if e.startswith("v") and e[1:].isdigit() and int(e[1:]) <= cur
        )

    def read_changes(
        self, from_version: int = 1, to_version: int | None = None
    ) -> DataFrame | None:
        """Change data feed: every insert / update pre+post image / delete
        the merges in [from_version, to_version] produced, with a
        ``_commit_version`` column — incremental consumers re-derive
        downstream state from KB-sized deltas instead of diffing full
        snapshots. Requires merges to have run with
        ``MergePolicy(change_feed=True)`` (Delta branch: the native
        readChangeFeed with delta.enableChangeDataFeed)."""
        if self._is_delta():
            # Delta commit numbering starts at 0 (the bootstrap write);
            # the fallback starts at v1 — map the default accordingly.
            reader = (
                self.spark.read.format("delta")
                .option("readChangeFeed", "true")
                .option("startingVersion", max(0, from_version - 1))
            )
            if to_version is not None:
                reader = reader.option("endingVersion", to_version)
            return reader.load(self.path)
        versions = [
            v for v in self.change_versions()
            if v >= from_version and (to_version is None or v <= to_version)
        ]
        if not versions:
            return None
        out = None
        for v in versions:
            part = self.spark.read.parquet(self._changes_dir(v)).withColumn(
                "_commit_version", F.lit(v)
            )
            out = part if out is None else out.unionByName(part, allowMissingColumns=True)
        return out


def dedupe_last_wins(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """F6: within-batch dedup keeping the LAST occurrence by ``order_col``.

    The reference reverse-scans the batch list keeping last-seen
    (etl/tasks/base.py:303-335); its order is file order. Spark needs the
    order made explicit — callers derive ``order_col`` from e.g.
    input_file_name + a per-file position. Window dedup, one shuffle.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def _dedupe_order(updates: DataFrame, policy: MergePolicy) -> list[Column]:
    """The within-batch winner ordering: freshest timestamp first (when
    the batch carries the field), content-hash tiebreak so the survivor
    is deterministic across runs/partitionings. The hash is over the
    BATCH's own columns — evaluating these expressions on a frame that
    unions the batch with existing rows ranks the batch rows exactly as
    a standalone dedup of the batch would (extra columns are ignored,
    batch values are unchanged by the union)."""
    order = [F.xxhash64(F.to_json(F.struct(*updates.columns))).desc()]
    if policy.last_updated_field and _has_field(updates, policy.last_updated_field):
        order.insert(0, F.col(policy.last_updated_field).cast("timestamp").desc_nulls_last())
    return order


def _dedupe_updates(updates: DataFrame, policy: MergePolicy) -> DataFrame:
    """Collapse duplicate keys inside one batch: freshest timestamp wins;
    exact-tie rows fall back to a content-hash tiebreak so the survivor
    is deterministic across runs/partitionings (a distributed batch has
    no file order; callers who need true last-wins ordering use
    dedupe_last_wins with an explicit order column — F6). Used by the
    Delta branch and the non-key-bucketed bootstrap; the parquet merge
    path fuses the same window into its own exchange (see merge())."""
    keys = list(policy.keys)
    w = Window.partitionBy(*keys).orderBy(*_dedupe_order(updates, policy))
    return updates.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
