"""Incremental materialized-view maintenance over the merge sink's
change data feed.

The scale story: a downstream rollup (counts/sums per group) is kept
current by applying each commit's CHANGE rows — +insert, −delete,
−update_preimage, +update_postimage — instead of rescanning the source
table. At 100 TB the source scan is the cost that matters; the feed is
proportional to what changed, and sum/count aggregates are exactly
self-inverting under signed application, so the incremental state equals
a from-scratch recompute at every version (pytest-pinned).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.sinks.merge import ManagedTable, MergePolicy

_APPLIED_STATE = "_cdf_applied.json"


class IncrementalRollup:
    """A (group_cols → count, sum(value_col)) rollup maintained from a
    source ManagedTable's change feed.

    ``refresh()`` applies every unapplied commit version and upserts the
    touched groups into the rollup's own ManagedTable (itself versioned
    and mergeable). Groups whose count reaches zero stay as zero-count
    rows — consumers filter ``n_rows > 0`` — so the rollup merge never
    needs a delete path.
    """

    def __init__(
        self,
        spark: SparkSession,
        source: ManagedTable,
        root: str,
        name: str,
        group_cols: list[str],
        value_col: str,
    ):
        self.spark = spark
        self.source = source
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.table = ManagedTable(spark, root, name)
        self.policy = MergePolicy(keys=tuple(group_cols), last_updated_field=None)
        self._state_path = os.path.join(root, f"{name}.{_APPLIED_STATE}")

    def _state(self) -> dict:
        if not os.path.exists(self._state_path):
            return {"version": 0, "prev_version": 0, "pending_rollup_version": None}
        with open(self._state_path) as fh:
            return json.load(fh)

    def applied_version(self) -> int:
        """Source change version the rollup actually reflects.

        Crash-safe handshake: the state file is written BEFORE the rollup
        merge, carrying the rollup version that merge is about to commit.
        If that rollup version never materialized, the previous refresh
        died mid-flight and the state rolls back to ``prev_version`` —
        the deltas are re-applied instead of double-counted or dropped."""
        st = self._state()
        pending = st.get("pending_rollup_version")
        if pending is not None and (self.table.current_version() or 0) < pending:
            return int(st.get("prev_version", 0))
        return int(st["version"])

    def refresh(self) -> int:
        """Apply all unapplied commits; returns how many were applied."""
        if self.source._is_delta():
            # The fallback handshake (state file + _CURRENT pointer +
            # changes/ dir) does not exist on a Delta table, so this path
            # would silently apply nothing and report 0 forever.  The
            # Delta-native shape is a Structured Streaming job:
            # spark.readStream.format("delta").option("readChangeFeed",
            # "true") → foreachBatch(signed-delta merge) with the stream's
            # checkpoint as the applied-version state.  Not implementable
            # here (delta-spark unavailable; see sinks/merge.py HAVE_DELTA).
            raise NotImplementedError(
                "IncrementalRollup.refresh over a native Delta source: use "
                "readChangeFeed streaming + foreachBatch merge; the fallback "
                "state handshake does not apply to Delta commit numbering"
            )
        applied = self.applied_version()
        start = applied + 1
        # Read the committed version BEFORE listing the feed: a merge
        # committing between the two calls then only ADDS versions beyond
        # cur (applied next refresh) instead of making a healthy feed look
        # like it has a hole at the top.
        cur = self.source.current_version() or 0
        available = self.source.change_versions()
        todo = [v for v in available if start <= v <= cur]
        # Feed-continuity guard: every version in (applied, cur] must have
        # a feed entry. finalize(keep_changes=N) may have GC'd versions
        # this rollup never applied, and a delete_ids(...,
        # change_feed=False) leaves a MIDDLE hole — both silently diverge
        # the rollup if skipped, so any gap fails loudly. Recovery:
        # rebuild() recomputes from a full source scan.
        if todo != list(range(start, cur + 1)):
            raise ValueError(
                f"change feed has a hole in ({applied}, {cur}] "
                f"(feed entries there: {todo}) — the feed was truncated or "
                "a version committed without changes; call rebuild() to "
                "recompute this rollup from a full source scan"
            )
        if not todo:
            return 0
        ch = self.source.read_changes(from_version=todo[0], to_version=todo[-1])
        sign = (
            F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
            .when(F.col("_change_type").isin("delete", "update_preimage"), -1)
            .otherwise(0)
        )
        deltas = ch.groupBy(*self.group_cols).agg(
            F.sum(sign).cast("bigint").alias("__dn"),
            F.sum(sign * F.col(self.value_col).cast("double")).alias("__dv"),
        )
        old = self.table.read()
        if old is None:
            merged = deltas.select(
                *self.group_cols,
                F.col("__dn").alias("n_rows"),
                F.col("__dv").alias("sum_value"),
            )
        else:
            # LEFT join from the deltas: only TOUCHED groups are read,
            # recombined and upserted — untouched groups survive through
            # the merge sink untouched, so refresh cost is proportional
            # to the change set, and the merge's bucket pruning keeps
            # working (a full-outer join would rewrite every group).
            merged = (
                deltas.join(old, self.group_cols, "left")
                .select(
                    *self.group_cols,
                    (F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("__dn"))
                    .cast("bigint")
                    .alias("n_rows"),
                    (
                        F.coalesce(F.col("sum_value"), F.lit(0.0)) + F.col("__dv")
                    ).alias("sum_value"),
                )
            )
        # state-first handshake (see applied_version)
        os.makedirs(os.path.dirname(self._state_path), exist_ok=True)
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": todo[-1],
                    "prev_version": applied,
                    "pending_rollup_version": (self.table.current_version() or 0) + 1,
                },
                fh,
            )
        os.replace(tmp, self._state_path)
        self.table.merge(merged, self.policy)
        return len(todo)

    def rebuild(self) -> int:
        """Recompute the rollup from a FULL source scan and fast-forward
        the applied version to the source's current commit — the recovery
        path for a feed hole (refresh()'s ValueError) or a rollup left
        behind a finalize(keep_changes=N) horizon. Groups that vanished
        from the source are zeroed (read() filters n_rows > 0), since the
        rollup merge itself has no delete path. Returns the source
        version the rollup now reflects."""
        if self.source._is_delta():
            # Same reason as refresh(): the fallback state handshake is
            # meaningless against Delta commit numbering.
            raise NotImplementedError(
                "IncrementalRollup.rebuild over a native Delta source: use "
                "readChangeFeed streaming + foreachBatch merge; the fallback "
                "state handshake does not apply to Delta commit numbering"
            )
        # Pin the version FIRST, then scan that exact snapshot: a source
        # merge committing between a floating read() and a later
        # current_version() read would make the state claim a version
        # whose rows the rollup lacks — refresh() would then skip that
        # commit's deltas forever (advice r4). Same ordering discipline
        # as refresh()'s "read the committed version BEFORE listing the
        # feed".
        target = self.source.current_version() or 0
        src = self.source.read(version=target) if target else self.source.read()
        if src is None:
            fresh = None
        else:
            fresh = src.groupBy(*self.group_cols).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col(self.value_col).cast("double")).alias("sum_value"),
            )
        old = self.table.read()
        if old is not None:
            stale = old.select(*self.group_cols)
            if fresh is not None:
                stale = stale.join(fresh.select(*self.group_cols), self.group_cols, "left_anti")
            zeros = stale.select(
                *self.group_cols,
                F.lit(0).cast("bigint").alias("n_rows"),
                F.lit(0.0).alias("sum_value"),
            )
            fresh = zeros if fresh is None else fresh.unionByName(zeros)
        if fresh is None:
            # nothing ever written anywhere: just record the version
            fresh_rows: list = []
            from pyspark.sql.types import (
                DoubleType, LongType, StringType, StructField, StructType,
            )
            schema = StructType(
                [StructField(c, StringType()) for c in self.group_cols]
                + [StructField("n_rows", LongType()), StructField("sum_value", DoubleType())]
            )
            fresh = self.spark.createDataFrame(fresh_rows, schema)
        os.makedirs(os.path.dirname(self._state_path), exist_ok=True)
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": target,
                    "prev_version": self.applied_version(),
                    "pending_rollup_version": (self.table.current_version() or 0) + 1,
                },
                fh,
            )
        os.replace(tmp, self._state_path)
        self.table.merge(fresh, self.policy)
        return target

    def read(self) -> DataFrame | None:
        df = self.table.read()
        return None if df is None else df.filter(F.col("n_rows") > 0)
