"""Incrementally-maintained materialized aggregates (IVM).

A grouped SUM/COUNT view over a 100 TB fact table should never be
recomputed from scratch because a day's worth of rows arrived — the
view is maintainable from the *delta* alone when every aggregate is an
abelian-group fold (DBSP / Materialize's core observation): inserts add
``(+1, +x)``, deletes add ``(-1, -x)``, and the view is the group-wise
sum of all deltas with empty groups (multiplicity 0) dropped.

:class:`MaterializedAggregate` implements exactly that contract on
parquet state, with the repo's exactly-once discipline:

- each ``apply_delta(delta, run_id=…)`` writes the delta's per-group
  signed partials to ``run=<run_id>/`` with idempotent overwrite — a
  replayed run rewrites an identical directory instead of
  double-counting (same epoch-partition pattern as
  ``streaming/admission.py`` / ``streaming/anomaly.py``);
- ``current()`` re-aggregates the partials: O(groups × runs) rows, not
  O(facts), and DECIMAL accumulators make the result bit-equal to a
  from-scratch aggregation of the surviving rows;
- ``compact()`` folds run partials into one baseline.

Only invertible aggregates are offered (``count``, ``sum``; ``avg`` is
their quotient at read time). MIN/MAX are deliberately absent: they are
not invertible under deletes — maintaining them incrementally requires
per-group recomputation on retraction, which is a different (and much
more expensive) maintenance plan; run :mod:`.profile` or a plain
aggregate for those.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from dataeng_azure_spotify_spark.operators.artifact import committed

#: multiplicity column carried in state partials
_MULT = "__mult"


def _safe_run_dir(run_id: str) -> str:
    from dataeng_azure_spotify_spark.statefs import validate_run_id

    return f"run={validate_run_id(run_id, what='state')}"


class MaterializedAggregate:
    """A grouped COUNT/SUM view maintained from signed deltas.

    ``sums`` maps output column → source column; every source column is
    accumulated as DECIMAL(18,4) (exact, order-independent,
    re-aggregable). The view always carries ``n_rows`` (the live
    multiplicity) and drops groups whose multiplicity reaches 0.
    """

    def __init__(
        self,
        state_dir: str,
        keys: list[str],
        sums: dict[str, str] | None = None,
    ) -> None:
        if not keys:
            raise ValueError("at least one grouping key is required")
        self.state_dir = state_dir
        self.keys = list(keys)
        self.sums = dict(sums or {})
        reserved = {"n_rows", "run", _MULT}
        bad = (set(self.sums) & set(self.keys)) | (
            reserved & (set(self.sums) | set(self.keys))
        )
        if bad:
            # "run" is the state partition column and __mult the
            # multiplicity accumulator — a key or sum with either name
            # would collide with the parquet partition schema / state
            raise ValueError(
                f"output columns collide with keys/reserved names: {bad}"
            )

    # -- write side --------------------------------------------------------

    def apply_delta(
        self,
        delta: DataFrame,
        run_id: str,
        op_col: str | None = None,
    ) -> None:
        """Fold one batch of changes into state.

        ``op_col`` (when given) holds +1 for inserts and -1 for deletes;
        omitted means insert-only. The batch's per-group partial lands
        in its own ``run=<run_id>`` directory — replays overwrite it
        byte-identically, so at-least-once delivery yields exactly-once
        state.
        """
        need = [*self.keys, *self.sums.values()]
        absent = [c for c in dict.fromkeys(need) if c not in delta.columns]
        if absent:
            # loud refusal instead of Spark's resolution error: the
            # common cause is a change feed crossing a schema change
            # that DROPPED a summed column — the view cannot be
            # maintained through that commit; rebuild it from the
            # post-change snapshot instead
            raise ValueError(
                f"apply_delta(run_id={run_id!r}): delta lacks "
                f"column(s) {absent} required by this view "
                f"(keys={self.keys}, sums={self.sums})"
            )
        mult = (
            F.col(op_col).cast("long") if op_col else F.lit(1).cast("long")
        )
        aggs = [F.sum(_MULT).alias(_MULT)]
        for out, srccol in self.sums.items():
            aggs.append(
                F.sum(
                    F.col(srccol).cast("decimal(18,4)") * F.col(_MULT)
                ).cast("decimal(18,4)").alias(out)
            )
        partial = (
            delta.withColumn(_MULT, mult)
            .groupBy(*self.keys)
            .agg(*aggs)
        )
        partial.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, _safe_run_dir(run_id))
        )

    # -- read side ---------------------------------------------------------

    def _folded(self, spark: SparkSession) -> DataFrame:
        from dataeng_azure_spotify_spark.statefs import statefs_for

        fs = statefs_for(self.state_dir, spark)
        if not any(
            d.startswith("run=")
            for d in (
                fs.listdir(self.state_dir)
                if fs.isdir(self.state_dir)
                else ()
            )
        ):
            # fail with a CLEAR message instead of Spark's opaque
            # PATH_NOT_FOUND / cannot-infer-schema: key dtypes are only
            # known from data, so an empty typed view cannot be
            # synthesized here (unlike IncrementalDedup's fixed-schema
            # state) — readers deployed ahead of the writer should
            # treat this error as "view not materialized yet"
            raise ValueError(
                f"MaterializedAggregate at {self.state_dir!r} has no "
                "state yet — apply_delta must run before current()/"
                "compact()"
            )
        partials = spark.read.parquet(self.state_dir).drop("run")
        aggs = [F.sum(_MULT).alias(_MULT)]
        for out in self.sums:
            aggs.append(F.sum(out).cast("decimal(18,4)").alias(out))
        return partials.groupBy(*self.keys).agg(*aggs)

    def current(self, spark: SparkSession) -> DataFrame:
        """The maintained view: keys, live sums, ``n_rows``; groups with
        zero surviving rows are dropped (their sums are 0 by
        construction, not just hidden)."""
        folded = self._folded(spark)
        cols = [*self.keys, *self.sums, F.col(_MULT).alias("n_rows")]
        return folded.filter(F.col(_MULT) > 0).select(*cols)

    #: control-plane marker: highest snapshot-table version this view
    #: has folded via :meth:`sync` (hidden from Spark's parquet reader
    #: by the underscore prefix). Without it, :meth:`compact` — which
    #: folds the ``run=cdf-vN`` partitions away — would erase the
    #: applied-version record and the next ``sync`` would re-pull and
    #: DOUBLE-COUNT every commit on top of the baseline.
    _SYNC_MARKER = "_synced_upto"

    def _marker_path(self) -> str:
        return os.path.join(self.state_dir, self._SYNC_MARKER)

    def _synced_upto(self, fs) -> int:
        if not fs.exists(self._marker_path()):
            return 0
        return int(fs.read_bytes(self._marker_path()).decode().strip())

    def _committed_cdf_versions(self, fs, run_prefix: str) -> "set[int]":
        """Versions with a COMMITTED ``run={prefix}N`` partial
        (``_SUCCESS`` present — a crashed apply must not count)."""
        pref = f"run={run_prefix}"
        out = set()
        for d in (
            fs.listdir(self.state_dir) if fs.isdir(self.state_dir) else ()
        ):
            if not (d.startswith(pref) and d[len(pref):].isdigit()):
                continue
            if committed(fs, os.path.join(self.state_dir, d)):
                out.add(int(d[len(pref):]))
        return out

    def compact(
        self, spark: SparkSession, run_prefix: str = "cdf-v"
    ) -> None:
        """Fold all run partials into a single baseline run. Not safe
        concurrently with a writer (same caveat as
        ``streaming.anomaly.AnomalyMonitor.compact_state``). The
        ``_synced_upto`` marker survives the fold — and, because the
        fold erases the ``run={run_prefix}N`` partitions that record
        which table versions were applied, the marker is first
        advanced across the contiguous prefix of committed change-feed
        versions being folded (covers views maintained via
        :meth:`apply_change_feed` directly, where no :meth:`sync` ever
        wrote a marker): without this, the next ``sync`` would re-pull
        every commit onto the baseline and silently double-count.
        Uncommitted (crashed, ``_SUCCESS``-less) version partials are
        removed before folding — they are re-derived by the next
        ``sync`` — and committed versions stranded ABOVE such a gap
        refuse the compact loudly (folding them would double-count
        once sync re-pulls the gap)."""
        from dataeng_azure_spotify_spark.sources.layout import atomic_swap_dir
        from dataeng_azure_spotify_spark.statefs import statefs_for

        fs = statefs_for(self.state_dir, spark)
        marker = self._synced_upto(fs)
        cdf = self._committed_cdf_versions(fs, run_prefix)
        # A crashed apply leaves an uncommitted (_SUCCESS-less)
        # run={prefix}N directory whose task-committed fragments
        # _folded would sweep into the baseline — and sync, seeing the
        # version as not applied, would re-derive it on top: a silent
        # double count. Remove uncommitted version dirs before folding.
        pref = f"run={run_prefix}"
        for d in fs.listdir(self.state_dir) if fs.isdir(self.state_dir) else ():
            if (
                d.startswith(pref)
                and d[len(pref):].isdigit()
                and int(d[len(pref):]) not in cdf
            ):
                fs.rmtree(os.path.join(self.state_dir, d))
        # The marker may only advance across a CONTIGUOUS committed
        # prefix: with committed {1,3} and a crashed v2, max(cdf)=3
        # would skip v2 forever (sync resumes from marker+1). Committed
        # versions above a gap cannot be folded either — they would be
        # baked into the baseline and re-derived when sync re-pulls the
        # gap — so non-contiguity is a loud error, not a fold.
        upto = marker
        while upto + 1 in cdf:
            upto += 1
        above_gap = sorted(v for v in cdf if v > upto + 1)
        if above_gap:
            raise ValueError(
                f"MaterializedAggregate.compact at {self.state_dir!r}: "
                f"committed change-feed versions {above_gap} sit above "
                f"the uncommitted gap at version {upto + 1} — run "
                "sync() to re-derive the gap before compacting"
            )
        marker = upto
        folded = self._folded(spark).filter(F.col(_MULT) != 0)

        def _write(tmp: str) -> None:
            folded.write.mode("overwrite").parquet(
                os.path.join(tmp, "run=baseline")
            )
            if marker > 0:
                fs.write_atomic(
                    os.path.join(tmp, self._SYNC_MARKER),
                    str(marker).encode(),
                )

        atomic_swap_dir(self.state_dir, _write)

    def apply_change_feed(
        self, feed: DataFrame, run_prefix: str = "cdf-v"
    ) -> "list[int]":
        """Maintain the view from a snapshot table's
        :meth:`...streaming.gold.ParquetSnapshotTable.change_feed` —
        the CDF→IVM composition (r10): Delta-CDF change types map
        exactly onto the abelian-group deltas this view folds
        (``insert``/``update_postimage`` → +1,
        ``delete``/``update_preimage`` → −1), so a downstream grouped
        SUM/COUNT view follows a gold table incrementally without ever
        re-reading a full snapshot.

        Each ``_commit_version`` in ``feed`` lands as its own
        ``run={run_prefix}{version}`` partial — the run id depends only
        on the COMMIT, not on the pull window, so overlapping pulls
        (``change_feed(1)`` today, ``change_feed(3)`` tomorrow)
        re-overwrite identical partials instead of double-counting:
        consumers may re-pull any window, or poll from
        ``max(applied)+1``. Returns the version numbers applied.

        Scale: the feed is materialized ONCE (localCheckpoint —
        executor-side, O(changes in window), bounded by retention)
        before the distinct-collect and the per-version partials, so an
        expensive feed lineage (e.g. the pre-upgrade snapshot-diff
        fallback's full-outer joins) never re-executes per version;
        then one O(versions) distinct-collect + one grouped partial per
        version (each O(changes in that commit)); the read side stays
        O(groups × runs)."""
        op = (
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            )
            .when(
                F.col("_change_type").isin("delete", "update_preimage"),
                F.lit(-1),
            )
            .otherwise(
                # unknown change type: fail loudly inside the fold
                # rather than silently skewing the view
                F.raise_error(
                    F.concat(
                        F.lit("apply_change_feed: unknown _change_type "),
                        F.col("_change_type"),
                    )
                ).cast("int")
            )
            .alias("__op")
        )
        mapped = feed.withColumn("__op", op).localCheckpoint(eager=True)
        versions = sorted(
            int(r[0])
            for r in mapped.select("_commit_version").distinct().collect()
        )  # O(versions in the window) — bounded by the retention window
        for v in versions:
            self.apply_delta(
                mapped.filter(F.col("_commit_version") == v),
                run_id=f"{run_prefix}{v}",
                op_col="__op",
            )
        return versions

    def sync(
        self,
        spark: SparkSession,
        table,
        key_cols: "list[str] | None" = None,
        run_prefix: str = "cdf-v",
    ) -> "list[int]":
        """Pull-and-apply ONLY the snapshot-table versions this view has
        not folded yet — the polling consumer :meth:`apply_change_feed`
        documents ("poll from max(applied)+1"), packaged: applied
        versions are read off the view's own ``run={prefix}N`` state
        partitions (one listing, no Spark job), the table's live
        version from its committed history, and the missing window is
        pulled through ``change_feed`` (persisted partials → zero
        joins on a ``cdf_keys`` table) and folded. Returns the newly
        applied versions ([] when already current). Idempotent and
        crash-resumable: a re-run after a crash re-derives the same
        window and overwrites identical partials.

        A version counts as applied only when its ``run={prefix}N``
        partial is COMMITTED (Spark's ``_SUCCESS`` marker exists — the
        same discipline ``ParquetSnapshotTable._change_partial`` uses):
        a crash mid ``apply_delta`` leaves an uncommitted directory
        that must be re-derived, not skipped forever. Versions at or
        below the persisted ``_synced_upto`` high-water mark are
        applied by definition — that marker is what survives
        :meth:`compact` folding the run partitions away.

        ``key_cols`` defaults to the table's ``cdf_keys`` — pass it
        only for pre-upgrade tables that derive diffs at pull time."""
        from dataeng_azure_spotify_spark.statefs import statefs_for

        keys = list(key_cols) if key_cols else getattr(table, "cdf_keys", None)
        if not keys:
            raise ValueError(
                "sync: key_cols is required when the table carries no "
                "cdf_keys (one table, one key definition)"
            )
        fs = statefs_for(self.state_dir, spark)
        marker = self._synced_upto(fs)
        applied = self._committed_cdf_versions(fs, run_prefix)
        hist = table.history()
        live = max(
            n for n in (table._snap_n(d) for d in hist) if n is not None
        ) if hist else 0
        # resume from the smallest version not yet committed: versions
        # inside the window that ARE committed just re-overwrite
        # identical partials (idempotent), while an uncommitted gap —
        # crash mid-apply, externally damaged partial — is re-derived
        frm = marker + 1
        while frm in applied:
            frm += 1
        if frm > live:
            # already current — but STILL advance the marker over the
            # committed run partitions we just skipped: a crash between
            # a prior apply and its marker write (or a view maintained
            # via apply_change_feed directly) would otherwise leave the
            # marker behind forever, and a later compact() folding
            # those partitions away would reopen the double-count
            # window this marker exists to close
            if frm - 1 > marker:
                fs.makedirs(self.state_dir)
                fs.write_atomic(self._marker_path(), str(frm - 1).encode())
            return []
        out = self.apply_change_feed(
            table.change_feed(keys, frm, live), run_prefix=run_prefix
        )
        # an empty change window writes no run partition (and may not
        # even have created state_dir) — the marker write must not
        # depend on it
        fs.makedirs(self.state_dir)
        fs.write_atomic(self._marker_path(), str(live).encode())
        return out

    # -- streaming front-end ----------------------------------------------

    def process_stream(self, source: DataFrame, checkpoint: str, op_col=None):
        """Drain a streaming DataFrame of change rows into state under
        an ``availableNow`` trigger; epoch ids namespace by checkpoint
        (the admission.py rationale: bare epochs alias across
        checkpoints)."""
        import hashlib

        ns = hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:12]

        def handle(batch: DataFrame, epoch_id: int) -> None:
            self.apply_delta(batch, run_id=f"{ns}-{epoch_id}", op_col=op_col)

        q = (
            source.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
