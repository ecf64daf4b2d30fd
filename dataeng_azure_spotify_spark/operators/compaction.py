"""Crash-safe run-partition compaction and retraction for the
persisted artifacts.

Every admitting artifact (NearDupLabels, SemanticDedupIndex,
SubstringDupIndex; IvfIndex appends files rather than partitions)
accretes one ``run=<id>`` partition directory per admitted run. At
streaming cadence that is thousands of directories per bucket, and the
file-listing cost of every probe grows without bound — the operational
gap a real user of these artifacts hits first. ``compact()`` folds the
committed run partitions into ONE consolidated ``run=<tag>`` partition
per bucket while preserving the artifacts' exactly-once replay and
retraction semantics.

This module owns the protocol: :func:`compact_run_tables` is its one
implementation, :func:`retract_partitions` is the one touched-partition
retraction (IvfIndex uses it too), and :class:`RunPartitionedArtifact`
holds the meta/layout-version/live-run-count surface. Each artifact
supplies only what differs: its :class:`RunTable` paths and partition
columns, its id column, which runs may fold, and which registry rows
to freeze.

Commit protocol (each step idempotent, so a crashed ``compact``
retried with the SAME tag converges from any intermediate state):

0. sweep: delete the ``run=`` directories of runs a committed marker
   already folded (a crash between steps 3 and 4 leaves them behind).
1. (artifacts with a registry) write the per-run admitted-id REGISTRY
   for the folded runs — the information replay needs once the
   row-level run attribution is gone. Idempotent dynamic overwrite
   keyed by run.
2. write the consolidated rows under ``run=<tag>`` (dynamic overwrite
   of exactly the tag's partitions). Readers IGNORE rows under an
   uncommitted compact tag, so a crash here leaves every read exact.
3. write the marker ``compactions/<tag>/`` (parquet rows naming the
   folded runs; the ``_SUCCESS`` footer Spark commits last is the
   atomic commit point). From this instant readers use the tag rows
   and EXCLUDE the folded runs' rows.
4. delete the folded ``run=`` directories (idempotent rmtree) and any
   superseded markers. Readers never needed this step for correctness
   — it is what reclaims the file listings.

Reader contract: every artifact read of a run-partitioned table goes
through :meth:`CompactionLog.live_run_filter`, which keeps a row iff
its run is (a) not folded by any committed compaction and (b) not an
UNCOMMITTED compact tag. Both double-reads (crash between 3 and 4)
and phantom reads (crash between 2 and 3) are thereby impossible.

Retraction (:func:`retract_partitions`): one scan finds the partitions
holding the ids; fully emptied partitions are deleted FIRST (dynamic
overwrite never touches a partition absent from the written data),
then the survivors of the partially touched ones are materialized —
the rewrite reads the very files it replaces — and dynamic-overwrite
them. A retry from any intermediate crash state sees only the ids
still present and redoes exactly the remaining work.

Replay of a folded run: the artifact's ``admit``/``append`` consults
:meth:`CompactionLog.folded_originals` first and answers from the
registry — the same admitted rows the original attempt returned, with
no state mutation (the rows are already in the consolidated
partition). This preserves the exactly-once contract for the common
crash window (epoch admitted and sunk, checkpoint not yet committed,
artifact compacted before the stream restarts).

Single-writer contract (the same one every artifact method already
assumes): do not run ``compact`` concurrently with admissions or
removals on the same artifact. Compact between streaming runs — a
run that crashed MID-WRITE and was never redelivered before
compaction has only partial rows stored, and folding freezes that
partial state into the registry; quiesce first.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.operators.artifact import (
    MetaCommittedArtifact,
    committed,
)
from dataeng_azure_spotify_spark.statefs import statefs_for

#: Reserved namespace for consolidated-partition tags. Admission
#: validators refuse run_ids with this prefix so a compact tag can
#: never collide with a live run.
COMPACT_PREFIX = "compact-"

#: artifact subdirectory holding one marker dir per committed compaction
COMPACTIONS = "compactions"


def is_compact_tag(run: str) -> bool:
    return str(run).startswith(COMPACT_PREFIX)


def validate_run_id(run_id: str, where: str) -> None:
    """Run ids and compact tags name partition DIRECTORIES; restrict
    them to characters Spark never escapes, so every literal-path
    construction (emptied-partition deletes, folded-dir reclaim,
    live-run listings) finds the directory it targets."""
    if not re.fullmatch(r"[A-Za-z0-9._-]+", run_id or ""):
        raise ValueError(
            f"{where}: run_id must be non-empty [A-Za-z0-9._-]+ (it "
            f"names a partition directory); got {run_id!r}"
        )


def validate_compact_tag(tag: str, where: str) -> None:
    """Tags name partition directories (the run_id charset rule) and
    must live in the reserved namespace so admission validators can
    keep live runs out of it."""
    validate_run_id(tag, where)
    if not is_compact_tag(tag):
        raise ValueError(
            f"{where}: compaction tag must start with {COMPACT_PREFIX!r} "
            "(it must never collide with a live run_id); got "
            f"{tag!r}"
        )


def reject_compact_namespace(run_id: str, where: str) -> None:
    """Admission-side guard: live run_ids must stay out of the compact
    namespace, or a later ``compact(tag)`` could fold them into a
    partition a replay would misattribute."""
    if is_compact_tag(run_id):
        raise ValueError(
            f"{where}: run_id {run_id!r} uses the reserved "
            f"{COMPACT_PREFIX!r} namespace (compaction tags); pick "
            "another id"
        )


class CompactionLog:
    """The committed-compaction ledger of one artifact: marker dirs
    under ``<artifact>/compactions/<tag>/`` whose parquet rows name the
    folded runs; a marker is committed iff its ``_SUCCESS`` footer
    exists (Spark writes it last)."""

    def __init__(self, spark: SparkSession, artifact_path: str) -> None:
        self.spark = spark
        self.path = os.path.join(artifact_path, COMPACTIONS)
        # control-plane IO goes through StateFS (r11): local paths stay
        # pure-POSIX; scheme'd paths (abfss://, s3a://, file://) reach
        # the session JVM's Hadoop FileSystem
        self.fs = statefs_for(artifact_path, spark)

    # -- reads ----------------------------------------------------------
    def committed(self) -> dict[str, list[str]]:
        """{tag: [folded runs]} for every committed marker.

        Markers are tiny (O(folded runs) strings) and immutable once
        their ``_SUCCESS`` exists, so they are read DRIVER-SIDE with
        pyarrow — zero Spark jobs. This runs on EVERY artifact read
        (``live_run_filter``), and the per-tag ``spark.read`` it
        replaced cost one Spark job per committed compaction per read:
        at streaming cadence with auto-compaction that grew probe
        latency linearly in fold count (measured r10,
        docs/BENCH_NOTES.md). Marker bytes come through StateFS, so
        object-store state dirs read the same way (one metadata fetch
        per marker file, still zero Spark jobs)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not self.fs.isdir(self.path):
            return {}
        out: dict[str, list[str]] = {}
        for tag in self.fs.listdir(self.path):
            d = os.path.join(self.path, tag)
            if not self.fs.isdir(d) or not committed(self.fs, d):
                continue  # uncommitted (crashed) marker — ignored
            folded: list[str] = []
            for fn in self.fs.listdir(d):
                if not fn.endswith(".parquet") or fn.startswith("."):
                    continue
                buf = pa.BufferReader(
                    self.fs.read_bytes(os.path.join(d, fn))
                )
                col = pq.read_table(buf, columns=["folded_run"]).column(
                    "folded_run"
                )
                folded.extend(str(v) for v in col.to_pylist())
            out[tag] = folded
        return out

    def folded(self) -> set[str]:
        """Every run (original or superseded tag) folded by a committed
        compaction — rows under these must be ignored by all readers."""
        return {r for fl in self.committed().values() for r in fl}

    def folded_originals(self) -> set[str]:
        """Folded ORIGINAL run_ids (compact tags excluded) — the set
        whose replays must be answered from the registry."""
        return {r for r in self.folded() if not is_compact_tag(r)}

    def live_run_filter(self, run_col: str = "run") -> Column:
        """Keep-condition for run-partitioned artifact reads: drop rows
        folded by a committed compaction, and rows under an uncommitted
        compact tag (a crashed step-2 write). Plain ``isin`` over O(runs)
        literals — evaluated at the scan, partition-prunable."""
        committed = self.committed()
        folded = {r for fl in committed.values() for r in fl}
        c = F.col(run_col)
        keep = ~c.isin(sorted(folded)) if folded else F.lit(True)
        tags = sorted(committed)
        in_namespace = c.startswith(COMPACT_PREFIX)
        committed_tag = c.isin(tags) if tags else F.lit(False)
        return keep & (~in_namespace | committed_tag)

    # -- writes ---------------------------------------------------------
    def commit(self, tag: str, folded_runs: list[str]) -> None:
        """Write the marker (the atomic commit point — step 3)."""
        (
            self.spark.createDataFrame(
                [(r,) for r in sorted(folded_runs)], "folded_run string"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(self.path, tag))
        )

    def drop_marker(self, tag: str) -> None:
        self.fs.rmtree(os.path.join(self.path, tag))


def _run_dirs(table_path: str, nested: bool) -> list[tuple[str, str]]:
    """(parent dir, run name) of every ``run=`` directory on disk.
    ``nested`` means the run level sits under a first-level partition
    (``bucket=*/run=*`` / ``cid=*/run=*``); otherwise ``run=*`` is
    top-level. StateFS listings only, no Spark job."""
    fs = statefs_for(table_path)
    if not fs.isdir(table_path):
        return []
    parents = (
        [
            os.path.join(table_path, d)
            for d in fs.listdir(table_path)
            if "=" in d and fs.isdir(os.path.join(table_path, d))
        ]
        if nested
        else [table_path]
    )
    return [
        (parent, d[len("run="):])
        for parent in parents
        for d in fs.listdir(parent)
        if d.startswith("run=") and fs.isdir(os.path.join(parent, d))
    ]


def delete_folded_partitions(
    table_path: str, folded: set[str], nested: bool
) -> int:
    """Step 4: remove the folded ``run=`` directories. Idempotent;
    returns directories removed."""
    fs = statefs_for(table_path)
    doomed = [
        os.path.join(parent, f"run={r}")
        for parent, r in _run_dirs(table_path, nested)
        if r in folded
    ]
    for d in doomed:
        fs.rmtree(d)
    return len(doomed)


def count_run_partitions(table_path: str, nested: bool) -> int:
    """Observability for the before/after table: number of ``run=``
    directories currently on disk."""
    return len(_run_dirs(table_path, nested))


def distinct_run_names(table_path: str, nested: bool) -> set[str]:
    """Distinct ``run=<name>`` partition names currently on disk (one
    listing pass; names, not per-bucket dir counts)."""
    return {r for _, r in _run_dirs(table_path, nested)}


def _overwrite_partitions(df: DataFrame, parts, path: str) -> None:
    """Dynamic partition overwrite: replaces exactly the partitions
    present in ``df``, never the others."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(path)
    )


@dataclass(frozen=True)
class RunTable:
    """One run-partitioned table of an artifact: its path, its
    partition columns (``run`` last), and a reader of its LIVE rows
    (filtered through :meth:`CompactionLog.live_run_filter`)."""

    path: str
    parts: tuple[str, ...]
    read: Callable[[], DataFrame]

    @property
    def nested(self) -> bool:
        return len(self.parts) > 1


def compact_run_tables(
    clog: "CompactionLog",
    tag: str,
    where: str,
    tables: "list[RunTable]",
    may_fold: Callable[[str], bool],
    registry: "tuple[str, str] | None" = None,
) -> dict:
    """The compaction protocol (steps 0-4 in the module docstring) over
    an artifact's run-partitioned ``tables``. Every live run except
    ``tag`` for which ``may_fold(run)`` holds is folded into
    ``run=<tag>``; the others are reported as ``skipped_in_flight``.
    ``registry`` is ``(path, id_col)``: the folded ORIGINAL runs'
    ``(run, id_col)`` rows are frozen there (partitioned by run) before
    the consolidated write. Returns the compaction summary dict."""
    validate_compact_tag(tag, where)

    def dirs() -> int:
        return sum(count_run_partitions(t.path, t.nested) for t in tables)

    dirs_before = dirs()
    committed = clog.committed()
    swept = sum(  # step 0
        delete_folded_partitions(
            t.path, {r for fl in committed.values() for r in fl}, nested=t.nested
        )
        for t in tables
    )
    folded: set[str] = set()
    in_flight: set[str] = set()
    for t in tables:
        live = t.read().localCheckpoint(eager=True)
        runs_now = {
            str(r["run"])
            for r in live.select("run").distinct().collect()  # O(runs)
        }
        fold = {r for r in runs_now if r != tag and may_fold(r)}
        in_flight |= runs_now - fold - {tag}
        originals = sorted(r for r in fold if not is_compact_tag(r))
        if registry is not None and originals:  # step 1
            reg_path, id_col = registry
            _overwrite_partitions(
                live.filter(F.col("run").isin(originals))
                .select("run", id_col)
                .distinct(),
                ["run"],
                reg_path,
            )
        if fold:  # step 2 (a committed tag's own rows are re-written too)
            _overwrite_partitions(
                live.filter(F.col("run").isin(sorted(fold | {tag})))
                .withColumn("run", F.lit(tag)),
                t.parts,
                t.path,
            )
        live.unpersist()
        folded |= fold
    if folded:
        # step 3 — COMMIT: the marker carries the folded runs PLUS the
        # folded sets of superseded tags (and of this tag, if it is
        # being re-committed), so dropping their markers cannot
        # resurrect rows a lingering dir still holds
        folded_all = set(folded)
        for t in folded | {tag}:
            folded_all |= set(committed.get(t, []))
        clog.commit(tag, sorted(folded_all))
        for t in tables:  # step 4 — reclaim listings
            delete_folded_partitions(t.path, folded_all, nested=t.nested)
        for t in folded & committed.keys():
            clog.drop_marker(t)
    return {
        "tag": tag,
        "folded_runs": sorted(folded),
        "skipped_in_flight": sorted(in_flight),
        "swept_dirs": swept,
        "partition_dirs_before": dirs_before,
        "partition_dirs_after": dirs(),
        "replay": not folded and tag in committed,
    }


def retract_partitions(
    path: str,
    read: Callable[[], DataFrame],
    parts,
    id_col: str,
    rm: DataFrame,
) -> list[tuple]:
    """Retract the rows whose ``id_col`` is in ``rm`` from the table at
    ``path`` partitioned by ``parts``, rewriting only the partitions
    that hold them (protocol: module docstring). ``read`` returns the
    table's rows; ``rm`` is a materialized one-column id set. Returns
    the touched partition keys (tuples of partition values), sorted."""
    parts = list(parts)
    tbl = read()
    hit = (
        tbl.join(F.broadcast(rm), id_col, "left_semi")
        .groupBy(*parts)
        .agg(F.count(F.lit(1)).alias("n_rm"))
    )
    sizes = tbl.groupBy(*parts).agg(F.count(F.lit(1)).alias("n")).join(hit, parts)
    touched = {
        tuple(r[c] for c in parts): (r["n"], r["n_rm"])
        for r in sizes.toLocalIterator()  # O(touched partitions)
    }
    fs = statefs_for(path, rm.sparkSession)
    for key in sorted(k for k, (n, n_rm) in touched.items() if n == n_rm):
        rel = os.path.join(*(f"{c}={v}" for c, v in zip(parts, key)))
        if not fs.isdir(os.path.join(path, rel)):
            # its rows were just read, so the directory exists — unless
            # a value needs partition-name escaping (written before run
            # ids were validated). Skipping would leave the retracted
            # rows on disk while reporting success.
            raise ValueError(
                f"retract_partitions: partition {rel!r} of {path!r} holds "
                "rows but is not at its literal directory path (a value "
                "that needs partition-name escaping) — rebuild the "
                "artifact, then retry"
            )
        fs.rmtree(os.path.join(path, rel))
    partial = [k for k, (n, n_rm) in touched.items() if n > n_rm]
    if partial:
        key = F.concat_ws("§", *parts)
        remaining = (
            read()
            .filter(key.isin(sorted("§".join(map(str, k)) for k in partial)))
            .join(F.broadcast(rm), id_col, "left_anti")
            .localCheckpoint(eager=True)  # reads the files it replaces
        )
        _overwrite_partitions(remaining, parts, path)
    return sorted(touched)


def maybe_autocompact(artifact, run_id: str, max_live_runs) -> "dict | None":
    """Admission-commit compaction policy (r10): when the artifact's
    LIVE run-partition count (``artifact.live_run_count()``) exceeds
    ``max_live_runs``, fold it now under the DETERMINISTIC tag
    ``compact-auto-<run_id>`` — so at streaming cadence the per-probe
    file-listing cost stays bounded without anyone remembering to call
    ``compact()`` by hand.

    Crash-resumable by construction: a replayed epoch re-enters with
    the SAME run_id, its admit answers from run-tracked state/registry
    (no mutation), the live count is re-checked — if the crashed
    auto-fold committed, the count is back under the threshold and
    this is a no-op; if it crashed mid-protocol, the SAME tag is
    retried and ``compact``'s idempotent 4-step protocol resumes from
    wherever it stopped. The single-writer contract holds because the
    policy runs inside the admission commit path (sequential per
    stream), never concurrently with it; and a run that crashed
    MID-WRITE is repaired by its own replay BEFORE any later
    admission's policy can fold it (the policy only fires at the end
    of a successful admit).

    Returns ``compact()``'s summary dict when the fold fired, else
    None. ``max_live_runs=None`` disables the policy."""
    if max_live_runs is None:
        return None
    if int(max_live_runs) < 1:
        raise ValueError(
            f"maybe_autocompact: max_live_runs must be >= 1, got "
            f"{max_live_runs}"
        )
    if run_id is None:
        raise ValueError(
            "maybe_autocompact: run_id is required when max_live_runs "
            "is set — the auto-fold tag is derived from it so a crashed "
            "fold resumes under the replayed epoch's identical tag"
        )
    if artifact.live_run_count() <= int(max_live_runs):
        return None
    tag = f"{COMPACT_PREFIX}auto-{run_id}"
    validate_compact_tag(tag, "maybe_autocompact")
    # run_id-reuse guard: a LOW live count short-circuits the
    # crash-retry case above, so reaching a committed tag here means
    # new runs accreted since this run_id's fold committed — i.e. the
    # caller reused a run_id across epochs. Folding a NEW set under a
    # committed tag would orphan the tag's earlier folds from the
    # marker (their replays would silently take the wrong path).
    if tag in artifact._clog.committed():
        raise ValueError(
            f"maybe_autocompact: tag {tag!r} is already committed but "
            "the live-run count is above threshold again — run_id "
            f"{run_id!r} was reused across epochs; auto-compaction "
            "requires unique per-epoch run ids"
        )
    return artifact.compact(tag)


class RunPartitionedArtifact(MetaCommittedArtifact):
    """Shared surface of the run-partitioned artifacts: the ``meta/``
    commit marker (:mod:`~.artifact` — written LAST by every build, so
    a crashed build reads as absent), the layout-version refusal, the
    compaction log and the live-run count. Subclasses set
    ``FORMAT_VERSION`` and implement :meth:`_run_tables`."""

    FORMAT_VERSION: int

    def __init__(self, spark: SparkSession, path: str) -> None:
        super().__init__(spark, path)
        self._clog = CompactionLog(spark, path)
        self._meta: dict | None = None

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        return cls(spark, path)

    def _run_tables(self) -> "list[RunTable]":
        raise NotImplementedError

    @property
    def meta(self) -> dict:
        if self._meta is None:
            self._meta = self._read_meta().asDict()
        return self._meta

    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """Schema-explicit read; a missing or file-less dir (fresh
        build, or a crashed first write) is zero rows, never a
        schema-inference failure."""
        if not self.fs.exists(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(path)

    def _read_live(self, path: str, schema: str) -> DataFrame:
        """The LIVE rows of a run-partitioned table: rows folded by a
        committed compaction and rows under an uncommitted compaction
        tag are dropped, so reads stay exact through every crash
        window of :func:`compact_run_tables`."""
        return self._read_or_empty(path, schema).filter(
            self._clog.live_run_filter("run")
        )

    def layout_version(self) -> int | None:
        """On-disk artifact format version; ``None`` when the artifact
        is absent. A meta without ``format_version`` was written by the
        first layout (v1). Lets cache owners implement
        rebuild-on-older-layout (``build()`` is the upgrade path for
        older versions; newer ones must be left alone)."""
        if not self.exists():
            return None
        return int(self.meta.get("format_version") or 1)

    def _check_version(self) -> None:
        """Refuse to touch an artifact whose on-disk layout this code
        does not speak — in EITHER direction. Older: its columns may be
        missing and read back NULL — rebuild with ``build()`` to
        upgrade. Newer: written by later code; reading it under this
        layout could silently misread changed columns — upgrade the
        engine instead (do NOT rebuild, that would destroy it). An
        absent artifact has nothing on disk to misread."""
        ver = self.layout_version()
        if ver is None or ver == self.FORMAT_VERSION:
            return
        direction = (
            "rebuild the index with build() to upgrade it"
            if ver < self.FORMAT_VERSION
            else "upgrade this engine; rebuilding would destroy the newer index"
        )
        raise ValueError(
            f"{type(self).__name__} at {self.path!r} has artifact format "
            f"v{ver}; this code speaks v{self.FORMAT_VERSION} — {direction}"
        )

    def _clear(self, *paths: str) -> None:
        """Remove an existing artifact before a rebuild: meta first, so
        a crash mid-clear or mid-rebuild reads as ABSENT, never as half
        rebuilt; then ``paths`` and the compaction log. Refuses to
        destroy an artifact written by NEWER code — rebuilding is the
        upgrade path for OLDER layouts only."""
        ver = self.layout_version()
        if ver is not None and ver > self.FORMAT_VERSION:
            raise ValueError(
                f"{type(self).__name__} at {self.path!r} has artifact "
                f"format v{ver}, newer than this code's "
                f"v{self.FORMAT_VERSION} — refusing to rebuild over it; "
                "upgrade the engine"
            )
        for p in (self._meta_path, *paths, self._clog.path):
            self.fs.rmtree(p)
        self._meta = None

    def live_run_count(self) -> int:
        """Number of LIVE ``run=`` partition names on disk across the
        run-partitioned tables (distinct names minus committed-folded
        ones) — the per-probe file-listing load the
        :func:`maybe_autocompact` policy thresholds. StateFS listings
        only, no Spark job."""
        names = set().union(
            *(distinct_run_names(t.path, t.nested) for t in self._run_tables())
        )
        return len(names - self._clog.folded())
