"""The commit-marker protocol of the persisted artifacts — one copy.

Every fit-once artifact (:class:`~.bpe.BpeTokenizer`,
:class:`~.unigram.UnigramTokenizer`, :class:`~.quality_nb.NbQualityModel`,
:class:`~.curation.DsirModel`) and every run-partitioned index
(:class:`~.compaction.RunPartitionedArtifact`) keeps its tables under
one directory plus a one-row ``meta/`` parquet that is written LAST:
``meta/`` is the artifact's commit point, the way a Delta log entry
commits a table version or ADF's watermark rewrite commits a copy.

Committed means the marker write COMMITTED, not that its directory
exists: a Spark write job whose task fails leaves its target directory
behind, empty. :func:`committed` therefore checks the ``_SUCCESS``
footer Spark's job commit writes last, and every probe of a persisted
artifact or cache entry goes through it — a failed marker write reads
as absent, exactly like a crashed fit, so the next build-or-load
refits instead of serving a half-written artifact forever.

A refit deletes the marker FIRST, then overwrites the tables, then
writes the marker: a crash at any point reads as absent, never as old
meta paired with new tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dataeng_azure_spotify_spark.statefs import statefs_for


def committed(fs, path: str) -> bool:
    """True iff ``path`` holds a committed Spark write: its ``_SUCCESS``
    footer exists (``fs`` is the path's StateFS)."""
    return fs.exists(os.path.join(path, "_SUCCESS"))


class MetaCommittedArtifact:
    """Paths, StateFS and the ``meta/`` commit marker of a persisted
    artifact: :meth:`exists` is "the marker write committed", and
    :meth:`_write_meta` is the marker write every build ends with."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._meta_path = os.path.join(path, "meta")
        self.fs = statefs_for(path, spark)  # StateFS (r11)

    def exists(self) -> bool:
        return committed(self.fs, self._meta_path)

    def _write_meta(self, values: tuple, schema: str) -> None:
        """Commit the build: the meta row lands last."""
        self.spark.createDataFrame([values], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self._meta_path)

    def _read_meta(self, schema: str | None = None):
        """The committed meta row; ``schema`` pins its columns."""
        reader = self.spark.read.schema(schema) if schema else self.spark.read
        return reader.parquet(self._meta_path).first()


class FittedArtifact(MetaCommittedArtifact):
    """Fit-once / use-many artifact: named parquet tables under
    ``path`` plus the ``meta/`` row (schema ``META_SCHEMA``) committed
    last by :meth:`_commit`. Tables named in ``PINNED`` (name → schema)
    are read together with the meta row and pinned with an eager
    ``localCheckpoint`` in the same :meth:`_snapshot`, so a handle
    always uses one consistent frozen model — a concurrent refit of the
    same path can never pair this handle's meta with newer tables.
    Subclasses supply training, ``META_SCHEMA`` and their scoring or
    tokenizing."""

    META_SCHEMA: str
    PINNED: "dict[str, str]" = {}

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        art = cls(spark, path)
        if not art.exists():
            raise FileNotFoundError(f"no {cls.__name__} at {path!r}")
        return art

    @classmethod
    def _commit(cls, spark, path: str, tables: "dict[str, DataFrame]", meta):
        """Persist a fit: delete the marker, overwrite ``tables``, then
        write the ``meta`` row. Deleting first matters on a refit: a
        crash between the table and marker overwrites would otherwise
        leave OLD meta (e.g. another bucket count) committed over NEW
        tables — a corrupt artifact that loads cleanly."""
        art = cls(spark, path)
        art.fs.rmtree(art._meta_path)
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(art._table_path(name))
        art._write_meta(meta, cls.META_SCHEMA)
        return art

    def _table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _snapshot(self):
        """(meta row, {pinned name: checkpointed DataFrame}), read
        together once per handle and memoized."""
        if getattr(self, "_snap", None) is None:
            meta = self._read_meta(self.META_SCHEMA)
            pinned = {
                name: self.spark.read.schema(schema)
                .parquet(self._table_path(name))
                .localCheckpoint(eager=True)
                for name, schema in self.PINNED.items()
            }
            self._snap = (meta, pinned)
        return self._snap

    def _meta(self):
        return self._snapshot()[0]
