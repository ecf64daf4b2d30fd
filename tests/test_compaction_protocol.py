"""Fast-tier coverage of the shared run-partition protocol in
operators/compaction.py: the crash-safe compaction and the
touched-partition retraction, driven directly on a tiny
run-partitioned table (the artifact-level suites are slow-tier)."""

from __future__ import annotations

import os

import pytest

from dataeng_azure_spotify_spark.operators import compaction as C

SCHEMA = "id long, bucket int, run string"
#: (id, bucket, run): three runs spread over two buckets
ROWS = [
    (1, 0, "r1"), (2, 0, "r1"),
    (3, 1, "r2"), (4, 1, "r2"),
    (5, 1, "r3"), (6, 0, "r3"),
]


def _listing(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


@pytest.fixture
def table(spark, tmp_path):
    path = str(tmp_path / "art" / "rows")
    (
        spark.createDataFrame(ROWS, SCHEMA)
        .write.partitionBy("bucket", "run")
        .parquet(path)
    )
    clog = C.CompactionLog(spark, str(tmp_path / "art"))

    def read():
        return (
            spark.read.schema(SCHEMA)
            .parquet(path)
            .filter(clog.live_run_filter("run"))
        )

    return C.RunTable(path, ("bucket", "run"), read), clog


def _rows(t):
    return sorted((r.id, r.bucket) for r in t.read().collect())


def test_compact_crash_after_commit_reads_exact_and_retry_converges(
    spark, tmp_path, table, monkeypatch
):
    t, clog = table
    registry = (str(tmp_path / "art" / "registry"), "id")
    before = _rows(t)
    real_delete = C.delete_folded_partitions

    def crash_on_reclaim(table_path, folded, nested):
        if folded:  # step 4; the step-0 sweep passes an empty set
            raise RuntimeError("crash between marker commit and reclaim")
        return real_delete(table_path, folded, nested)

    monkeypatch.setattr(C, "delete_folded_partitions", crash_on_reclaim)
    with pytest.raises(RuntimeError, match="crash between"):
        C.compact_run_tables(clog, "compact-1", "t", [t], lambda r: True, registry)
    monkeypatch.setattr(C, "delete_folded_partitions", real_delete)

    # marker committed, folded dirs still on disk: reads stay exact
    assert clog.committed() == {"compact-1": ["r1", "r2", "r3"]}
    assert C.count_run_partitions(t.path, nested=True) == 6
    assert _rows(t) == before

    retry = C.compact_run_tables(
        clog, "compact-1", "t", [t], lambda r: True, registry
    )
    assert retry["folded_runs"] == [] and retry["replay"]
    assert retry["swept_dirs"] == 4  # r1-r3 dirs across both buckets
    assert retry["partition_dirs_after"] == 2  # one tag dir per bucket
    assert _rows(t) == before
    assert C.distinct_run_names(t.path, nested=True) == {"compact-1"}
    frozen = spark.read.schema("run string, id long").parquet(registry[0])
    assert sorted((r.run, r.id) for r in frozen.collect()) == sorted(
        (run, i) for i, _, run in ROWS
    )


def test_retraction_deletes_emptied_and_trims_partial_partitions(
    spark, table
):
    t, _ = table
    rm = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    touched = C.retract_partitions(t.path, t.read, t.parts, "id", rm)
    # bucket=0/run=r1 held exactly {1, 2}: emptied, its dir deleted;
    # bucket=1/run=r2 held {3, 4}: trimmed to {4}
    assert touched == [(0, "r1"), (1, "r2")]
    assert not os.path.isdir(os.path.join(t.path, "bucket=0", "run=r1"))
    assert _rows(t) == [(4, 1), (5, 1), (6, 0)]
    # a replay finds nothing left to retract
    assert C.retract_partitions(t.path, t.read, t.parts, "id", rm) == []
    assert _rows(t) == [(4, 1), (5, 1), (6, 0)]


def test_neardup_labels_rejects_escaped_run_id_before_writing(
    spark, tmp_path
):
    from dataeng_azure_spotify_spark.operators.cluster_index import (
        NearDupLabels,
    )

    batch = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    absent = str(tmp_path / "absent")
    with pytest.raises(ValueError, match="partition directory"):
        NearDupLabels.load(spark, absent).append(batch, run_id="2026-10-17T06:00")
    assert not os.path.exists(absent)

    path = str(tmp_path / "ndl")
    idx = NearDupLabels.init(spark, path)
    before = _listing(path)
    for bad in ("2026-10-17T06:00", "a/b"):
        with pytest.raises(ValueError, match="partition directory"):
            idx.append(batch, run_id=bad)
        with pytest.raises(ValueError, match="partition directory"):
            idx.remove(batch.select("doc_id"), run_id=bad)
    assert _listing(path) == before
