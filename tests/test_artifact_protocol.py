"""The commit-marker protocol (operators/artifact.py) and the driver
shim's build-or-load step (``__spark_entry__._cached_artifact``).

A persisted artifact counts as present only when its marker write
committed: a write job whose task fails leaves its target directory
behind without ``_SUCCESS``, and that must read as absent — for the
fitted artifacts' ``meta/`` marker and for IvfIndex's ``centroids/``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entry
from dataeng_azure_spotify_spark.operators.bpe import BpeTokenizer
from dataeng_azure_spotify_spark.operators.similarity import IvfIndex

CORPUS = ["low lower lowest", "newer newest new", "wider widest low"]


def _failed_write(spark, path: str) -> None:
    """Overwrite ``path`` through a job whose only task raises."""

    @F.udf("long")
    def boom(x):
        raise RuntimeError("injected task failure")

    with pytest.raises(Exception):
        spark.range(1).select(boom("id").alias("x")).write.mode(
            "overwrite"
        ).parquet(path)


def test_failed_meta_write_reads_as_absent_and_refits(
    spark, tmp_path, monkeypatch
):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(CORPUS)]
    )
    path = str(tmp_path / "bpe")
    tok = BpeTokenizer.fit(docs, path, num_merges=3)
    assert tok.exists()

    _failed_write(spark, tok._meta_path)
    assert os.path.isdir(tok._meta_path)  # the failed job left it behind
    assert not BpeTokenizer(spark, path).exists()
    with pytest.raises(FileNotFoundError):
        BpeTokenizer.load(spark, path)

    # the build-or-load step refits over the uncommitted marker
    monkeypatch.setattr(entry, "_artifact_cache_dir", lambda *a, **k: path)
    fits = []

    def fit(tok):
        fits.append(tok.path)
        BpeTokenizer.fit(docs, tok.path, num_merges=3)

    got = entry._cached_artifact(
        spark, "bpe", "unused", "nm3", BpeTokenizer, fit
    )
    assert fits == [path]
    assert got.tokenize(docs).count() == len(CORPUS)


def test_failed_centroids_write_reads_as_absent(spark, tmp_path):
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, path, num_centroids=2, kmeans_iters=1)
    assert idx.exists()
    _failed_write(spark, idx._centroids_path)
    assert not IvfIndex.load(spark, path).exists()


def test_labels_cache_leaves_newer_layout_alone(
    spark, tmp_path, monkeypatch
):
    """The labels probe accepts a NEWER layout: no rebuild over it, and
    labels() refuses it with upgrade-the-engine."""
    from dataeng_azure_spotify_spark.operators.cluster_index import (
        FORMAT_VERSION,
        NearDupLabels,
    )

    def no_build(*_a):
        raise AssertionError("rebuilt over a newer-layout index")

    path = str(tmp_path / "labels")
    meta = NearDupLabels(spark, path)._meta_path
    spark.createDataFrame(
        [(FORMAT_VERSION + 1,)], "format_version int"
    ).write.parquet(meta)
    monkeypatch.setattr(entry, "_artifact_cache_dir", lambda *a, **k: path)
    monkeypatch.setattr(entry, "_cat", no_build)
    idx = entry._neardup_label_index(spark, "unused")
    with pytest.raises(ValueError, match="upgrade this engine"):
        idx.labels()
    assert NearDupLabels(spark, path).exists()


@pytest.fixture
def cache_root(tmp_path, monkeypatch):
    """Redirect ``_artifact_cache_dir`` under ``tmp_path`` (same tag)."""
    orig = entry._artifact_cache_dir
    root = os.path.dirname(os.path.abspath(entry.__file__))

    def redirected(*a, **k):
        return str(tmp_path / os.path.relpath(orig(*a, **k), root))

    monkeypatch.setattr(entry, "_artifact_cache_dir", redirected)
    return tmp_path


def _stub_build(calls):
    def build(path):
        calls.append(path)
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "done"), "w").close()

    return build


def _is_done(path):
    return os.path.exists(os.path.join(path, "done"))


def _open(_spark, path):
    return path


def test_cached_artifact_miss_builds_once_then_hits(cache_root, tmp_path):
    calls = []
    args = ("stub", str(tmp_path / "sf"), "p1", _open, _stub_build(calls))
    first = entry._cached_artifact(None, *args, _is_done)
    second = entry._cached_artifact(None, *args, _is_done)
    assert first == second and calls == [first]
    assert first.startswith(str(cache_root / ".stub_cache"))


def test_cached_artifact_clears_rejected_entry(cache_root, tmp_path):
    path = entry._artifact_cache_dir("stub", str(tmp_path / "sf"), "p1")
    os.makedirs(path)
    stale = os.path.join(path, "stale")
    open(stale, "w").close()
    seen = []

    def build(p):
        seen.append(os.path.exists(stale))
        _stub_build([])(p)

    entry._cached_artifact(
        None, "stub", str(tmp_path / "sf"), "p1", _open, build, _is_done
    )
    assert seen == [False] and not os.path.exists(stale)


def test_cached_artifact_never_clears_accepted_entry(cache_root, tmp_path):
    path = entry._artifact_cache_dir("stub", str(tmp_path / "sf"), "p1")
    os.makedirs(path)
    keep = os.path.join(path, "newer-layout")
    open(keep, "w").close()
    calls = []
    got = entry._cached_artifact(
        None, "stub", str(tmp_path / "sf"), "p1", _open,
        _stub_build(calls), lambda p: True,
    )
    assert got == path and calls == [] and os.path.exists(keep)
