"""Tests for the content-addressed gold store (covid_data_challenge_spark/
gold_store.py): what a key sees, how an entry is published, and the
registry golds that key on parameters and frames."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from covid_data_challenge_spark import gold_store


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(gold_store, "ROOT", str(tmp_path / "gold"))
    return tmp_path / "gold"


def _entries(root, k):
    return sorted(os.listdir(root / k.family / k.slot))


def _writer(spark, n, calls):
    def build(tmp):
        calls.append(tmp)
        spark.range(n).write.parquet(tmp)

    return build


def _dirs(df):
    return {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}


def test_changed_lr_bucket_count_builds_a_new_entry(spark, sf_dir, root, monkeypatch):
    """The bucket count is part of the LR gold's key: files bucketed one
    way are never registered as another, and the values do not change."""
    from covid_data_challenge_spark import queries_curation as qc

    a = qc._lr_feats(spark, sf_dir)
    monkeypatch.setattr(qc, "_LR_GOLD_BUCKETS", 8)
    b = qc._lr_feats(spark, sf_dir)
    assert _dirs(a).isdisjoint(_dirs(b))
    buckets = {int(os.path.basename(f).split("_")[-1].split(".")[0])
               for f in b.inputFiles()}
    assert buckets <= set(range(8)) and len(buckets) > 1
    cols = ["doc_id", "y", "bucket", "x"]
    assert sorted(a.select(cols).collect()) == sorted(b.select(cols).collect())


def test_lr_table_follows_the_store_root(spark, sf_dir, tmp_path, monkeypatch):
    """One key under two store roots registers two tables: the session
    catalog never serves an entry of another root."""
    from covid_data_challenge_spark import queries_curation as qc

    monkeypatch.setattr(gold_store, "ROOT", str(tmp_path / "a"))
    a = qc._lr_feats(spark, sf_dir)
    monkeypatch.setattr(gold_store, "ROOT", str(tmp_path / "b"))
    b = qc._lr_feats(spark, sf_dir)
    assert all(d.startswith(str(tmp_path / "a")) for d in _dirs(a))
    assert all(d.startswith(str(tmp_path / "b")) for d in _dirs(b))


def test_same_mtime_different_size_rewrite_rebuilds(spark, tmp_path, root):
    src = tmp_path / "src"
    src.mkdir()
    part = src / "part-0"
    part.write_bytes(b"a")
    st = os.stat(part)
    calls = []
    k1 = gold_store.key("probe", "/sf", sources=[str(src)])
    p1 = gold_store.load_or_build(k1, _writer(spark, 1, calls))
    assert gold_store.load_or_build(k1, _writer(spark, 1, calls)) == p1

    part.write_bytes(b"ab")
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(part).st_mtime_ns == st.st_mtime_ns
    k2 = gold_store.key("probe", "/sf", sources=[str(src)])
    assert k2 != k1
    p2 = gold_store.load_or_build(k2, _writer(spark, 2, calls))
    assert p2 != p1 and len(calls) == 2
    assert spark.read.parquet(p2).count() == 2


def test_missing_source_is_refused(tmp_path, root):
    with pytest.raises(FileNotFoundError):
        gold_store.key("probe", "/sf", sources=[str(tmp_path / "absent")])


def test_reader_keeps_its_entry_across_a_forced_rebuild(spark, root):
    k = gold_store.key("probe", "/sf", n=1)
    calls = []
    p1 = gold_store.load_or_build(k, _writer(spark, 5, calls))
    held = spark.read.parquet(p1)  # a reader's lazy frame over the entry
    p2 = gold_store.load_or_build(k, _writer(spark, 7, calls), rebuild=True)
    assert p2 != p1 and len(calls) == 2
    assert held.count() == 5
    assert not [c for c in calls if os.path.exists(c)]  # both temp dirs renamed
    # later lookups serve the newest generation
    assert gold_store.load_or_build(k, _writer(spark, 9, calls)) == p2
    assert spark.read.parquet(p2).count() == 7


def test_superseded_entries_pruned_after_grace(spark, root, monkeypatch):
    k = gold_store.key("probe", "/sf", n=1)
    p1 = gold_store.load_or_build(k, _writer(spark, 1, []))
    p2 = gold_store.load_or_build(k, _writer(spark, 1, []), rebuild=True)
    assert _entries(root, k) == sorted(os.path.basename(p) for p in (p1, p2))
    monkeypatch.setattr(gold_store, "PRUNE_GRACE_S", 0.0)
    p3 = gold_store.load_or_build(k, _writer(spark, 1, []), rebuild=True)
    assert _entries(root, k) == [os.path.basename(p3)]


def test_failed_build_publishes_nothing(spark, root):
    k = gold_store.key("probe", "/sf", n=1)

    def fails(tmp):
        spark.range(3).write.parquet(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        gold_store.load_or_build(k, fails)
    assert _entries(root, k) == []
    calls = []
    p = gold_store.load_or_build(k, _writer(spark, 3, calls))
    assert len(calls) == 1 and _entries(root, k) == [os.path.basename(p)]


def test_file_less_frame_is_refused(spark, sf_dir, root):
    from covid_data_challenge_spark.operators.lm_incremental import kn3_gold_dir

    in_memory = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="reads no local files"):
        kn3_gold_dir(spark, sf_dir, in_memory)
    assert not root.exists()


def test_frame_key_follows_the_plan(spark, sf_dir):
    """A frame's key sees its transformation, not just its files, and two
    reads of one file version key alike."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    again = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def key(df):
        return gold_store.key("probe", sf_dir, frames=[df])

    assert key(docs.filter(F.col("doc_id") % 5 != 0)) == key(
        again.filter(F.col("doc_id") % 5 != 0)
    )
    assert key(docs.filter(F.col("doc_id") % 5 != 0)) != key(
        docs.filter(F.col("doc_id") % 4 != 0)
    )


def test_concurrent_builders_publish_one_entry(root):
    """More builders than cores race on one key: every caller gets the one
    published entry, and no temp dir survives."""
    import sys
    import threading
    import time

    k = gold_store.key("probe", "/sf", n=1)
    paths, errors = [], []

    def build(tmp):
        os.makedirs(tmp)
        time.sleep(0.01)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write("x")

    def worker():
        try:
            paths.append(gold_store.load_or_build(k, build))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(paths) == 16 and len(set(paths)) == 1
    assert _entries(root, k) == [os.path.basename(paths[0])]
