"""The scan catalog in ``sources.readers``: a table's schema is resolved
once per file version, and every read still declares a fresh relation."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from covid_data_challenge_spark.sources import readers
from covid_data_challenge_spark.sources.readers import load_table


def _write(path, table: pa.Table) -> None:
    pq.write_table(table, str(path))


def _entry(spark, path):
    return readers._CATALOG.get(readers._scan_key(spark, str(path)))


def _output_ids(df) -> set[str]:
    """The analysed plan's output attributes, with their expression ids."""
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).toString() for i in range(out.size())}


def test_rewritten_table_is_seen_with_its_new_rows_and_column(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, pa.table({"k": [1, 2]}))
    assert sorted(r.k for r in load_table(spark, str(tmp_path), "t").collect()) == [1, 2]
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]  # a catalog hit

    _write(path, pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in df.collect()) == [(1, "a"), (2, "b"), (3, "c")]
    assert _entry(spark, path).schema == df.schema


def test_rewritten_spark_directory_is_seen(spark, tmp_path):
    """A Spark-written table (part files beside ``_SUCCESS`` and ``.crc``
    sidecars) rewritten in place is a new version."""
    path = str(tmp_path / "gold.parquet")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert load_table(spark, str(tmp_path), "gold").count() == 3
    spark.range(5).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "gold")
    assert df.columns == ["id", "twice"]
    assert df.count() == 5


def test_partitioned_table_cached_read_keeps_partition_columns(spark, tmp_path):
    path = str(tmp_path / "p.parquet")
    spark.range(6).selectExpr("id", "id % 3 AS day").write.partitionBy("day").parquet(path)
    first = load_table(spark, str(tmp_path), "p")
    second = load_table(spark, str(tmp_path), "p")
    assert second.dtypes == first.dtypes == [("id", "bigint"), ("day", "int")]
    assert second.sameSemantics(first)
    assert sorted(tuple(r) for r in second.filter("day = 1").collect()) == [(1, 1), (4, 1)]


def test_fingerprint_walks_partitions_and_skips_hidden_names(tmp_path):
    part = tmp_path / "t.parquet" / "day=1"
    part.mkdir(parents=True)
    (part / "a.parquet").write_bytes(b"xx")
    (tmp_path / "t.parquet" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "t.parquet" / ".a.parquet.crc").write_bytes(b"c")
    (tmp_path / "t.parquet" / "_k=2").mkdir()
    (tmp_path / "t.parquet" / "_k=2" / "b.parquet").write_bytes(b"yyy")
    got = readers.file_fingerprint([str(tmp_path / "t.parquet")])
    assert [(os.path.relpath(p, tmp_path), size) for p, size, _ in got] == [
        ("t.parquet/_k=2/b.parquet", 3),
        ("t.parquet/day=1/a.parquet", 2),
    ]
    assert readers.file_fingerprint([str(tmp_path / "missing.parquet")]) is None
    assert readers.file_fingerprint([str(tmp_path / "t.parquet" / "_k=2" / "none")]) is None


def test_cached_read_plans_like_the_inferred_read(spark, tmp_path):
    """A schema-cached read is ``sameSemantics`` with an inferred one, so
    the merge's history memo hits from the second refresh on, when the
    history read comes from the catalog."""
    from covid_data_challenge_spark.pipeline.covid import clean_history

    path = tmp_path / "history.parquet"
    _write(path, pa.table({
        "country": ["USA", "Afghanistan"],
        "date": [dt.date(2024, 1, 1), dt.date(2024, 1, 2)],
        "total_cases": [1.0, 2.0],
    }))
    first = load_table(spark, str(tmp_path), "history")  # a miss: inferred
    assert _entry(spark, path) is not None
    second = load_table(spark, str(tmp_path), "history")  # a hit: schema given
    assert second.schema == first.schema
    assert second.sameSemantics(first)
    assert second.sameSemantics(spark.read.parquet(str(path)))
    assert clean_history(second).sameSemantics(clean_history(first))


def test_self_join_of_two_reads_keeps_distinct_attributes(spark, tmp_path):
    _write(tmp_path / "t.parquet", pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}))
    a = load_table(spark, str(tmp_path), "t")
    b = load_table(spark, str(tmp_path), "t")
    assert not _output_ids(a) & _output_ids(b)
    got = a.join(b, a.k == b.k + 1).select(a.v, b.v.alias("prev")).collect()
    assert sorted((r.v, r.prev) for r in got) == [(20, 10), (30, 20)]


def test_catalog_stays_within_its_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "SCAN_CATALOG_SIZE", 3)
    monkeypatch.setattr(readers, "_CATALOG", type(readers._CATALOG)())
    for i in range(5):
        _write(tmp_path / f"t{i}.parquet", pa.table({"k": [i]}))
        load_table(spark, str(tmp_path), f"t{i}")
        assert len(readers._CATALOG) <= 3
    assert _entry(spark, tmp_path / "t0.parquet") is None  # least recently used
    load_table(spark, str(tmp_path), "t2")  # a hit makes t2 the most recent
    _write(tmp_path / "t5.parquet", pa.table({"k": [5]}))
    load_table(spark, str(tmp_path), "t5")
    assert _entry(spark, tmp_path / "t3.parquet") is None
    assert _entry(spark, tmp_path / "t2.parquet") is not None
    assert [r.k for r in load_table(spark, str(tmp_path), "t0").collect()] == [0]
    assert len(readers._CATALOG) == 3


def test_concurrent_readers_share_a_bounded_catalog(spark, tmp_path, monkeypatch):
    """More reader threads than cores, over more versions than the bound:
    every read gets its own table's schema and the bound holds."""
    import sys
    import threading

    monkeypatch.setattr(readers, "SCAN_CATALOG_SIZE", 2)
    monkeypatch.setattr(readers, "_CATALOG", type(readers._CATALOG)())
    for i in range(4):
        _write(tmp_path / f"t{i}.parquet", pa.table({f"c{i}": [i]}))
    errors, sizes = [], []

    def work(tid):
        try:
            for j in range(6):
                i = (tid + j) % 4
                assert load_table(spark, str(tmp_path), f"t{i}").columns == [f"c{i}"]
                sizes.append(len(readers._CATALOG))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sizes) == 48 and max(sizes) <= 2


def test_missing_table_fails_and_is_not_cached(spark, tmp_path):
    from pyspark.errors import AnalysisException

    before = dict(readers._CATALOG)
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")
    assert dict(readers._CATALOG) == before


_TS = pd.to_datetime(["2024-01-01 00:00:00.123456789", "2024-03-02 01:02:03.000001999"])
_TS_MICROS = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), dt.datetime(2024, 3, 2, 1, 2, 3, 1)]


def test_events_nanos_shape_reads_as_truncated_micros(spark, tmp_path):
    path = tmp_path / "events.parquet"
    _write(path, pa.table({"event_id": [1, 2], "ts": pa.array(_TS, pa.timestamp("ns"))}))
    assert pq.read_schema(str(path)).field("ts").type == pa.timestamp("ns")
    for _ in range(2):  # a miss, then a hit
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert [r.ts for r in df.orderBy("event_id").collect()] == _TS_MICROS
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_events_ntz_shape_reads_as_session_timestamp(spark, tmp_path):
    """Naive micros, read by a session that infers TIMESTAMP_NTZ (as a
    foreign session may): cast to TIMESTAMP with the wall-clock kept, on
    the inferred read and on the cached one alike."""
    path = tmp_path / "events.parquet"
    _write(path, pa.table({"event_id": [1, 2],
                           "ts": pa.array(_TS_MICROS, pa.timestamp("us"))}))
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        for _ in range(2):
            df = load_table(spark, str(tmp_path), "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            assert [r.ts for r in df.orderBy("event_id").collect()] == _TS_MICROS
        assert _entry(spark, path).schema["ts"].dataType.typeName() == "timestamp_ntz"
    finally:
        spark.conf.set(key, prior)


def test_table_memo_is_dropped_with_its_file_version(spark, tmp_path):
    """A value probed from a table version (the widen decision) is computed
    once per version and not served for a rewritten file."""
    calls = []

    def probe():
        calls.append(1)
        return len(calls)

    _write(tmp_path / "t.parquet", pa.table({"k": [1]}))
    load_table(spark, str(tmp_path), "t")
    assert readers.table_memo(spark, str(tmp_path), "t", "probe", probe) == 1
    assert readers.table_memo(spark, str(tmp_path), "t", "probe", probe) == 1
    _write(tmp_path / "t.parquet", pa.table({"k": [1, 2], "v": [3, 4]}))
    assert readers.table_memo(spark, str(tmp_path), "t", "probe", probe) == 2  # no entry yet
    load_table(spark, str(tmp_path), "t")
    assert readers.table_memo(spark, str(tmp_path), "t", "probe", probe) == 3
    assert readers.table_memo(spark, str(tmp_path), "t", "probe", probe) == 3
