"""Durable tables as append-only, PK-ranged Parquet segments
(catalog.Catalog.save): a saved INSERT appends one segment, the PK
check reads only the segments whose range overlaps the batch, a
compaction keeps at most ``_CHECKPOINT_EVERY_INSERTS`` segments and
deletes what it supersedes only at the following compaction."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from emdrive_spark.catalog import _CHECKPOINT_EVERY_INSERTS
from emdrive_spark.engine import Engine
from emdrive_spark.sql.errors import EmdriveValidationError
from emdrive_spark.sql.parser import parse_statement


def _values(ids) -> str:
    return ", ".join(f"({i}, 'n{i}')" for i in ids)


def _durable(spark, root, table: str) -> Engine:
    e = Engine(spark, data_directory=str(root))
    e.execute(f"CREATE TABLE {table} (id UINT64 PRIMARY KEY, name STRING)")
    return e


def _ids(engine: Engine, table: str) -> list[int]:
    return sorted(int(r["id"]) for r in engine.execute(f"SELECT id FROM {table}").collect())


def _part_files(root, table: str) -> set[str]:
    d = os.path.join(str(root), "main", table)
    return {f for f in os.listdir(d) if f.startswith("part-")}


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` starts, counted under a job group. The status
    store is filled asynchronously, in event order: once a sentinel
    job started after ``fn`` is visible, every job of ``fn`` is too."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(group + "-sentinel", "")
        sc.parallelize([1], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.time() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_select_frame_survives_compaction(spark, tmp_path):
    """The save/read race: a query planned before a run of INSERTs must
    still read its files after them. The directory swap deleted them at
    the next save (FAILED_READ_FILE.FILE_NOT_EXIST); segments are
    immutable and a compaction only retires them."""
    e = _durable(spark, tmp_path, "seg_race")
    e.execute(f"INSERT INTO seg_race (id, name) VALUES {_values(range(10))}")
    frame = e.execute("SELECT id FROM seg_race")
    for k in range(_CHECKPOINT_EVERY_INSERTS + 1):
        e.execute(f"INSERT INTO seg_race (id, name) VALUES {_values([100 + k])}")
    assert sorted(int(r["id"]) for r in frame.collect()) == list(range(10))
    assert len(e.catalog.get("seg_race").segments) < _CHECKPOINT_EVERY_INSERTS  # compacted


def test_compaction_deletes_superseded_files_one_compaction_later(spark, tmp_path):
    e = _durable(spark, tmp_path, "seg_gc")
    first = None
    for k in range(2 * (_CHECKPOINT_EVERY_INSERTS + 1)):
        e.execute(f"INSERT INTO seg_gc (id, name) VALUES {_values([k])}")
        if k == 0:
            first = _part_files(tmp_path, "seg_gc")
        if k == _CHECKPOINT_EVERY_INSERTS:  # first compaction: retired, still on disk
            assert first <= _part_files(tmp_path, "seg_gc")
    live = {g.file for g in e.catalog.get("seg_gc").segments}
    assert len(live) <= _CHECKPOINT_EVERY_INSERTS
    assert not first & _part_files(tmp_path, "seg_gc")  # gone at the second
    assert live <= _part_files(tmp_path, "seg_gc")
    assert _ids(e, "seg_gc") == list(range(2 * (_CHECKPOINT_EVERY_INSERTS + 1)))


def test_duplicate_in_overlapping_segment_rejected(spark, tmp_path):
    """Range pruning must never skip the segment holding the clash:
    after restore() (ranges read back from the json) and after a
    compaction (ranges merged)."""
    e = _durable(spark, tmp_path, "seg_dup")
    e.execute(f"INSERT INTO seg_dup (id, name) VALUES {_values(range(0, 20, 2))}")
    e.execute(f"INSERT INTO seg_dup (id, name) VALUES {_values(range(100, 110))}")

    r = Engine(spark, data_directory=str(tmp_path))
    r.catalog.restore(str(tmp_path))
    with pytest.raises(EmdriveValidationError, match="already exists"):
        r.execute(f"INSERT INTO seg_dup (id, name) VALUES {_values([7, 8])}")
    for k in range(_CHECKPOINT_EVERY_INSERTS):
        r.execute(f"INSERT INTO seg_dup (id, name) VALUES {_values([1000 + k])}")
    assert len(r.catalog.get("seg_dup").segments) < _CHECKPOINT_EVERY_INSERTS  # compacted
    for batch in ([3, 105], [1015], [19, 18]):
        with pytest.raises(EmdriveValidationError, match="already exists"):
            r.execute(f"INSERT INTO seg_dup (id, name) VALUES {_values(batch)}")
    r.execute(f"INSERT INTO seg_dup (id, name) VALUES {_values([7])}")  # in range, new key
    assert len(_ids(r, "seg_dup")) == 10 + 10 + _CHECKPOINT_EVERY_INSERTS + 1


def test_disjoint_insert_fires_no_spark_job(spark, tmp_path):
    e = _durable(spark, tmp_path, "seg_jobs")
    e.execute(f"INSERT INTO seg_jobs (id, name) VALUES {_values(range(0, 20, 2))}")
    disjoint = _jobs(
        spark, "seg-disjoint",
        lambda: e.execute(f"INSERT INTO seg_jobs (id, name) VALUES {_values(range(50, 60))}"),
    )
    overlapping = _jobs(
        spark, "seg-overlap",
        lambda: e.execute(f"INSERT INTO seg_jobs (id, name) VALUES {_values([5])}"),
    )
    assert disjoint == 0
    assert overlapping >= 1  # the check still runs where a clash is possible
    assert _ids(e, "seg_jobs") == sorted([*range(0, 20, 2), *range(50, 60), 5])


def test_restore_ignores_unlisted_segment(spark, tmp_path):
    """A crash between writing a segment and publishing the json leaves
    a part-file no catalog lists; its rows were never acknowledged."""
    e = _durable(spark, tmp_path, "seg_orphan")
    e.execute(f"INSERT INTO seg_orphan (id, name) VALUES {_values(range(3))}")
    d = os.path.join(str(tmp_path), "main", "seg_orphan")
    (listed,) = _part_files(tmp_path, "seg_orphan")
    shutil.copy(os.path.join(d, listed), os.path.join(d, "part-unpublished.parquet"))

    r = Engine(spark, data_directory=str(tmp_path))
    r.catalog.restore(str(tmp_path))
    assert _ids(r, "seg_orphan") == [0, 1, 2]


def test_arrow_segment_reads_back_as_spark_write(spark, tmp_path):
    """The Arrow-written segment holds what Spark's own write of the
    same batch holds, for every storage type with a conversion: short,
    long and decimal unsigned ints, binary hashes, NULL strings and
    DEFAULT NOW() timestamps."""
    import pyarrow.parquet as pq

    e = Engine(spark, data_directory=str(tmp_path / "data"))
    e.execute(
        "CREATE TABLE seg_types (id UINT64 PRIMARY KEY, u8 UINT8, u32 UINT32, "
        "big UINT128, h BINARY, note NULLABLE(STRING), seen_at TIMESTAMP DEFAULT NOW())"
    )
    # insert without the engine's save, so the batch is still in memory
    e.catalog.insert(parse_statement(
        "INSERT INTO seg_types (id, u8, u32, big, h, note) VALUES "
        f"({2**64 - 1}, 255, {2**32 - 1}, {10**38 - 1}, 0x{'ff' * 16}, NULL), "
        "(0, 0, 0, 0, 0x01, 'zero'), "
        f"(12345678901234567890, 7, 70000, {2**100}, 0x{'a5' * 8}, '')"
    ))
    entry = e.catalog.get("seg_types")
    in_memory = sorted(entry.df.collect())
    spark_dir = str(tmp_path / "spark_write")
    entry.df.write.parquet(spark_dir)
    spark_write = sorted(spark.read.schema(entry.df.schema).parquet(spark_dir).collect())

    e.catalog.save(str(tmp_path / "data"))
    (segment,) = e.catalog.get("seg_types").segments
    path = os.path.join(str(tmp_path / "data"), "main", "seg_types", segment.file)
    assert pq.ParquetFile(path).metadata.created_by.startswith("parquet-cpp-arrow")
    assert (segment.lo, segment.hi) == (0, 2**64 - 1)
    arrow_write = sorted(e.catalog.get("seg_types").df.collect())
    assert arrow_write == spark_write == in_memory
    assert [r["note"] for r in arrow_write] == ["zero", "", None]


def test_legacy_catalog_restores_as_unknown_range(spark, tmp_path):
    """A data directory saved before segment lists existed: a json
    without ``segments`` over a directory of Spark part-files. It boots,
    its files are checked on every INSERT (their range is unknown), and
    the next save lists them beside the appended segment."""
    root = str(tmp_path)
    src = Engine(spark)
    src.execute("CREATE TABLE seg_legacy (id UINT32 PRIMARY KEY, name STRING)")
    src.execute(f"INSERT INTO seg_legacy (id, name) VALUES {_values(range(6))}")
    table_dir = os.path.join(root, "main", "seg_legacy")
    src.catalog.get("seg_legacy").df.repartition(3).sortWithinPartitions("id").write.parquet(table_dir)
    column = {"primary_key": False, "metric": None, "index_kind": None, "default": None}
    with open(os.path.join(root, "_catalog.json"), "w") as f:
        json.dump({"seg_legacy": {"schema_name": "main", "columns": [
            {**column, "name": "id", "type": "UINT32", "primary_key": True},
            {**column, "name": "name", "type": "STRING"},
        ]}}, f)

    e = Engine(spark, data_directory=root)
    e.catalog.restore(root)
    assert _ids(e, "seg_legacy") == list(range(6))
    with pytest.raises(EmdriveValidationError, match="already exists"):
        e.execute(f"INSERT INTO seg_legacy (id, name) VALUES {_values([100, 4])}")
    e.execute(f"INSERT INTO seg_legacy (id, name) VALUES {_values([100])}")

    with open(os.path.join(root, "_catalog.json")) as f:
        listed = json.load(f)["seg_legacy"]["segments"]
    assert [g["min"] for g in listed] == [None] * (len(listed) - 1) + [100]
    r = Engine(spark, data_directory=root)
    r.catalog.restore(root)
    assert _ids(r, "seg_legacy") == [*range(6), 100]


def test_concurrent_durable_inserts_all_survive_restore(spark, tmp_path):
    """Threads inserting into one durable table: a save may find the
    rows of another thread's INSERT pending and append them with its
    own, and an INSERT that finds pending rows checks the whole table.
    Every acknowledged row must come back after a restore."""
    import sys
    import threading

    e = _durable(spark, tmp_path, "seg_threads")
    errors = []

    def client(c: int) -> None:
        try:
            for k in range(3):
                base = 1000 * c + 10 * k
                e.execute(f"INSERT INTO seg_threads (id, name) VALUES {_values(range(base, base + 5))}")
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    expected = sorted(1000 * c + 10 * k + j for c in range(6) for k in range(3) for j in range(5))
    assert _ids(e, "seg_threads") == expected
    r = Engine(spark, data_directory=str(tmp_path))
    r.catalog.restore(str(tmp_path))
    assert _ids(r, "seg_threads") == expected
