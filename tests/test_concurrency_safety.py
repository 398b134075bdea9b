"""Writer/maintenance concurrency safety: a lost commit race must never
silently drop another writer's committed data, and vacuum must never
delete an in-flight writer's uncommitted files."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odibel_spark.lake import (
    BucketSpec,
    CommitConflict,
    LakeTable,
    create_cdc_table,
    merge_upsert,
)
from odibel_spark.lake.merge import compact_buckets

FIELDS = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("text", T.StringType(), True),
]
KEYS = ["conv_id", "turn_idx"]
BATCH_SCHEMA = "lsn long, op string, conv_id string, turn_idx int, text string"


def _batch(spark, rows):
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def test_replace_buckets_aborts_on_concurrent_target_change(spark, tmpdir_path):
    """A bucket rewrite computed from snapshot v must NOT commit if the
    target buckets changed after v — committing would drop the
    concurrent writer's rows from the manifest."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "c1"), FIELDS, BucketSpec("conv_id", 4),
        key_cols=KEYS, merge_mode="mor",
    )
    merge_upsert(t, _batch(spark, [(1, "insert", "a", 0, "one")]), KEYS)
    stale_version = t.current_version()
    stale_data = t.read(fold=False, include_tombstones=True)
    # a concurrent merge lands in the same buckets
    merge_upsert(t, _batch(spark, [(2, "update", "a", 0, "two")]), KEYS)
    with pytest.raises(CommitConflict):
        t.replace_buckets(
            set(range(4)), stale_data, base_version=stale_version
        )
    # the winner's row is intact
    assert [r.text for r in t.read().collect()] == ["two"]


def test_compact_retries_from_fresh_snapshot(spark, tmpdir_path):
    """compact_buckets recomputes the fold when it loses a race, so the
    concurrent merge's delta rows survive compaction."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "c2"), FIELDS, BucketSpec("conv_id", 4),
        key_cols=KEYS, merge_mode="mor",
    )
    merge_upsert(t, _batch(spark, [(1, "insert", "a", 0, "one"), (1, "insert", "b", 0, "bee")]), KEYS)
    merge_upsert(t, _batch(spark, [(2, "update", "a", 0, "two")]), KEYS)

    # simulate the race: another merge commits between compaction's
    # snapshot read and its commit, by hooking replace_buckets once
    original = t.replace_buckets
    fired = {"n": 0}

    def racy_replace(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] += 1
            merge_upsert(t, _batch(spark, [(3, "update", "b", 0, "buzz")]), KEYS)
        return original(*args, **kwargs)

    t.replace_buckets = racy_replace
    try:
        compact_buckets(t)
    finally:
        t.replace_buckets = original
    state = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert state == {("a", 0): "two", ("b", 0): "buzz"}
    # compaction really folded: one file per populated bucket
    per_bucket: dict = {}
    for f in t.files():
        per_bucket.setdefault(f["bucket"], 0)
        per_bucket[f["bucket"]] += 1
    assert all(n == 1 for n in per_bucket.values())


def test_vacuum_spares_inflight_and_fresh_files(spark, tmpdir_path):
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "c3"), FIELDS, BucketSpec("conv_id", 4),
        key_cols=KEYS, merge_mode="mor",
    )
    merge_upsert(t, _batch(spark, [(1, "insert", "a", 0, "one")]), KEYS)
    merge_upsert(t, _batch(spark, [(2, "update", "a", 0, "two")]), KEYS)
    cur = t.current_version()

    # in-flight writer: data landed under a FUTURE version, no manifest yet
    inflight = os.path.join(t.root, "data", f"c{cur + 5}-deadbeef")
    os.makedirs(inflight)
    inflight_file = os.path.join(inflight, "part-00000.parquet")
    with open(inflight_file, "wb") as f:
        f.write(b"PAR1stub")
    old = time.time() - 3600
    os.utime(inflight_file, (old, old))  # even an OLD in-flight file survives

    # orphan from an aborted past commit: old mtime, version <= cur
    orphan_dir = os.path.join(t.root, "data", "c2-0badf00d")
    os.makedirs(orphan_dir, exist_ok=True)
    orphan = os.path.join(orphan_dir, "orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1stub")
    os.utime(orphan, (old, old))

    # fresh unreferenced file (simulates a conflict-retry window)
    fresh_dir = os.path.join(t.root, "data", "c2-4e4e4e4e")
    os.makedirs(fresh_dir, exist_ok=True)
    fresh = os.path.join(fresh_dir, "fresh.parquet")
    with open(fresh, "wb") as f:
        f.write(b"PAR1stub")

    removed = t.vacuum(keep_versions=1, grace_seconds=600)
    assert os.path.exists(inflight_file), "in-flight commit dir must survive vacuum"
    assert os.path.exists(fresh), "files younger than the grace window must survive"
    assert not os.path.exists(orphan), "old orphans are collected"
    assert any("orphan.parquet" in r for r in removed)
    assert t.read().count() == 1


def test_discover_schema_heterogeneous_single_dir(spark, tmpdir_path):
    """Schema evolution WITHIN one WAL directory: every footer is read,
    so the late-added column is discovered."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from odibel_spark.cdc.evolution import discover_wal_schema

    d = os.path.join(tmpdir_path, "wal")
    os.makedirs(d)
    pq.write_table(
        pa.table({"lsn": pa.array([1], pa.int64()), "text": pa.array(["a"], pa.string())}),
        os.path.join(d, "part-0.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "lsn": pa.array([2], pa.int64()),
                "text": pa.array(["b"], pa.string()),
                "tool": pa.array(["calc"], pa.string()),
            }
        ),
        os.path.join(d, "part-1.parquet"),
    )
    schema = discover_wal_schema(spark, [d])
    assert set(schema.fieldNames()) == {"lsn", "text", "tool"}


def test_discover_schema_exotic_type_falls_back(spark, tmpdir_path):
    """A footer type outside the fast-path whitelist (decimal) must not
    crash startup — discovery falls back to the mergeSchema scan."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from odibel_spark.cdc.evolution import discover_wal_schema

    d = os.path.join(tmpdir_path, "wal2")
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "lsn": pa.array([1], pa.int64()),
                "amount": pa.array([decimal.Decimal("1.50")], pa.decimal128(10, 2)),
            }
        ),
        os.path.join(d, "part-0.parquet"),
    )
    schema = discover_wal_schema(spark, [d])
    assert "amount" in schema.fieldNames()
    assert isinstance(schema["amount"].dataType, T.DecimalType)


def _race_after_first_head_read(t: LakeTable, race) -> None:
    """Run ``race`` (a commit through another handle) once, right after
    ``t``'s first head-manifest read — a deterministic interleaving of a
    concurrent writer, no threads."""
    read = t.manifest
    fired = []

    def manifest(version=None):
        man = read(version)
        if version is None and not fired:
            fired.append(True)
            race()
        return man

    t.manifest = manifest


def test_add_columns_race_keeps_both_columns(spark, tmpdir_path):
    """Two writers evolving the schema at once: the loser must retry on
    the winner's schema, never commit its own stale one over it."""
    root = os.path.join(tmpdir_path, "evolve")
    t = LakeTable.create(spark, root, T.StructType([T.StructField("k", T.StringType())]))
    other = LakeTable.load(spark, root)
    _race_after_first_head_read(
        t, lambda: other.add_columns([T.StructField("y", T.StringType())])
    )
    t.add_columns([T.StructField("x", T.StringType())])
    assert set(LakeTable.load(spark, root).schema().fieldNames()) == {"k", "x", "y"}


def test_read_is_one_snapshot_under_concurrent_evolution(spark, tmpdir_path):
    """A read racing an ``add_columns`` + ``append`` returns exactly one
    version's schema AND rows, never one's schema over another's files."""
    root = os.path.join(tmpdir_path, "snap")
    t = LakeTable.create(
        spark, root, T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    )
    t.append(spark.createDataFrame([("a", 1)], "k string, v long"))
    other = LakeTable.load(spark, root)

    def race():
        other.add_columns([T.StructField("z", T.StringType())])
        other.append(spark.createDataFrame([("b", 2, "zz")], "k string, v long, z string"))

    _race_after_first_head_read(t, race)
    df = t.read()
    got = (df.columns, sorted(tuple(r) for r in df.collect()))
    assert got in (
        (["k", "v"], [("a", 1)]),
        (["k", "v", "z"], [("a", 1, None), ("b", 2, "zz")]),
    )
