"""LakeTable transactional format + MERGE correctness."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odibel_spark.cdc import WalConfig, current_state, gen_events, split_dead_letters
from odibel_spark.lake import (
    BucketSpec,
    CommitConflict,
    LakeTable,
    cdc_table_schema,
    create_cdc_table,
    merge_upsert,
)

TRANSCRIPT_FIELDS = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
]
TRANSCRIPT_SCHEMA = cdc_table_schema(TRANSCRIPT_FIELDS)

KEYS = ["conv_id", "turn_idx"]


def make_table(spark, root, buckets=8):
    return create_cdc_table(spark, root, TRANSCRIPT_FIELDS, BucketSpec("conv_id", buckets))


def test_create_append_read_timetravel(spark, tmpdir_path):
    t = make_table(spark, os.path.join(tmpdir_path, "t1"))
    assert t.read().count() == 0
    df = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, None, 1, False), ("c2", 0, "user", "yo", None, None, 2, False)],
        schema=TRANSCRIPT_SCHEMA,
    )
    t.append(df)
    assert t.read().count() == 2
    t.append(df.withColumn("turn_idx", F.col("turn_idx") + 1))
    assert t.read().count() == 4
    assert t.read(version=2).count() == 2  # time travel
    assert t.current_version() == 3
    t2 = LakeTable.load(spark, t.root)
    assert t2.read().count() == 4


def test_commit_conflict(spark, tmpdir_path):
    t = make_table(spark, os.path.join(tmpdir_path, "t2"))
    man = t.manifest()
    with pytest.raises(CommitConflict):
        t._commit(man)


def test_merge_fold_false_rejected_on_cow(spark, tmpdir_path):
    """fold=False defers duplicate-key resolution to read-time LWW
    folding, which only MoR tables perform — on a CoW table the
    duplicates would land in the table silently (property-caught
    corruption), so merge_upsert must refuse the combination."""
    t = make_table(spark, os.path.join(tmpdir_path, "tguard"))
    ev_schema = "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    b = spark.createDataFrame([(1, "insert", "c1", 0, "user", "hello", None, None)], ev_schema)
    with pytest.raises(ValueError, match="merge-on-read"):
        merge_upsert(t, b, KEYS, fold=False)
    assert t.read().count() == 0  # refused before any commit


def test_merge_upsert_semantics(spark, tmpdir_path):
    t = make_table(spark, os.path.join(tmpdir_path, "t3"))
    ev_schema = "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    b1 = spark.createDataFrame(
        [
            (1, "insert", "c1", 0, "user", "hello", None, None),
            (2, "insert", "c1", 1, "assistant", "hi!", None, None),
            (3, "insert", "c2", 0, "user", "yo", None, None),
        ],
        ev_schema,
    )
    merge_upsert(t, b1, KEYS)
    assert t.read().count() == 3

    # update + delete + duplicate + stale event in one batch
    b2 = spark.createDataFrame(
        [
            (5, "update", "c1", 1, "assistant", "hi there!", None, None),
            (5, "update", "c1", 1, "assistant", "hi there!", None, None),  # dup
            (4, "delete", "c2", 0, None, None, None, None),
            (0, "update", "c1", 0, "user", "STALE", None, None),  # stale lsn < applied
        ],
        ev_schema,
    )
    merge_upsert(t, b2, KEYS)
    rows = {(r.conv_id, r.turn_idx): (r.text, r._lsn) for r in t.read().collect()}
    assert rows == {("c1", 0): ("hello", 1), ("c1", 1): ("hi there!", 5)}

    # idempotent replay: re-applying the same batch changes nothing
    v_before = t.current_version()
    merge_upsert(t, b2, KEYS)
    rows2 = {(r.conv_id, r.turn_idx): (r.text, r._lsn) for r in t.read().collect()}
    assert rows2 == rows
    assert t.current_version() == v_before + 1  # commit happened, data identical

    # delete then re-insert (window close/reopen)
    b3 = spark.createDataFrame([(6, "insert", "c2", 0, "user", "back", None, None)], ev_schema)
    merge_upsert(t, b3, KEYS)
    rows3 = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert rows3[("c2", 0)] == "back"


def test_tombstone_fences_stale_update_and_compaction(spark, tmpdir_path):
    """A stale out-of-order update arriving AFTER the delete was applied
    must not resurrect the key — the tombstone carries the LSN fence."""
    t = make_table(spark, os.path.join(tmpdir_path, "t8"))
    ev_schema = "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    merge_upsert(t, spark.createDataFrame([(1, "insert", "c1", 0, "user", "v1", None, None)], ev_schema), KEYS)
    merge_upsert(t, spark.createDataFrame([(9, "delete", "c1", 0, None, None, None, None)], ev_schema), KEYS)
    assert t.read().count() == 0
    ts = t.read(include_tombstones=True).collect()
    assert len(ts) == 1 and ts[0]._deleted and ts[0]._lsn == 9

    # stale update (lsn 5 < 9) in a later batch: must stay dead
    merge_upsert(t, spark.createDataFrame([(5, "update", "c1", 0, "user", "ZOMBIE", None, None)], ev_schema), KEYS)
    assert t.read().count() == 0

    # genuine re-insert (lsn 12 > 9) revives
    merge_upsert(t, spark.createDataFrame([(12, "insert", "c1", 0, "user", "alive", None, None)], ev_schema), KEYS)
    assert [r.text for r in t.read().collect()] == ["alive"]

    # tombstone GC once low-watermark passes
    merge_upsert(
        t,
        spark.createDataFrame([(20, "delete", "c1", 0, None, None, None, None)], ev_schema),
        KEYS,
        tombstone_gc_below_lsn=100,
    )
    assert t.read(include_tombstones=True).count() == 0


def test_cow_merge_equals_compacted_mor_including_tombstones(spark, tmpdir_path):
    """Copy-on-write is merge-on-read compacted at write time: applied
    batch by batch, the CoW table's raw rows (tombstones, ``_lsn`` and
    ``_deleted`` included) equal the MoR table's after compaction —
    across a stale update below a tombstone's fence, a schema change
    between batches and equal-LSN ties from a re-applied batch."""
    from odibel_spark.lake.merge import compact_buckets

    cow = make_table(spark, os.path.join(tmpdir_path, "eq_cow"), buckets=4)
    mor = create_cdc_table(
        spark, os.path.join(tmpdir_path, "eq_mor"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    base = "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    b1 = [
        (1, "insert", "c1", 0, "user", "a", None, None),
        (2, "insert", "c2", 0, "user", "b", None, None),
        (2, "insert", "c2", 0, "user", "b", None, None),  # exact duplicate
        (3, "insert", "c3", 0, "user", "c", "t1", None),
        (4, "insert", "c1", 1, "assistant", "d", None, None),
    ]
    b2 = [
        (10, "update", "c1", 0, "user", "a2", None, None),
        (20, "delete", "c2", 0, None, None, None, None),
    ]
    b3 = [
        (15, "update", "c2", 0, "user", "ZOMBIE", None, None, "z"),  # stale: below the tombstone
        (30, "insert", "c4", 0, "user", "e", None, None, "m"),
        (31, "update", "c3", 0, "user", "c2", None, None, "m2"),
    ]
    batches = [(b1, base), (b2, base), (b3, base + ", meta string"), (b2, base)]  # b2 re-applied
    for i, (rows, schema) in enumerate(batches):
        if i == 2:
            for t in (cow, mor):
                t.add_columns([T.StructField("meta", T.StringType(), True)])
        for t in (cow, mor):
            merge_upsert(t, spark.createDataFrame(rows, schema), KEYS)
    compact_buckets(mor)

    def raw(t):
        return sorted(tuple(sorted(r.asDict().items())) for r in t.read(include_tombstones=True).collect())

    got = raw(cow)
    assert got == raw(mor)
    by_key = {(d["conv_id"], d["turn_idx"]): d for d in map(dict, got)}
    assert len(by_key) == len(got) == 5
    assert (by_key[("c2", 0)]["_deleted"], by_key[("c2", 0)]["_lsn"], by_key[("c2", 0)]["text"]) == (True, 20, None)
    assert (by_key[("c1", 0)]["text"], by_key[("c1", 0)]["_lsn"], by_key[("c1", 0)]["meta"]) == ("a2", 10, None)
    assert (by_key[("c3", 0)]["text"], by_key[("c3", 0)]["tool"], by_key[("c3", 0)]["meta"]) == ("c2", None, "m2")
    assert not any(d["_deleted"] for k, d in by_key.items() if k != ("c2", 0))


def test_merge_bucket_pruning(spark, tmpdir_path):
    """A batch touching one key must carry over every untouched bucket's
    files unchanged (copy-on-write unit = bucket)."""
    t = make_table(spark, os.path.join(tmpdir_path, "t4"), buckets=8)
    cfg = WalConfig(n_events=4000, n_convs=64, seed=3)
    ev = gen_events(spark, cfg).drop("_feed_order", "meta")
    ok, _ = split_dead_letters(ev)
    merge_upsert(t, ok, KEYS)
    files_before = {f["path"]: f for f in t.files()}

    one = spark.createDataFrame(
        [(10_000_000, "update", "conv-0", 0, "user", "poke", None, None)],
        "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    man = merge_upsert(t, one, KEYS)
    touched = set(man["summary"]["touched_buckets"])
    assert len(touched) == 1
    untouched_before = {p for p, f in files_before.items() if f["bucket"] not in touched}
    after = {f["path"] for f in t.files()}
    assert untouched_before <= after, "untouched bucket files must be carried over byte-identical"


def test_full_replay_merge_equals_batch_oracle(spark, tmpdir_path):
    """Chunked MERGE replay (as the streaming sink does) converges to the
    batch LWW fold — the reference's final-table-state oracle."""
    t = make_table(spark, os.path.join(tmpdir_path, "t5"))
    cfg = WalConfig(n_events=12_000, n_convs=200, seed=5)
    ev = gen_events(spark, cfg).drop("meta").cache()
    ok, _dead = split_dead_letters(ev.drop("_feed_order"))

    n_chunks = 5
    for i in range(n_chunks):
        # first/last chunk open-ended: displacement can push feed order
        # outside [0, n_events)
        lo = i * cfg.n_events // n_chunks if i else -(10**9)
        hi = (i + 1) * cfg.n_events // n_chunks if i < n_chunks - 1 else 10**9
        # feed-order chunks ⇒ bounded out-of-order across chunk borders
        chunk = ev.filter((F.col("_feed_order") >= lo) & (F.col("_feed_order") < hi)).drop("_feed_order")
        ok_chunk, _ = split_dead_letters(chunk)
        merge_upsert(t, ok_chunk, KEYS)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn"]
    got = t.read().select(*cols)
    exp = current_state(ok).select(*cols)

    def checksum(df):
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31))).alias("h"),
        ).collect()[0]

    g, e = checksum(got), checksum(exp)
    assert (g.n, g.h) == (e.n, e.h) and g.n > 0
    ev.unpersist()


def test_schema_evolution_read_old_files(spark, tmpdir_path):
    t = make_table(spark, os.path.join(tmpdir_path, "t6"))
    df = spark.createDataFrame([("c1", 0, "user", "hi", None, None, 1, False)], TRANSCRIPT_SCHEMA)
    t.append(df)
    t.add_columns([T.StructField("meta", T.StringType(), True)])
    out = t.read()
    assert "meta" in out.columns
    assert out.select("meta").collect()[0][0] is None  # old file → NULL

    # new writes carry the column; old files still readable
    df2 = spark.createDataFrame(
        [("c2", 0, "user", "yo", None, None, 2, False, '{"client":"v2"}')], t.schema()
    )
    t.append(df2)
    vals = {r.conv_id: r.meta for r in t.read().collect()}
    assert vals == {"c1": None, "c2": '{"client":"v2"}'}


def test_commit_fsyncs_meta_dir_after_link(spark, tmpdir_path, monkeypatch):
    """A commit fsyncs the ``_meta/`` directory after it links the
    manifest in, so the published name survives an OS crash."""
    t = make_table(spark, os.path.join(tmpdir_path, "tfs"))
    real_link, real_fsync = os.link, os.fsync
    events: list = []

    def link(src, dst, *args, **kwargs):
        real_link(src, dst, *args, **kwargs)
        events.append(("link", dst))

    def fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", (st.st_dev, st.st_ino)))
        real_fsync(fd)

    monkeypatch.setattr(os, "link", link)
    monkeypatch.setattr(os, "fsync", fsync)
    man = t.commit_metadata({"op": "probe"})
    monkeypatch.undo()
    st = os.stat(t.meta_dir)
    linked = events.index(("link", t._manifest_path(man["version"])))
    assert ("fsync", (st.st_dev, st.st_ino)) in events[linked + 1:], events


def test_watermark_fencing_and_vacuum(spark, tmpdir_path):
    t = make_table(spark, os.path.join(tmpdir_path, "t7"))
    assert t.watermark("s1") == -1
    b = spark.createDataFrame(
        [(1, "insert", "c1", 0, "user", "hi", None, None)],
        "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    merge_upsert(t, b, KEYS, watermarks_update={"s1": 0})
    assert t.watermark("s1") == 0
    merge_upsert(t, b.withColumn("lsn", F.lit(2).cast("long")), KEYS, watermarks_update={"s1": 1})
    assert t.watermark("s1") == 1

    live = {f["path"] for f in t.files()}
    removed = t.vacuum(keep_versions=1)
    assert live & set(removed) == set()
    assert t.read().count() == 1


def test_vacuum_removes_dead_commit_dirs_and_crc_sidecars(spark, tmpdir_path):
    """Spark leaves a ``_SUCCESS`` marker and one ``.crc`` sidecar per
    file in every commit dir. Vacuum removes a dead file's sidecar with
    it, and a commit dir holding no live file as a whole: what is left
    is the head's files, their sidecars and dirs that hold them."""
    t = make_table(spark, os.path.join(tmpdir_path, "t7v"), buckets=2)
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    first = merge_upsert(t, spark.createDataFrame(
        [(i + 1, "insert", f"c{i}", 0, "user", "hi", None, None) for i in range(8)], schema,
    ), KEYS)
    for lsn in (20, 30):  # rewrite c0's bucket twice (copy-on-write)
        merge_upsert(t, spark.createDataFrame([(lsn, "update", "c0", 0, "user", "yo", None, None)], schema), KEYS)
    data = os.path.join(t.root, "data")

    def on_disk():
        return {os.path.relpath(os.path.join(d, n), t.root) for d, _, ns in os.walk(data) for n in ns}

    head = {f["path"] for f in t.files()}
    first_dir = {f["path"].split("/")[1] for f in first["files"]}
    assert len(first_dir) == 1 and any(p.split("/")[1] in first_dir for p in head)  # partly dead
    assert any(p.endswith(".crc") for p in on_disk() - head) and any(
        p.endswith("_SUCCESS") for p in on_disk()
    ), "fixture needs Spark's sidecar files"

    t.vacuum(keep_versions=1, grace_seconds=0)
    left = on_disk()
    assert {p for p in left if p.endswith(".parquet")} == head
    crcs = {p for p in left if p.endswith(".parquet.crc")}
    assert crcs == {os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc") for p in head}
    assert {f"data/{c}" for c in os.listdir(data)} == {"/".join(p.split("/")[:2]) for p in head}


def test_vacuum_removes_stale_temp_manifests(spark, tmpdir_path):
    """A writer killed inside ``_commit`` between the temporary
    manifest's write and its unlink leaves ``_meta/.tmp-*.json``
    behind. Vacuum removes one older than the grace window and keeps a
    younger one, which may belong to a commit in flight."""
    import time

    t = make_table(spark, os.path.join(tmpdir_path, "t7t"))
    old, young = (os.path.join(t.meta_dir, f".tmp-{n}.json") for n in ("old", "young"))
    for p in (old, young):
        with open(p, "w") as f:
            f.write("{}")
    os.utime(old, (time.time() - 3600,) * 2)
    t.vacuum(grace_seconds=600)
    assert sorted(n for n in os.listdir(t.meta_dir) if n.startswith(".tmp-")) == [".tmp-young.json"]
    assert t.current_version() == 1


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_dead_files_ride_commits_and_survive_vacuum(spark, tmpdir_path, merge_mode):
    """``merge_upsert``'s ``_dead_files`` land in its commit's
    ``dead_files`` list, an empty batch's included, and every later
    commit carries the list forward: a commit that loses a race lands
    on the winner with the winner's entries and its own. ``read`` and
    ``row_count`` see only ``files``; ``vacuum`` keeps the dead files."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "t7d"), TRANSCRIPT_FIELDS, BucketSpec("conv_id", 2),
        key_cols=KEYS, merge_mode=merge_mode,
    )
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    dead = spark.createDataFrame([(9, None, "c9", 0, "user", "bad", None, None)], schema).coalesce(1)

    def dead_file(base):
        return t._write_data_files(dead, {"version": base["version"]})

    stale = t.manifest()
    first = dead_file(stale)
    assert [(f["bucket"], f["rows"], "stats" in f) for f in first] == [(None, 1, False)]
    batch = spark.createDataFrame([(1, "insert", "c1", 0, "user", "hi", None, None)], schema)
    m1 = merge_upsert(t, batch, KEYS, _base=stale, _dead_files=first)
    second = dead_file(m1)
    m2 = merge_upsert(t, batch.limit(0), KEYS, touched_buckets=set(), _dead_files=second)
    assert m2["summary"]["empty_batch"] and m2["dead_files"] == first + second
    third = dead_file(stale)
    m3 = t._next_commit(stale, [], {"op": "race"}, _dead_files=third)  # computed before m1 and m2
    assert (m3["version"], m3["dead_files"]) == (m2["version"] + 1, first + second + third)
    m4 = merge_upsert(t, batch.withColumn("conv_id", F.lit("c2")), KEYS)
    assert m4["dead_files"] == m3["dead_files"] and m4["row_count"] == 2

    t.vacuum(keep_versions=1, grace_seconds=0)
    assert t.read().count() == 2
    paths = [os.path.join(t.root, f["path"]) for f in m4["dead_files"]]
    assert spark.read.parquet(*paths).count() == 3


def test_salted_write_spreads_hot_bucket(spark, tmpdir_path):
    """write_salt splits a skewed bucket's commit across several files
    without changing read results or bucket pruning."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "t8"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    # one hot conversation = one hot bucket
    rows = [(i + 1, "insert", "hot", i, "user", f"msg {i}", None, None) for i in range(2000)]
    b = spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    merge_upsert(t, b, KEYS, write_salt=4)
    by_bucket = {}
    for f in t.files():
        by_bucket.setdefault(f["bucket"], []).append(f)
    hot = [fs for fs in by_bucket.values() if sum(x["rows"] for x in fs) == 2000]
    assert hot and len(hot[0]) > 1, "hot bucket should be split across multiple files"
    assert t.read().count() == 2000
    # bucket-restricted read still complete
    bkt = next(b for b, fs in by_bucket.items() if sum(x["rows"] for x in fs) == 2000)
    assert t.read(buckets={bkt}).count() == 2000


def test_incremental_changes_scan(spark, tmpdir_path):
    """changes(since, until): exact per-commit change rows for MoR
    tables — upserts and delete tombstones stamped with the committing
    version, compaction invisible, CoW rejected."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "tchg"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    b1 = spark.createDataFrame(
        [(1, "insert", "c1", 0, "user", "hi", None, None),
         (2, "insert", "c2", 0, "user", "yo", None, None)], schema)
    merge_upsert(t, b1, KEYS)
    v1 = t.current_version()
    b2 = spark.createDataFrame(
        [(3, "update", "c1", 0, "user", "hi2", None, None),
         (4, "delete", "c2", 0, None, None, None, None)], schema)
    merge_upsert(t, b2, KEYS)
    v2 = t.current_version()

    all_ch = t.changes(0).orderBy("_lsn").collect()
    assert [(r.conv_id, r._lsn, r._deleted, r._commit_version) for r in all_ch] == [
        ("c1", 1, False, v1), ("c2", 2, False, v1),
        ("c1", 3, False, v2), ("c2", 4, True, v2),
    ]
    tail = t.changes(v1).collect()
    assert {(r.conv_id, r._lsn) for r in tail} == {("c1", 3), ("c2", 4)}

    from odibel_spark.lake.merge import compact_buckets

    compact_buckets(t)
    assert t.changes(v2).count() == 0, "compaction must be changelog-invisible"
    assert t.changes(v1).count() == 2, "range before compaction unchanged"
    assert t.changes(0, v1).count() == 2

    cow = create_cdc_table(
        spark, os.path.join(tmpdir_path, "tcow"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="cow",
    )
    with pytest.raises(ValueError):
        cow.changes(0)


def test_changelog_replicates_table(spark, tmpdir_path):
    """Lake-to-lake replication: applying a source table's changelog
    through the ordinary MERGE reproduces its merged state exactly —
    the downstream-consumer contract of changes()."""
    src = create_cdc_table(
        spark, os.path.join(tmpdir_path, "repl_src"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    merge_upsert(src, spark.createDataFrame(
        [(1, "insert", "c1", 0, "user", "a", None, None),
         (2, "insert", "c2", 0, "user", "b", None, None),
         (3, "insert", "c3", 0, "user", "c", None, None)], schema), KEYS)
    merge_upsert(src, spark.createDataFrame(
        [(4, "update", "c1", 0, "user", "a2", None, None),
         (5, "delete", "c3", 0, None, None, None, None)], schema), KEYS)

    dst = create_cdc_table(
        spark, os.path.join(tmpdir_path, "repl_dst"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    feed = (
        src.changes(0)
        .withColumn("op", F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("update")))
        .withColumnRenamed("_lsn", "lsn")
        .drop("_deleted", "_commit_version")
    )
    merge_upsert(dst, feed, KEYS)
    a = src.read().select(sorted(src.read().columns))
    b = dst.read().select(sorted(dst.read().columns))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert b.count() == 2


def test_changes_raises_past_retention(spark, tmpdir_path):
    """A changelog cursor that fell behind the vacuum retention window
    must fail loudly, never return a silently incomplete change set."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "ret"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    merge_upsert(t, spark.createDataFrame(
        [(1, "insert", "c1", 0, "user", "a", None, None)], schema), KEYS)
    v1 = t.current_version()
    merge_upsert(t, spark.createDataFrame(
        [(2, "update", "c1", 0, "user", "a2", None, None)], schema), KEYS)

    from odibel_spark.lake.merge import compact_buckets

    compact_buckets(t)
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    with pytest.raises(FileNotFoundError, match="retention"):
        t.changes(0).count()
    # post-compaction cursors still work: no vacuumed files in range
    assert t.changes(t.current_version()).count() == 0


# ---------------------------------------------------------------- stats


def _mk_rows(lsns, conv="c1", text="a"):
    import datetime

    return [
        (conv, i, "user", text, None, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=l), l, False)
        for i, l in enumerate(lsns)
    ]


def test_manifest_records_column_bounds(spark, tmpdir_path):
    """Every commit harvests per-file min/max for the stats_columns
    property (Iceberg lower/upper bounds) out of the parquet footers —
    including timestamp columns (TIMESTAMP_MICROS output restores the
    stats INT96 never had)."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "stats1"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 2), key_cols=KEYS,
        stats_columns=["conv_id", "turn_idx", "_lsn", "ts"],
    )
    t.append(spark.createDataFrame(_mk_rows([5, 7, 3]), TRANSCRIPT_SCHEMA))
    fs = [f for f in t.files() if f["rows"]]
    assert fs, "append produced no data files"
    lo = min(f["stats"]["_lsn"][0] for f in fs)
    hi = max(f["stats"]["_lsn"][1] for f in fs)
    assert (lo, hi) == (3, 7)
    for f in fs:
        assert f["stats"]["conv_id"][0] == "c1" == f["stats"]["conv_id"][1]
        assert set(f["stats"]) == {"conv_id", "turn_idx", "_lsn", "ts"}
        assert f["stats"]["ts"][0].keys() == {"ts"}  # tagged datetime encoding


def test_where_ranges_prunes_files_and_matches_plain_filter(spark, tmpdir_path):
    """File skipping is observable (fewer scan inputs) and invisible
    (result == unpruned read + filter), incl. open-ended bounds."""
    t = make_table(spark, os.path.join(tmpdir_path, "stats2"), buckets=2)
    for lsns in ([1, 2, 3], [100, 101], [200, 205]):
        t.append(spark.createDataFrame(_mk_rows(lsns), TRANSCRIPT_SCHEMA))
    full = t.read()
    pruned = t.read(where_ranges={"_lsn": (100, 150)})
    assert set(pruned.inputFiles()) < set(full.inputFiles())
    expect = full.filter((F.col("_lsn") >= 100) & (F.col("_lsn") <= 150))
    assert sorted(pruned.collect()) == sorted(expect.collect())
    open_hi = t.read(where_ranges={"_lsn": (200, None)})
    assert len(open_hi.inputFiles()) < len(full.inputFiles())
    assert sorted(open_hi.collect()) == sorted(full.filter("_lsn >= 200").collect())
    # timestamp range over the Spark-written TIMESTAMP_MICROS stats
    import datetime

    t2 = create_cdc_table(
        spark, os.path.join(tmpdir_path, "stats2b"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 2), key_cols=KEYS, stats_columns=["ts"],
    )
    for lsns in ([1, 2], [500, 600]):
        t2.append(spark.createDataFrame(_mk_rows(lsns), TRANSCRIPT_SCHEMA))
    cut = datetime.datetime(2024, 1, 10)
    got = t2.read(where_ranges={"ts": (cut, None)})
    assert len(got.inputFiles()) < len(t2.read().inputFiles())
    assert sorted(got.collect()) == sorted(t2.read().filter(F.col("ts") >= F.lit(cut)).collect())


def test_cluster_by_tightens_bounds_and_prunes_range_reads(spark, tmpdir_path):
    """Write-time clustering (Iceberg sort order analog): the same
    shuffled data committed with ``cluster_by`` yields near-disjoint
    per-file bounds so a range read plans a small file subset, while
    the unclustered layout's files all straddle the range and nothing
    can be skipped — with identical query results either way."""
    import random

    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType(), True)]
    )
    ks = list(range(4000))
    random.Random(42).shuffle(ks)
    df = spark.createDataFrame([(k, f"x{k}") for k in ks], schema).repartition(8)
    plain = LakeTable.create(
        spark, os.path.join(tmpdir_path, "cl_plain"), schema,
        properties={"stats_columns": ["k"]},
    )
    plain.append(df)
    clustered = LakeTable.create(
        spark, os.path.join(tmpdir_path, "cl_sorted"), schema,
        properties={"stats_columns": ["k"]},
    )
    clustered.append(df, cluster_by=("k",), cluster_files=8)
    q = {"k": (1000, 1199)}
    expect = sorted(plain.read().filter("k between 1000 and 1199").collect())
    assert sorted(plain.read(where_ranges=q).collect()) == expect
    assert sorted(clustered.read(where_ranges=q).collect()) == expect
    total = len(clustered.read().inputFiles())
    assert total > 1, "clustered append produced a single file; test shape is degenerate"
    hit = len(clustered.read(where_ranges=q).inputFiles())
    # width-200 range over ~500-row range-partitioned files: at most a
    # couple of adjacent files survive even with sampled boundaries
    assert hit <= 3 and hit < total, (hit, total)
    # every random-order file straddles the range: nothing skippable
    assert len(plain.read(where_ranges=q).inputFiles()) == len(plain.read().inputFiles())
    # bucketed tables keep the bucket layout; cluster_by only sorts
    # within files — result parity is the contract there
    b = make_table(spark, os.path.join(tmpdir_path, "cl_bucketed"), buckets=2)
    b.append(spark.createDataFrame(_mk_rows([3, 1, 2]), TRANSCRIPT_SCHEMA), cluster_by=("_lsn",))
    assert b.read().count() == 3  # three distinct (conv, turn) keys
    with pytest.raises(ValueError, match="cluster_by"):
        plain.append(df, cluster_by=("nope",))


def test_compaction_cluster_by_sorts_rewritten_files(spark, tmpdir_path):
    """compact_buckets(cluster_by=...) doubles as OPTIMIZE: every
    rewritten bucket file comes out sorted by (bucket column, cluster
    columns) — checked against the raw parquet bytes — with the folded
    state unchanged."""
    import pyarrow.parquet as pq

    from odibel_spark.lake import compact_buckets

    import random

    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "cl_compact"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 2), key_cols=KEYS, merge_mode="mor",
    )
    # enough shuffled rows per bucket that the partitionBy writer's
    # own inserted sort (unstable, _bucket-only — the clobber this
    # test exists to catch) would visibly scramble the cluster order
    rng = random.Random(3)
    for batch in range(3):
        rows = [
            (f"c{rng.randrange(6)}", rng.randrange(40), "user", "a", None, None,
             batch * 1000 + i, False)
            for i in range(150)
        ]
        t.append(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))
    before = sorted(t.read().collect())
    compact_buckets(t, cluster_by=("_lsn",))
    assert sorted(t.read().collect()) == before
    fs = [f for f in t.files() if f["rows"]]
    assert fs and t.manifest()["summary"]["op"] == "compact"
    for f in fs:
        tbl = pq.read_table(os.path.join(t.root, f["path"]), columns=["conv_id", "_lsn"])
        pairs = list(zip(tbl.column("conv_id").to_pylist(), tbl.column("_lsn").to_pylist()))
        assert pairs == sorted(pairs), f["path"]


def test_where_ranges_mor_fold_guard(spark, tmpdir_path):
    """Key-column ranges prune a fold read soundly; payload/system
    ranges on a fold read raise (they could drop a key's latest delta);
    fold=False lifts the restriction."""
    t = create_cdc_table(
        spark, os.path.join(tmpdir_path, "stats3"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    merge_upsert(t, spark.createDataFrame(
        [(1, "insert", "c1", 0, "u", "a", None, None),
         (2, "insert", "c2", 0, "u", "b", None, None)], schema), KEYS)
    merge_upsert(t, spark.createDataFrame(
        [(3, "update", "c1", 0, "u", "a2", None, None)], schema), KEYS)
    got = t.read(where_ranges={"conv_id": ("c1", "c1")})
    assert [(r["conv_id"], r["text"]) for r in got.collect()] == [("c1", "a2")]
    with pytest.raises(ValueError, match="non-merge-key"):
        t.read(where_ranges={"_lsn": (2, None)})
    # raw delta scan (no fold): any column goes
    raw = t.read(fold=False, include_tombstones=True, where_ranges={"_lsn": (3, None)})
    assert raw.count() == 1
    with pytest.raises(ValueError, match="not in table schema"):
        t.read(where_ranges={"nope": (1, 2)})


def test_key_lookup_finds_rows_appended_as_a_narrower_type(spark, tmpdir_path):
    """Bucket-transform pruning hashes a lookup value as the bucket
    column's table-schema type, so writers must hash it as that type
    too: an ``int`` frame appended to a ``long``-keyed table lands in
    the buckets a lookup computes (xxhash64 of an int and of the same
    long differ). ``append_rows`` writes bucket-less files, which a
    pruned read never plans, so it refuses bucketed tables."""
    fields = [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    t = create_cdc_table(spark, os.path.join(tmpdir_path, "lk"), fields, BucketSpec("k", 8))
    t.append(spark.createDataFrame(
        [(i, f"v{i}", i, False) for i in range(40)], "k int, v string, _lsn long, _deleted boolean"
    ))
    for k in range(40):
        assert [tuple(r) for r in t.read(where_ranges={"k": (k, k)}).collect()] == [(k, f"v{k}", k)]
    with pytest.raises(ValueError, match="bucketed"):
        t.append_rows([{"k": 1, "v": "x", "_lsn": 99, "_deleted": False}])


def test_file_in_ranges_unknown_bounds_keep():
    """Unknown never prunes: legacy descriptors without stats, columns
    without collected bounds, and half-open ranges all keep the file;
    only a PROVEN-disjoint bound skips it."""
    from odibel_spark.lake.table import _file_in_ranges

    assert _file_in_ranges({"path": "p"}, {"x": (1, 2)})
    assert _file_in_ranges({"stats": {"y": [0, 9]}}, {"x": (1, 2)})
    assert _file_in_ranges({"stats": {"x": [0, 9]}}, {"x": (5, None)})
    assert not _file_in_ranges({"stats": {"x": [0, 4]}}, {"x": (5, None)})
    assert not _file_in_ranges({"stats": {"x": [6, 9]}}, {"x": (None, 5)})
    assert _file_in_ranges({"stats": {"x": [5, 5]}}, {"x": (5, 5)})
    with pytest.raises(ValueError, match="does not compare"):
        _file_in_ranges({"stats": {"x": [0, 4]}}, {"x": ("a", None)})


def test_version_at_timestamp_resolution(spark, tmpdir_path):
    """Snapshot-as-of-timestamp: for every commit's own recorded
    timestamp the resolved version IS that commit; between two commits
    it is the earlier one; after the last it is the head; before the
    first it raises (the seconds-vs-ms trap must not read as an empty
    table). Deterministic: probes are the manifests' own committed_at_ms
    values, no wall-clock assumptions."""
    import datetime

    t = make_table(spark, os.path.join(tmpdir_path, "vat"))
    for lsns in ([1], [2], [3]):
        t.append(spark.createDataFrame(_mk_rows(lsns), TRANSCRIPT_SCHEMA))
    hist = t.history()  # versions 1..4 (create + 3 appends)
    assert [m["version"] for m in hist] == [1, 2, 3, 4]
    stamps = [m["committed_at_ms"] for m in hist]
    assert stamps == sorted(stamps)
    for m in hist:
        assert t.version_at(m["committed_at_ms"]) == m["version"]
    # strictly between two distinct stamps -> the earlier version
    for a, b in zip(hist, hist[1:]):
        if b["committed_at_ms"] > a["committed_at_ms"] + 1:
            assert t.version_at(a["committed_at_ms"] + 1) == a["version"]
    assert t.version_at(stamps[-1] + 10_000) == 4
    with pytest.raises(ValueError, match="predates"):
        t.version_at(stamps[0] - 1)
    with pytest.raises(ValueError, match="predates"):
        t.version_at(stamps[0] // 1000)  # the seconds-vs-ms mistake
    # datetime form resolves identically and composes with read()
    dt = datetime.datetime.fromtimestamp(
        stamps[1] / 1000, tz=datetime.timezone.utc
    )
    v = t.version_at(dt)
    assert v == 2
    assert t.read(version=v).count() == 1  # first append only


def test_rollback_restores_state_schema_and_vacuum_liveness(spark, tmpdir_path):
    """rollback(v) commits a NEW head equal to snapshot v: data and
    schema restored (undoes schema evolution), history append-only
    (the bad commits stay time-travelable), stream fences kept by
    default / restored on request, and vacuum treats the target's
    files as live again while the rolled-back commits' files expire
    through normal retention."""
    t = make_table(spark, os.path.join(tmpdir_path, "rb"))
    t.append(spark.createDataFrame(_mk_rows([1, 2]), TRANSCRIPT_SCHEMA))  # v2: good
    good = sorted(map(tuple, t.read().collect()))
    t.commit_metadata({"note": "fence"}, watermarks_update={"s1": 7})  # v3
    t.append(spark.createDataFrame(_mk_rows([9], conv="bad"), TRANSCRIPT_SCHEMA))  # v4: bad batch
    t.add_columns([T.StructField("extra", T.StringType(), True)])  # v5: bad evolution
    assert t.current_version() == 5

    man = t.rollback(2)
    assert man["version"] == 6 and man["summary"]["op"] == "rollback"
    assert man["summary"]["rollback_of"] == 2
    assert sorted(map(tuple, t.read().collect())) == good
    assert "extra" not in t.schema().fieldNames()
    # history append-only: the bad commits remain time-travelable
    assert t.read(version=4).filter(F.col("conv_id") == "bad").count() == 1
    # default keeps the CURRENT stream fences (reset posture)
    assert t.watermark("s1") == 7
    # reprocess posture: fences revert to the target's (unknown → -1)
    t.rollback(2, restore_watermarks=True)
    assert t.watermark("s1") == -1

    # vacuum liveness flips with the head: the target's files are live
    # again, the bad batch's file is unreferenced by the retained heads
    removed = t.vacuum(keep_versions=2, grace_seconds=0)
    assert sorted(map(tuple, t.read().collect())) == good
    assert removed, "the rolled-back batch's file must expire"
    # the bad snapshot's data really is gone from disk
    assert any(
        not os.path.exists(os.path.join(t.root, f["path"]))
        for f in t.files(version=4)
    )

    # a rollback whose target was vacuumed away refuses to commit an
    # unreadable head
    t.overwrite(spark.createDataFrame(_mk_rows([3]), t.schema()))
    t.vacuum(keep_versions=1, grace_seconds=0)
    with pytest.raises(FileNotFoundError, match="retention"):
        t.rollback(2)
    with pytest.raises(ValueError, match="rollback target"):
        t.rollback(t.current_version())
    with pytest.raises(ValueError, match="rollback target"):
        t.rollback(0)


def test_changes_refuses_ranges_crossing_a_rollback(spark, tmpdir_path):
    """Incremental consumers must re-sync after a rollback: emitting
    the re-referenced files as change rows would miss the implied
    deletes of everything after the target. Ranges that stop before
    the rollback stay readable."""
    t = create_cdc_table(
        spark,
        os.path.join(tmpdir_path, "rbmor"),
        TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4),
        key_cols=KEYS,
        merge_mode="mor",
    )
    t.append(spark.createDataFrame(_mk_rows([1]), TRANSCRIPT_SCHEMA))  # v2
    t.append(spark.createDataFrame(_mk_rows([2], conv="bad"), TRANSCRIPT_SCHEMA))  # v3
    t.rollback(2)  # v4
    assert t.changes(0, until_version=3).count() == 2  # pre-rollback OK
    with pytest.raises(ValueError, match="rollback"):
        t.changes(0)
    with pytest.raises(ValueError, match="re-sync"):
        t.changes(3)
    # post-rollback commits resume a clean changelog
    t.append(spark.createDataFrame(_mk_rows([5], conv="c9"), TRANSCRIPT_SCHEMA))  # v5
    assert t.changes(4).count() == 1
    # folded read after rollback: only the good row survives
    assert t.read(version=4).filter(F.col("conv_id") == "bad").count() == 0


def test_stats_never_crash_commit_on_unextractable_types(spark, tmpdir_path):
    """A stats column whose footer statistics pyarrow cannot extract
    (it RAISES ArrowNotImplementedError on decimal columns, it does
    not return None) must degrade to "no bounds recorded" — the COMMIT
    succeeds, the column is simply never pruned, and the range read
    falls back to the pure residual filter. Found by construction:
    without the guard a decimal stats column took the whole ingest
    down for a metadata nicety."""
    import decimal

    from odibel_spark.lake.table import _stats_encode

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "dec"),
        T.StructType([
            T.StructField("k", T.StringType(), False),
            T.StructField("amount", T.DecimalType(10, 2), True),
        ]),
        BucketSpec("k", 2),
        properties={"stats_columns": ["amount", "k"]},
    )
    schema = "k string, amount decimal(10,2)"
    t.append(spark.createDataFrame(
        [("a", decimal.Decimal("1.25")), ("b", decimal.Decimal("7.50"))], schema))
    t.append(spark.createDataFrame([("c", decimal.Decimal("900.00"))], schema))
    fs = [f for f in t.files() if f["rows"]]
    assert fs, "appends must commit despite the unextractable stats column"
    # decimal bounds omitted; the extractable sibling column still records
    assert all("amount" not in (f.get("stats") or {}) for f in fs)
    assert all("k" in (f.get("stats") or {}) for f in fs)
    # no bounds -> no skipping, but the residual filter still applies
    pruned = t.read(where_ranges={"amount": (decimal.Decimal("100"), None)})
    assert len(pruned.inputFiles()) == len(t.read().inputFiles())
    assert [str(r["amount"]) for r in pruned.collect()] == ["900.00"]
    # the manifest encode layer is a whitelist, not a passthrough:
    # unknown types degrade to omitted bounds, never a json.dump crash
    import datetime

    assert _stats_encode(b"\x00") is None
    assert _stats_encode(datetime.time(12, 0)) is None
    assert _stats_encode(object()) is None
    assert _stats_encode(decimal.Decimal("1.5")) == {"dec": "1.5"}


def test_nan_stats_never_fold_to_a_finite_bound(spark, tmpdir_path):
    """Spark's parquet writer records max=NaN for a NaN-bearing row
    group, and Python's `NaN > finite` is False — so a naive min/max
    fold across row groups silently REPLACES the NaN with a later
    group's finite max. Spark's filter semantics order NaN ABOVE every
    value (`NaN >= 1000.0` is true), so that finite manifest bound
    would let a lower-bound range read prune the very file whose NaN
    rows the equivalent plain filter keeps. The guard: any NaN bound
    in any row group ⇒ NO bounds recorded for that column (kept
    forever — sound), while NaN-free sibling columns still record."""
    import glob
    import math

    import pyarrow.parquet as pq

    from odibel_spark.lake.table import _file_in_ranges, _file_meta

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block, old_page = hconf.get("parquet.block.size"), hconf.get("parquet.page.size")
    hconf.set("parquet.block.size", "1024")
    hconf.set("parquet.page.size", "512")
    try:
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, "nan"),
            T.StructType([
                T.StructField("k", T.StringType(), False),
                T.StructField("score", T.DoubleType(), True),
            ]),
            BucketSpec("k", 1),
            properties={"stats_columns": ["score", "k"]},
        )
        # NaN mid-file with finite rows AFTER it: the later groups'
        # finite maxes are what a naive fold would keep. A plain
        # (unclustered) append sorts only on _bucket — constant here —
        # so rows ship in input order and placing the NaN at position
        # 500 lands it in a non-final row group; the poisoned-shape
        # assert below fails loudly if the layout ever changes.
        rows = (
            [(f"k{i:04d}", float(i)) for i in range(500)]
            + [("k0500!", float("nan"))]
            + [(f"k{i:04d}", float(i)) for i in range(500, 900)]
        )
        t.append(spark.createDataFrame(rows, "k string, score double").coalesce(1))
    finally:
        for key, old in (("parquet.block.size", old_block), ("parquet.page.size", old_page)):
            hconf.set(key, old) if old is not None else hconf.unset(key)

    fs = [f for f in t.files() if f["rows"]]
    assert len(fs) == 1
    path = os.path.join(t.root, fs[0]["path"])
    # the scenario is real only if the file actually has the poisoned
    # shape: several row groups, a NaN max in a NON-final group
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups >= 3
    score_i = next(
        i for i in range(md.num_columns) if md.schema.column(i).path == "score"
    )
    maxes = [md.row_group(rg).column(score_i).statistics.max for rg in range(md.num_row_groups)]
    nan_at = [i for i, m in enumerate(maxes) if math.isnan(m)]
    assert nan_at and nan_at[-1] < md.num_row_groups - 1, maxes
    # counterfactual: the naive fold yields a FINITE max below the
    # probe bound — i.e. without the guard this file would be pruned
    naive_hi = None
    for m in maxes:
        if naive_hi is None or m > naive_hi:
            naive_hi = m
    assert not math.isnan(naive_hi) and naive_hi < 1000.0
    assert not _file_in_ranges({"stats": {"score": [0.0, naive_hi]}}, {"score": (1000.0, None)})
    # the guard: score bounds omitted, NaN-free sibling still recorded
    _, stats = _file_meta(path, ("score", "k"))
    assert "score" not in stats and "k" in stats
    assert "score" not in (fs[0].get("stats") or {})
    # end to end: range read == plain filter, NaN row included
    pruned = t.read(where_ranges={"score": (1000.0, None)})
    plain = t.read().filter(F.col("score") >= F.lit(1000.0))
    assert len(pruned.inputFiles()) == 1  # kept, not pruned
    got, want = pruned.collect(), plain.collect()
    assert [r["k"] for r in got] == [r["k"] for r in want] == ["k0500!"]
    assert math.isnan(got[0]["score"])


def test_one_head_read_per_lake_operation(spark, tmpdir_path, monkeypatch):
    """Each public lake operation lists ``_meta/`` (``current_version``)
    once, then works from that one manifest — schema, files, bucket
    spec and properties never come from separate head reads, and the
    commit's first attempt lands on the manifest read."""
    ev_schema = "lsn long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    batch = spark.createDataFrame(
        [(1, "insert", "c1", 0, "user", "a", None, None), (2, "insert", "c2", 0, "user", "b", None, None)],
        ev_schema,
    )
    mor = create_cdc_table(
        spark, os.path.join(tmpdir_path, "hr_mor"), TRANSCRIPT_FIELDS,
        BucketSpec("conv_id", 4), key_cols=KEYS, merge_mode="mor",
    )
    cow = make_table(spark, os.path.join(tmpdir_path, "hr_cow"), buckets=4)
    rows = spark.createDataFrame(_mk_rows([3], conv="c3"), TRANSCRIPT_SCHEMA)

    from odibel_spark.lake.merge import compact_buckets

    calls: list[str] = []
    listing = LakeTable.current_version

    def counting(self):
        calls.append(self.root)
        return listing(self)

    monkeypatch.setattr(LakeTable, "current_version", counting)
    ops = {
        "merge_upsert mor": lambda: merge_upsert(mor, batch, KEYS),
        "merge_upsert cow": lambda: merge_upsert(cow, batch, KEYS),
        "append": lambda: mor.append(rows),
        "read": lambda: mor.read(with_bucket_col=True),
        "read where_ranges": lambda: mor.read(where_ranges={"conv_id": ("c1", "c1")}),
        "changes": lambda: mor.changes(0),
        "compact_buckets": lambda: compact_buckets(mor),
    }
    counts = {}
    for name, op in ops.items():
        calls.clear()
        op()
        counts[name] = len(calls)
    assert counts == dict.fromkeys(ops, 1)


def test_unclustered_bucketed_commit_keeps_input_order(spark, tmpdir_path):
    """A plain bucketed append sorts only on ``_bucket`` (what the
    partitioned writer requires), so within each bucket file rows keep
    their input order. Sorting on the bucket column too would tax
    every micro-batch commit for a row-group layout nobody asked for."""
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "order"),
        T.StructType([T.StructField("k", T.StringType()), T.StructField("seq", T.IntegerType())]),
        BucketSpec("k", 4),
    )
    # keys descend while seq (the input position) ascends
    rows = [(f"k{999 - i:03d}", i) for i in range(400)]
    t.append(spark.createDataFrame(rows, "k string, seq int").coalesce(1))
    fs = [f for f in t.files() if f["rows"]]
    assert len(fs) > 1
    for f in fs:
        got = pq.read_table(os.path.join(t.root, f["path"])).to_pydict()
        assert got["seq"] == sorted(got["seq"]), f["path"]
        assert got["k"] != sorted(got["k"])
