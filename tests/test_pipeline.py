"""Structured Streaming pipeline: end-to-end, exactly-once under crash/
restart, mid-stream schema evolution, dead-letters, lineage/metrics."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from odibel_spark.cdc import (
    PipelineConfig,
    TranscriptCdcPipeline,
    WalConfig,
    current_state,
    gen_events,
    split_dead_letters,
    write_wal_files,
)

CFG = WalConfig(n_events=15_000, n_convs=250, seed=13)
PAYLOAD_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "meta", "_lsn"]


def oracle_state(spark, wal_cfg):
    ev = gen_events(spark, wal_cfg).drop("_feed_order")
    ok, _ = split_dead_letters(ev)
    return current_state(ok).join(
        ev.select("lsn", "meta").dropDuplicates(["lsn"]), F.col("_lsn") == F.col("lsn"), "left"
    ).drop("lsn")


def checksum(df, cols):
    return tuple(
        df.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31))).alias("h"),
        ).collect()[0]
    )


@pytest.fixture(scope="module")
def wal_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("walstream"))
    write_wal_files(spark, CFG, d, n_files=10)
    return d


def run_pipeline(spark, wal_dir, base, **cfg_kw):
    cfg = PipelineConfig(
        wal_dirs=[wal_dir],
        table_root=os.path.join(base, "transcripts"),
        checkpoint_dir=os.path.join(base, "ckpt"),
        buckets=8,
        **cfg_kw,
    )
    p = TranscriptCdcPipeline(spark, cfg)
    p.run_available()
    return p


def test_stream_end_to_end(spark, wal_dir, tmpdir_path):
    p = run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=3)

    got = p.table().read()
    assert "meta" in got.columns  # schema evolution happened
    exp = oracle_state(spark, CFG)
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)

    # dead letters never applied
    assert got.filter(F.col("text").isNull()).count() == 0

    # lineage: per-bucket HWMs per epoch, one NULL-bucket row for an
    # epoch that applied nothing; metrics: one row per epoch
    lin = p.lineage()
    assert lin.count() > 0
    assert lin.groupBy("epoch", "bucket").count().filter("count > 1").count() == 0
    met = p.metrics().orderBy("epoch")
    assert met.count() >= 1
    assert met.agg(F.sum("n_events")).collect()[0][0] > 0
    assert all(r.batch_seconds > 0 and r.events_per_sec > 0 for r in met.collect() if r.n_events)
    empty = sorted(r.epoch for r in met.collect() if r.n_events == 0)
    assert sorted((r.epoch, r.n_events) for r in lin.filter(F.col("bucket").isNull()).collect()) == [
        (e, 0) for e in empty
    ]

    # the commit sequence: one data commit per (stream_id, epoch); the
    # head's ``dead_files`` hold one file per epoch with dead letters,
    # written for that epoch's commit, with its ``n_dead`` rows; no
    # commit but ``create`` on the dead-letter, lineage and metrics roots
    from odibel_spark.lake import LakeTable

    history = LakeTable(spark, p.table_root).history()
    epochs = [m for m in history if "epoch" in m["summary"]]
    data = {(m["summary"]["stream_id"], m["summary"]["epoch"]): m["version"] for m in epochs}
    assert len(data) == len(epochs)
    assert {e for _, e in data} == {r.epoch for r in met.collect()}
    dead_files = sorted((int(f["path"].split("/")[1][1:].split("-")[0]), f["rows"]) for f in history[-1]["dead_files"])
    assert dead_files == sorted((data[(r.stream_id, r.epoch)], r.n_dead) for r in met.collect() if r.n_dead)
    assert [[m["summary"]["op"] for m in LakeTable(spark, r).history()] for r in (
        p.dead_root, p.lineage_root, p.metrics_root,
    )] == [["create"]] * 3
    dl = p.dead_letters()
    assert "meta" in dl.columns
    assert dl.count() == met.agg(F.sum("n_dead")).collect()[0][0] > 0


def crash_hook(monkeypatch, epoch, before=None, after=None):
    """Fault hook at the sink's durable writes: wraps
    ``LakeTable._write_data_files`` (every Spark data-file write) and
    ``LakeTable._commit`` (every manifest publish). Each call made
    by ``_apply_batch`` of ``epoch`` is recorded, as (method, table
    directory name), in the returned list. The hook raises before write
    number ``before`` (0-based), or right after the first write equal to
    ``after`` (a write as named here, or a count of writes). Calls on
    other threads or in other epochs pass through."""
    from odibel_spark.lake import LakeTable

    writes: list = []
    sink: dict = {}
    apply_batch = TranscriptCdcPipeline._apply_batch

    def tracked_apply(self, batch_df, epoch_id):
        sink[threading.get_ident()] = epoch_id
        try:
            return apply_batch(self, batch_df, epoch_id)
        finally:
            del sink[threading.get_ident()]

    def hooked(name):
        real = getattr(LakeTable, name)

        def write(self, *args, **kwargs):
            if sink.get(threading.get_ident()) != epoch:
                return real(self, *args, **kwargs)
            point = (name, os.path.basename(self.root))
            if len(writes) == before:
                raise RuntimeError(f"fault-injection: crash before {point} of epoch {epoch}")
            writes.append(point)
            out = real(self, *args, **kwargs)
            if after in (point, len(writes)):
                raise RuntimeError(f"fault-injection: crash after {point} of epoch {epoch}")
            return out

        return write

    monkeypatch.setattr(TranscriptCdcPipeline, "_apply_batch", tracked_apply)
    for name in ("_write_data_files", "_commit"):
        monkeypatch.setattr(LakeTable, name, hooked(name))
    return writes


#: durable writes as ``crash_hook`` names them
DATA_FILES, DATA_COMMIT = ("_write_data_files", "transcripts"), ("_commit", "transcripts")
#: the harness's epoch: it writes dead letters and data, and with
#: compaction every 2 epochs it compacts a merge-on-read table. At 3
#: WAL files per trigger the module WAL's data fills epochs 0-3, so a
#: restart replays this epoch and runs one more data epoch.
HARNESS_EPOCH = 2
HARNESS_WRITES = {
    # the dead-letter file, the data files, then the one commit naming both
    "cow": [DATA_FILES, DATA_FILES, DATA_COMMIT],
    # the compaction rewrites the data table: its files, then its commit
    "mor": [DATA_FILES, DATA_FILES, DATA_COMMIT, DATA_FILES, DATA_COMMIT],
}


def _sorted_rows(df, drop=()):
    return sorted((tuple(r) for r in df.drop(*drop).collect()), key=repr)


def lake_state(p):
    """Everything a crash could get wrong, per table the sink writes."""
    from odibel_spark.lake import LakeTable

    roots = (p.table_root, p.dead_root, p.lineage_root, p.metrics_root)
    heads = [LakeTable(p.spark, r).manifest() for r in roots]
    return {
        # (op, epoch) per commit: a skipped or doubled merge or
        # compaction, or any write to a side root, changes this sequence
        "commits": [
            [
                (m["summary"].get("op"), m["summary"].get("epoch", m["summary"].get("after_epoch")))
                for m in LakeTable(p.spark, r).history()
            ]
            for r in roots
        ],
        "data": _sorted_rows(p.table().read(include_tombstones=True)),
        "dead_letters": _sorted_rows(p.dead_letters()),
        "lineage": _sorted_rows(p.lineage(), drop=("committed_at",)),
        "metrics": _sorted_rows(p.metrics(), drop=("committed_at", "batch_seconds", "events_per_sec")),
        "watermarks": [h.get("watermarks") for h in heads],
    }


def assert_vacuum_leaves_no_orphan(p):
    """``vacuum(keep_versions=1, grace_seconds=0)`` leaves on disk
    exactly the head's data and dead-letter files, in every root the
    sink creates, and no commit dir without one of them."""
    from odibel_spark.lake import LakeTable

    for root in (p.table_root, p.dead_root, p.lineage_root, p.metrics_root):
        t = LakeTable(p.spark, root)
        t.vacuum(keep_versions=1, grace_seconds=0)
        data = os.path.join(root, "data")
        on_disk = {
            os.path.relpath(os.path.join(d, n), root)
            for d, _dirs, names in os.walk(data)
            for n in names
            if n.endswith(".parquet")
        }
        man = t.manifest()
        head = {f["path"] for f in man["files"] + man["dead_files"]}
        assert on_disk == head, root
        commit_dirs = os.listdir(data) if os.path.isdir(data) else []
        assert {f"data/{c}" for c in commit_dirs} == {"/".join(f.split("/")[:2]) for f in head}, root


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_crash_at_every_durable_write_matches_clean_run(spark, wal_dir, tmpdir_path, monkeypatch, merge_mode):
    """Crash consistency at every durable write of one epoch (the ALICE
    method at the granularity of lake commits). A clean run enumerates
    the epoch's writes: its dead-letter file, its data files, the one
    commit naming both, then compaction files and commit
    (merge-on-read). Then, for a crash before each write and one after
    the last (before the checkpoint), one restart must leave every
    table equal to the clean run's: data rows with ``_lsn``/``_deleted``, dead letters, lineage
    and metrics rows, watermarks and each table's (op, epoch) commit
    sequence. A replay reads neither the lineage nor the metrics root,
    the epoch's ``batch_seconds`` is positive (a fenced replay reports
    the original commit's span), and vacuum leaves no orphan and no
    dangling file."""
    from odibel_spark.lake import LakeTable

    e = HARNESS_EPOCH
    kw = dict(max_files_per_trigger=3, merge_mode=merge_mode, compact_every_epochs=2)
    with monkeypatch.context() as m:
        writes = crash_hook(m, e)
        clean = run_pipeline(spark, wal_dir, os.path.join(tmpdir_path, "clean"), **kw)
    assert writes == HARNESS_WRITES[merge_mode]
    cols = PAYLOAD_COLS
    assert checksum(clean.table().read().select(*cols), cols) == checksum(
        oracle_state(spark, CFG).select(*cols), cols
    )
    want = lake_state(clean)

    points = [{"before": k} for k in range(len(writes))] + [{"after": len(writes)}]
    for i, point in enumerate(points):
        base = os.path.join(tmpdir_path, f"crash{i}")
        with monkeypatch.context() as m:
            crash_hook(m, e, **point)
            with pytest.raises(Exception, match="fault-injection"):
                run_pipeline(spark, wal_dir, base, **kw)
        landed = writes[: point.get("before", len(writes))]
        data_t = LakeTable(spark, os.path.join(base, "transcripts"))
        assert data_t.watermark("wal") == (e if DATA_COMMIT in landed else e - 1), point

        read_roots: list = []
        real_read = LakeTable.read

        def spy_read(self, *args, **kwargs):
            read_roots.append(os.path.basename(self.root))
            return real_read(self, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(LakeTable, "read", spy_read)
            p = run_pipeline(spark, wal_dir, base, **kw)
        assert not {"transcripts_lineage", "transcripts_metrics"} & set(read_roots), (point, read_roots)

        got = lake_state(p)
        for part in want:
            assert got[part] == want[part], (point, part)
        (e_commit,) = [
            m["summary"] for m in p.table().history()
            if m["summary"].get("epoch") == e and m["summary"]["op"].startswith("merge")
        ]
        lin = sorted(
            (r.bucket, r.n_events, r.min_lsn, r.max_lsn)
            for r in p.lineage().filter(F.col("epoch") == e).collect()
        )
        assert lin == sorted(
            (r["bucket"], r["n_events"], r["min_lsn"], r["max_lsn"]) for r in e_commit["lineage"]
        ), point
        assert [b for b, *_ in lin] == e_commit.get("touched_buckets", [b for b, *_ in lin]), point
        (met,) = p.metrics().filter(F.col("epoch") == e).collect()
        assert (met.n_events, met.n_dead) == (e_commit["n_events"], e_commit["n_dead"]), point
        assert met.batch_seconds > 0, (point, met.batch_seconds)
        assert_vacuum_leaves_no_orphan(p)


def test_exactly_once_under_crash_restart(spark, wal_dir, tmpdir_path, monkeypatch):
    from odibel_spark.lake import LakeTable

    # phase 1: crash right AFTER the lake commit of epoch 1 (worst case:
    # lake state advanced, checkpoint not yet — batch will replay)
    with monkeypatch.context() as m:
        crash_hook(m, 1, after=DATA_COMMIT)
        with pytest.raises(Exception, match="fault-injection"):
            run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=2)
    # the crash hit after the lake commit: watermark already at epoch 1
    t = LakeTable.load(spark, os.path.join(tmpdir_path, "transcripts"))
    assert t.watermark("wal") == 1

    # phase 2: restart without fault — replayed epoch must be fenced,
    # and finishing its side rows must not probe the lineage table
    read_roots = []
    real_read = LakeTable.read

    def spy_read(self, *args, **kwargs):
        read_roots.append(self.root)
        return real_read(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(LakeTable, "read", spy_read)
        p = run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=2)
    assert p.lineage_root not in read_roots

    exp = oracle_state(spark, CFG)
    got = p.table().read()
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)

    # the fenced epoch appears exactly once in lineage and merge history
    lin = p.lineage().filter(F.col("epoch") == 1)
    assert lin.groupBy("bucket").count().filter("count > 1").count() == 0
    merges_e1 = [
        m
        for m in p.table().history()
        if m["summary"].get("epoch") == 1 and m["summary"].get("op", "merge") == "merge"
    ]
    assert len(merges_e1) == 1, "epoch 1 must be applied exactly once"
    # ... with exact lineage: the rows re-emitted after the fence carry
    # the buckets and LSN bounds stamped into epoch 1's data commit
    e1 = merges_e1[0]["summary"]
    lin_rows = sorted((r.bucket, r.n_events, r.min_lsn, r.max_lsn) for r in lin.collect())
    assert [b for b, *_ in lin_rows] == e1["touched_buckets"] and lin_rows == sorted(
        (r["bucket"], r["n_events"], r["min_lsn"], r["max_lsn"]) for r in e1.get("lineage", [])
    ), f"fenced epoch lineage {lin_rows} != data commit {e1.get('lineage')}"


def test_side_rows_exact_when_metrics_append_crashes(spark, wal_dir, tmpdir_path, monkeypatch):
    """A crash right after the data commit, which carries the epoch's
    metrics record: the replay is fenced on the data table, and the
    views show one metrics row with the commit's counts and its real
    span, and lineage equal to the commit's per-bucket ``lineage``."""
    with monkeypatch.context() as m:
        crash_hook(m, 1, after=DATA_COMMIT)
        with pytest.raises(Exception, match="fault-injection"):
            run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=2)
    p = run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=2)

    ((e1, span_ms),) = [
        (m["summary"], m["committed_at_ms"] - m["summary"]["started_at_ms"])
        for m in p.table().history() if m["summary"].get("epoch") == 1
    ]
    met = p.metrics().filter(F.col("epoch") == 1).collect()
    assert [(r.n_events, r.n_dead, r.batch_seconds) for r in met] == [
        (e1["n_events"], e1["n_dead"], span_ms / 1000)
    ]
    assert span_ms > 0
    lin = p.lineage().filter(F.col("epoch") == 1).collect()
    assert sorted((r.bucket, r.n_events, r.min_lsn, r.max_lsn) for r in lin) == sorted(
        (r["bucket"], r["n_events"], r["min_lsn"], r["max_lsn"]) for r in e1["lineage"]
    )


def test_dead_letters_exactly_once_when_crash_precedes_data_commit(
    spark, wal_dir, tmpdir_path, monkeypatch
):
    """A crash after an epoch's dead-letter file is written, before the
    data commit that would name it: the file stays an orphan, and the
    replayed epoch writes its dead letters again into the commit it
    lands, so the dead letters equal a clean run's row for row."""
    import odibel_spark.cdc.pipeline as pipeline_mod

    real_merge = pipeline_mod.merge_upsert
    crashed = []

    def merge_crashing_once(*args, **kwargs):
        if not crashed and kwargs["summary"]["n_dead"]:
            crashed.append(kwargs["summary"]["epoch"])
            raise RuntimeError("fault-injection: crash before the data commit")
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(pipeline_mod, "merge_upsert", merge_crashing_once)
    crash_base = os.path.join(tmpdir_path, "crash")
    with pytest.raises(Exception):  # Spark wraps the injected RuntimeError
        run_pipeline(spark, wal_dir, crash_base, max_files_per_trigger=2)
    monkeypatch.undo()
    assert crashed
    p = run_pipeline(spark, wal_dir, crash_base, max_files_per_trigger=2)
    clean = run_pipeline(spark, wal_dir, os.path.join(tmpdir_path, "clean"), max_files_per_trigger=2)

    def rows(df):
        return df.orderBy(*df.columns).collect()

    got, want = rows(p.dead_letters()), rows(clean.dead_letters())
    assert (len(got), got) == (len(want), want)


def test_null_op_event_is_dead_lettered_not_lost(spark, tmpdir_path):
    """An event whose ``op`` is NULL (keys, LSN and text valid) is a
    dead letter: live plus dead equals the input, in the sink and in
    ``split_dead_letters``. A NULL ``_dead`` flag would pass neither
    the live nor the dead filter, and the event would vanish."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    rows = [(i + 1, "insert", f"conv-{i % 5}", i, "user", f"m{i}", None, ts) for i in range(40)]
    rows[7] = (8, None, "conv-2", 7, "user", "m7", None, ts)
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    wal = os.path.join(tmpdir_path, "nullop")
    events = spark.createDataFrame(rows, schema)
    events.coalesce(1).write.parquet(wal)

    ok, dead = split_dead_letters(events)
    assert (ok.count(), [r.lsn for r in dead.collect()]) == (39, [8])
    p = run_pipeline(spark, wal, os.path.join(tmpdir_path, "sink"))
    assert [r.lsn for r in p.dead_letters().collect()] == [8]
    assert p.table().read().count() + p.dead_letters().count() == len(rows)


def test_meta_listings_per_epoch_do_not_grow_with_history(spark, wal_dir, tmpdir_path, monkeypatch):
    """``_meta/`` listings (``current_version``) per data epoch are a
    constant: equal on a fresh table and on one aged by 50 metadata
    commits, and exactly one (the data head) in every epoch that does
    not compact, with dead letters or without."""
    from odibel_spark.lake import LakeTable

    listing, apply_batch = LakeTable.current_version, TranscriptCdcPipeline._apply_batch
    calls: dict = {}
    active: list = []

    def counting_listing(self):
        if active:
            calls[active[-1]] = calls.get(active[-1], 0) + 1
        return listing(self)

    def tracked_apply(self, batch_df, epoch_id):
        active.append((self.table_root, epoch_id))
        try:
            return apply_batch(self, batch_df, epoch_id)
        finally:
            active.pop()

    monkeypatch.setattr(LakeTable, "current_version", counting_listing)
    monkeypatch.setattr(TranscriptCdcPipeline, "_apply_batch", tracked_apply)
    runs = {}
    for label in ("fresh", "aged"):
        cfg = PipelineConfig(
            wal_dirs=[wal_dir],
            table_root=os.path.join(tmpdir_path, label, "transcripts"),
            checkpoint_dir=os.path.join(tmpdir_path, label, "ckpt"),
            buckets=8,
            max_files_per_trigger=5,
        )
        p = TranscriptCdcPipeline(spark, cfg)
        if label == "aged":
            t, _ = p.ensure_tables()
            for i in range(50):
                t.commit_metadata({"op": "aging", "i": i})
        p.run_available()
        runs[label] = p
    monkeypatch.undo()

    data_epochs = {r.epoch: r.n_dead for r in runs["fresh"].metrics().collect() if r.n_events}
    assert data_epochs and any(data_epochs.values()), "fixture needs an epoch with dead letters"
    per_epoch = {
        label: {e: calls[(p.table_root, e)] for e in data_epochs} for label, p in runs.items()
    }
    assert per_epoch["fresh"] == per_epoch["aged"]
    assert set(per_epoch["fresh"].values()) == {1}, per_epoch


def test_stream_start_reads_each_table_head_once(spark, wal_dir, tmpdir_path, monkeypatch):
    """``ensure_tables`` against existing tables lists ``_meta/`` once
    per table (data, dead letters, lineage, metrics): no ``exists`` /
    ``load`` / ``schema()`` re-reads of the same head."""
    from odibel_spark.lake import LakeTable

    p = TranscriptCdcPipeline(
        spark,
        PipelineConfig(
            wal_dirs=[wal_dir],
            table_root=os.path.join(tmpdir_path, "transcripts"),
            checkpoint_dir=os.path.join(tmpdir_path, "ckpt"),
            buckets=8,
        ),
    )
    p.ensure_tables()  # the first start creates the four tables
    listing = LakeTable.current_version
    calls: list = []

    def counting_listing(self):
        calls.append(self.root)
        return listing(self)

    monkeypatch.setattr(LakeTable, "current_version", counting_listing)
    p.ensure_tables()
    monkeypatch.undo()
    assert sorted(calls) == sorted([p.table_root, p.dead_root, p.lineage_root, p.metrics_root])


#: py4j round trips on the sink thread in a data epoch past the first:
#: measured on this fixture at 151 (merge-on-read) and 225-226
#: (copy-on-write) with the sink's Column trees built once per query;
#: building them in every epoch took 1,756 and 1,918-1,919
SINK_ROUND_TRIPS_MAX = 250


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_sink_py4j_round_trips_per_epoch_are_bounded(spark, wal_dir, tmpdir_path, monkeypatch, merge_mode):
    """py4j round trips made on the thread running ``_apply_batch`` stay
    under a fixed bound in every data epoch past the first (whose
    builds fill the schema-keyed expression caches): per-epoch driver
    work does not rebuild the sink's Column trees."""
    import threading

    client = type(spark.sparkContext._gateway._gateway_client)
    send, apply_batch = client.send_command, TranscriptCdcPipeline._apply_batch
    sink: dict = {}
    calls: dict = {}

    def counting_send(self, *args, **kwargs):
        epoch = sink.get(threading.get_ident())
        if epoch is not None:
            calls[epoch] = calls.get(epoch, 0) + 1
        return send(self, *args, **kwargs)

    def tracked_apply(self, batch_df, epoch_id):
        sink[threading.get_ident()] = epoch_id
        try:
            return apply_batch(self, batch_df, epoch_id)
        finally:
            del sink[threading.get_ident()]

    monkeypatch.setattr(client, "send_command", counting_send)
    monkeypatch.setattr(TranscriptCdcPipeline, "_apply_batch", tracked_apply)
    p = run_pipeline(
        spark, wal_dir, tmpdir_path, max_files_per_trigger=2, merge_mode=merge_mode,
        compact_every_epochs=None,
    )
    monkeypatch.undo()
    data_epochs = sorted(r.epoch for r in p.metrics().collect() if r.n_events)
    steady = {e: calls[e] for e in data_epochs[1:]}
    assert len(steady) >= 3 and max(steady.values()) <= SINK_ROUND_TRIPS_MAX, steady


def test_add_columns_between_epochs_of_a_running_query(spark, wal_dir, tmpdir_path, monkeypatch):
    """A column added to the table between two epochs of one running
    query reaches every later delta as NULL: the sink's cached
    projections are keyed on the table schema, so the next epoch builds
    them afresh. Every data file written after the change carries the
    column, and the table equals the oracle."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    apply_batch = TranscriptCdcPipeline._apply_batch
    evolved_at = []

    def evolving_apply(self, batch_df, epoch_id):
        if epoch_id == 2:
            man = self.table().add_columns([T.StructField("extra", T.StringType())])
            evolved_at.append(man["version"])
        return apply_batch(self, batch_df, epoch_id)

    monkeypatch.setattr(TranscriptCdcPipeline, "_apply_batch", evolving_apply)
    p = run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=2)
    monkeypatch.undo()

    t = p.table()
    got = t.read()
    assert evolved_at and got.filter(F.col("extra").isNotNull()).count() == 0
    later = [f for f in t.files() if int(f["path"].split("/")[1][1:].split("-")[0]) > evolved_at[0]]
    assert later and all(
        "extra" in pq.read_schema(os.path.join(t.root, f["path"])).names for f in later
    )
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(oracle_state(spark, CFG).select(*cols), cols)


def test_run_available_writes_no_stdout_and_leaves_no_thread(spark, wal_dir, tmpdir_path, capfd):
    """A replay writes nothing to the process's stdout (a harness reads
    its last stdout line as the result) and leaves no non-daemon thread
    running that it started (one would write after the caller returned,
    or keep the interpreter alive)."""
    import threading

    before = set(threading.enumerate())
    capfd.readouterr()
    run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=5)
    out = capfd.readouterr().out
    left = [t for t in threading.enumerate() if t not in before and t.is_alive() and not t.daemon]
    assert out == ""
    assert not left, left


def test_benchmark_coupling_holds(spark, wal_dir, tmpdir_path, monkeypatch):
    """``perfbench/workloads.py`` reaches into the engine by name: its
    ``_epoch_commits`` lists the ``_meta/`` of the data, dead-letter,
    lineage and metrics roots, and its tracer wraps engine functions
    and methods by name. Both still resolve: the commit count equals
    the one read from the roots' histories, and the tracer installs and
    uninstalls. The module is imported without writing bytecode."""
    import sys

    from odibel_spark.lake import LakeTable

    p = run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=5)
    monkeypatch.setattr(sys, "dont_write_bytecode", True)
    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    try:
        import workloads

        want = sum(
            m["summary"].get("op") not in ("create", "evolve-schema")
            for root in (p.table_root, p.dead_root, p.lineage_root, p.metrics_root)
            for m in LakeTable(spark, root).history()
        )
        assert workloads._epoch_commits(p) == want > 0
        before = LakeTable.append_rows
        tracer = workloads.Bench._tracer(None)
        tracer.install()  # getattr on every wrapped name
        try:
            assert LakeTable.append_rows is not before
        finally:
            tracer.uninstall()
        assert LakeTable.append_rows is before
    finally:
        for name in ("workloads", "spans"):
            sys.modules.pop(name, None)


def test_replay_across_fence_upgrade_adds_no_duplicate_rows(spark, wal_dir, tmpdir_path, monkeypatch):
    """A stream upgraded from a version that appended each epoch's dead
    letters to the ``_deadletter`` table, with that epoch's fence,
    before the data commit. Such a writer, crashed between the two,
    left one epoch's dead letters there and its data uncommitted. The
    crash hook makes that state: it appends the epoch's dead rows to
    ``_deadletter`` as that version did, then raises before the data
    commit. The replay of the epoch writes no dead-letter file (it is
    at the legacy table's fence); a second crash, after the whole epoch
    and before the checkpoint, replays it once more. Dead letters,
    read from both places, lineage and metrics then equal a clean
    run's."""
    import odibel_spark.cdc.pipeline as pipeline_mod
    from odibel_spark.lake import LakeTable

    base = os.path.join(tmpdir_path, "upgrade")
    real_merge = pipeline_mod.merge_upsert
    crashed = []

    def merge_after_legacy_dead_letters(table, *args, _dead_files=(), **kwargs):
        s = kwargs["summary"]
        if not crashed and s["n_dead"]:
            crashed.append(s["epoch"])
            legacy = LakeTable(spark, table.root + "_deadletter")
            rows = spark.read.parquet(*(os.path.join(table.root, f["path"]) for f in _dead_files))
            legacy.append(
                rows.select(*legacy.schema().fieldNames()).coalesce(1),
                summary={"stream_id": s["stream_id"], "epoch": s["epoch"]},
                watermarks_update={s["stream_id"]: s["epoch"]},
            )
            raise RuntimeError("fault-injection: crash before the data commit")
        return real_merge(table, *args, _dead_files=_dead_files, **kwargs)

    monkeypatch.setattr(pipeline_mod, "merge_upsert", merge_after_legacy_dead_letters)
    with pytest.raises(Exception):  # Spark wraps the injected RuntimeError
        run_pipeline(spark, wal_dir, base, max_files_per_trigger=2)
    monkeypatch.undo()
    assert crashed

    real_apply = TranscriptCdcPipeline._apply_batch

    def apply_then_crash(self, batch_df, epoch_id):
        real_apply(self, batch_df, epoch_id)
        if epoch_id == crashed[0]:
            raise RuntimeError("fault-injection: crash before the checkpoint commit")

    monkeypatch.setattr(TranscriptCdcPipeline, "_apply_batch", apply_then_crash)
    with pytest.raises(Exception):
        run_pipeline(spark, wal_dir, base, max_files_per_trigger=2)
    monkeypatch.undo()

    p = run_pipeline(spark, wal_dir, base, max_files_per_trigger=2)
    clean = run_pipeline(spark, wal_dir, os.path.join(tmpdir_path, "clean"), max_files_per_trigger=2)

    n_dead = {r.epoch: r.n_dead for r in p.metrics().collect()}
    legacy = LakeTable(spark, p.dead_root)
    assert (legacy.watermark("wal"), legacy.read().count()) == (crashed[0], n_dead[crashed[0]])
    assert len(p.table().manifest()["dead_files"]) == sum(bool(n) for e, n in n_dead.items() if e != crashed[0])

    def rows(df, cols):
        return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)

    dead_cols = clean.dead_letters().columns
    assert rows(p.dead_letters(), dead_cols) == rows(clean.dead_letters(), dead_cols)
    lin_cols = ["stream_id", "epoch", "bucket", "n_events", "min_lsn", "max_lsn"]
    assert rows(p.lineage(), lin_cols) == rows(clean.lineage(), lin_cols)
    met_cols = ["stream_id", "epoch", "n_events", "n_dead"]
    assert rows(p.metrics(), met_cols) == rows(clean.metrics(), met_cols)


def test_mid_stream_schema_evolution_restart(spark, tmpdir_path):
    """Start on v1-only WAL (no meta), then v2 files appear; a restart
    discovers and promotes the new column; old rows read as NULL."""
    cfg = WalConfig(n_events=6_000, n_convs=100, seed=21)
    wal_all = os.path.join(tmpdir_path, "wal")
    write_wal_files(spark, cfg, wal_all, n_files=6)
    staged = os.path.join(tmpdir_path, "staged")
    os.makedirs(staged)
    os.symlink(os.path.join(wal_all, "v1"), os.path.join(staged, "v1"))

    base = tmpdir_path
    p = run_pipeline(spark, staged, base)
    assert "meta" not in [f.name for f in p.table().schema().fields]

    # v2 generation lands; pipeline restarts (same checkpoint!)
    os.symlink(os.path.join(wal_all, "v2"), os.path.join(staged, "v2"))
    p = run_pipeline(spark, staged, base)
    got = p.table().read()
    assert "meta" in got.columns
    assert got.filter(F.col("meta").isNotNull()).count() > 0

    exp = oracle_state(spark, cfg)
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)


def test_mor_pipeline_matches_cow_and_oracle(spark, wal_dir, tmpdir_path):
    """Merge-on-read mode: per-batch O(batch) delta appends + mid-run
    compaction must converge to the same table as CoW and the batch
    oracle."""
    base = os.path.join(tmpdir_path, "mor")
    os.makedirs(base)
    p = run_pipeline(
        spark, wal_dir, base, max_files_per_trigger=2,
        merge_mode="mor", compact_every_epochs=2,
    )
    got = p.table().read()
    exp = oracle_state(spark, CFG)
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)
    # a key updated in several epochs appears exactly once after the fold
    assert got.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    ops = [m["summary"].get("op") for m in p.table().history()]
    assert "merge-mor" in ops and "compact" in ops

    # final manual compaction folds every bucket to one file set and
    # drops all tombstones; result unchanged
    from odibel_spark.lake.merge import compact_buckets

    compact_buckets(p.table(), tombstone_gc_below_lsn=2**62)
    after = p.table().read()
    assert checksum(after.select(*cols), cols) == checksum(exp.select(*cols), cols)
    raw = p.table().read(fold=False, include_tombstones=True)
    assert raw.filter(F.col("_deleted")).count() == 0


def test_mor_pipeline_clustered_compaction(spark, wal_dir, tmpdir_path):
    """compact_cluster_by: the pipeline's periodic compaction doubles
    as OPTIMIZE — after the run's final in-stream compaction, every
    compaction-written bucket file is sorted by (conv_id, _lsn) in the
    raw parquet bytes (the layout pushed-down range filters prune row
    groups on), and the table still equals the batch oracle."""
    import pyarrow.parquet as pq

    base = os.path.join(tmpdir_path, "morcl")
    os.makedirs(base)
    p = run_pipeline(
        spark, wal_dir, base, max_files_per_trigger=2,
        merge_mode="mor", compact_every_epochs=2,
        compact_cluster_by=("_lsn",),
    )
    got = p.table().read()
    exp = oracle_state(spark, CFG)
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)
    t = p.table()
    # the last compaction commit's surviving files are the clustered set;
    # post-compaction merge epochs may have appended newer delta files
    hist = t.history()
    compact_vs = [m["version"] for m in hist if m["summary"].get("op") == "compact"]
    assert compact_vs, "pipeline never compacted"
    compacted = {f["path"] for f in t.files(version=compact_vs[-1])} & {
        f["path"] for f in t.files()
    }
    assert compacted, "no compaction-written file survived to HEAD"
    for path in compacted:
        tbl = pq.read_table(
            os.path.join(t.root, path), columns=["conv_id", "_lsn"]
        )
        pairs = list(zip(tbl.column("conv_id").to_pylist(), tbl.column("_lsn").to_pylist()))
        assert pairs == sorted(pairs), path


def test_normalizer_promotes_legacy_variants(spark):
    from odibel_spark.cdc import normalize_batch

    df = spark.createDataFrame(
        # tab/newline padding: the codegen path must strip ALL
        # whitespace exactly like the pandas path's str.strip()
        [("Human", " CALC "), ("ai", "web_search"), ("tool", None), (None, "python"),
         ("Bot\t", "calc\t"), ("\nfunction ", " browse\n")],
        "role string, tool string",
    )
    out = normalize_batch(df).collect()
    assert [r.role for r in out] == ["user", "assistant", "tool", None, "assistant", "tool"]
    assert [r.tool for r in out] == [
        "calculator", "search", None, "code_interpreter", "calculator", "browser",
    ]

    # the Arrow pandas-UDF path (schema-evolution escape hatch) must
    # agree exactly with the codegen expression path
    pd_out = normalize_batch(df, use_pandas=True).collect()
    assert pd_out == out


def test_maintenance_compacts_and_vacuums(spark, wal_dir, tmpdir_path):
    base = os.path.join(tmpdir_path, "maint")
    os.makedirs(base)
    slack = 5_000
    p = run_pipeline(
        spark, wal_dir, base, max_files_per_trigger=2,
        merge_mode="mor", compact_every_epochs=None, tombstone_gc_lsn_slack=slack,
    )
    exp = oracle_state(spark, CFG)
    n_files_before = len(p.table().files())
    v_before_maint = p.table().current_version()

    def tombstones():
        rows = p.table().read(include_tombstones=True).filter("_deleted").select("conv_id", "turn_idx", "_lsn")
        return {tuple(r) for r in rows.collect()}

    # GC threshold: the highest applied LSN minus the slack
    threshold = p.table().read(fold=False, include_tombstones=True).agg(F.max("_lsn")).collect()[0][0] - slack
    before = tombstones()
    assert {r[2] < threshold for r in before} == {True, False}, "fixture needs tombstones on both sides"
    out = p.maintenance(keep_versions=1, vacuum_grace_seconds=0)
    assert out["compacted"] and out["vacuumed_files"] > 0
    assert tombstones() == {r for r in before if r[2] >= threshold}
    # compaction bounds files to one set per bucket; data unchanged
    assert len(p.table().files()) <= n_files_before
    cols = PAYLOAD_COLS
    assert checksum(p.table().read().select(*cols), cols) == checksum(exp.select(*cols), cols)
    # vacuumed files are really gone from disk; live files all present
    import os as _os
    for f in p.table().files():
        assert _os.path.exists(_os.path.join(p.table_root, f["path"]))
    # maintenance-triggered compaction must stay changelog-invisible:
    # the op tag is non-overridable, so a changes() range spanning the
    # maintenance commit emits zero spurious change rows.
    v_after = p.table().current_version()
    assert p.table().changes(v_before_maint, v_after).count() == 0, (
        "maintenance compaction leaked into the changelog"
    )


def test_rollback_reprocess_with_fresh_checkpoint_converges(spark, wal_dir, tmpdir_path):
    """The reprocess recipe LakeTable.rollback documents: roll the
    table back, then restart the pipeline with a FRESH checkpoint and
    a FRESH stream_id (fence −1). Spark's file source re-reads the
    whole feed, epoch numbering restarts at 0 under the new fence, and
    LSN fencing folds the re-applied events idempotently — the final
    state converges to the batch oracle even though half the feed was
    applied twice across two stream identities. (Resuming the OLD
    checkpoint/stream_id after a rollback is the reset posture — the
    source would never re-deliver consumed files — covered by the
    docstring; this test pins the replay arm actually converging.)"""
    base = os.path.join(tmpdir_path, "rbrepro")
    os.makedirs(base)
    p = run_pipeline(
        spark, wal_dir, base, max_files_per_trigger=3, merge_mode="mor"
    )
    t = p.table()
    v_mid = max(2, t.current_version() // 2)
    t.rollback(v_mid)
    exp = oracle_state(spark, CFG)
    cols = PAYLOAD_COLS
    assert checksum(t.read().select(*cols), cols) != checksum(exp.select(*cols), cols), (
        "rollback should leave the table behind the full-feed state"
    )

    cfg = PipelineConfig(
        wal_dirs=[wal_dir],
        table_root=os.path.join(base, "transcripts"),
        checkpoint_dir=os.path.join(base, "ckpt-reprocess"),
        stream_id="wal-reprocess",
        buckets=8,
        max_files_per_trigger=3,
        merge_mode="mor",
    )
    p2 = TranscriptCdcPipeline(spark, cfg)
    p2.run_available()
    got = p2.table().read()
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)


def test_randomized_multi_crash_gauntlet(spark, wal_dir, tmpdir_path, monkeypatch):
    """North-rule wording: byte-identical final table under RANDOMIZED
    crash/restart. Seeded RNG picks several crash epochs; the pipeline
    is killed after each one's data commit (``crash_hook``: data
    committed, checkpoint not) and restarted, ending with a clean
    drain. Both merge modes must converge to the batch oracle."""
    import random

    rng = random.Random(4242)
    exp = oracle_state(spark, CFG)
    cols = PAYLOAD_COLS
    for mode in ("cow", "mor"):
        base = os.path.join(tmpdir_path, f"gauntlet-{mode}")
        os.makedirs(base)
        crash_epochs = sorted(rng.sample(range(5), k=2))
        for epoch in crash_epochs:
            with monkeypatch.context() as m, pytest.raises(Exception):
                crash_hook(m, epoch, after=DATA_COMMIT)
                run_pipeline(
                    spark, wal_dir, base, max_files_per_trigger=1,
                    merge_mode=mode, compact_every_epochs=3,
                )
        p = run_pipeline(
            spark, wal_dir, base, max_files_per_trigger=1,
            merge_mode=mode, compact_every_epochs=3,
        )
        got = p.table().read()
        assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols), mode
        # every applied epoch exactly once in the commit history
        applied = [
            m["summary"]["epoch"]
            for m in p.table().history()
            if m["summary"].get("op") in ("merge", "merge-mor") and "epoch" in m["summary"]
        ]
        assert len(applied) == len(set(applied)), f"{mode}: an epoch was applied twice"


def test_auto_salt_splits_hot_conversation_bucket(spark, tmpdir_path):
    """write_salt="auto" (the default) must split a skew-dominated
    bucket's commit across multiple files — one viral conversation
    otherwise serializes every commit behind a single straggler task —
    while leaving results identical and balanced batches unsalted."""
    import pyspark.sql.types as T

    from odibel_spark.lake.table import LakeTable

    # 90% of events in ONE conversation → its bucket is ~9x the mean
    rows = [
        (i + 1, "insert", ("conv-hot" if i % 10 else f"conv-{i}"), i % 40,
         "user", f"m{i}", None, None)
        for i in range(4000)
    ]
    schema = ("lsn long, op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    wal = os.path.join(tmpdir_path, "hotwal")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(wal)

    p = run_pipeline(spark, wal, os.path.join(tmpdir_path, "hot"), merge_mode="mor")
    t = p.table()
    by_bucket: dict = {}
    for f in t.files():
        by_bucket.setdefault(f["bucket"], []).append(f)
    hot_files = max(by_bucket.values(), key=lambda fs: sum(x["rows"] for x in fs))
    assert len(hot_files) > 1, "hot bucket commit should be salted across files"
    assert t.read().count() == spark.createDataFrame(rows, schema).dropDuplicates(
        ["conv_id", "turn_idx"]
    ).count()


def test_rocksdb_state_store_end_to_end(spark, wal_dir, tmpdir_path):
    """state_store="rocksdb" swaps the watermarked-dedup keyed state to
    RocksDBStateStoreProvider with changelog checkpointing — the
    10^10-event posture where dedup state outgrows executor heap. Same
    WAL, same oracle: the final table must be byte-identical to the
    heap-backed run, the checkpoint must contain RocksDB changelog
    artifacts (proof the provider was active), and the session conf
    must be restored after start (no leakage into later queries)."""
    before = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    p = run_pipeline(
        spark, wal_dir, tmpdir_path, max_files_per_trigger=3, state_store="rocksdb"
    )
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) == before

    got = p.table().read()
    exp = oracle_state(spark, CFG)
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)

    state_dir = os.path.join(tmpdir_path, "ckpt", "state")
    arts = [
        name
        for root, _dirs, names in os.walk(state_dir)
        for name in names
        if name.endswith((".changelog", ".zip"))
    ]
    assert arts, "no RocksDB changelog/snapshot artifacts under the checkpoint state dir"


def test_state_store_rejects_unknown_backend(spark, wal_dir, tmpdir_path):
    with pytest.raises(ValueError, match="state_store"):
        run_pipeline(spark, wal_dir, tmpdir_path, state_store="leveldb")


def test_rocksdb_crash_restart_exactly_once(spark, wal_dir, tmpdir_path, monkeypatch):
    """The north rule's resume clause under the RocksDB backend: crash
    after the data commit of epoch 1 (worst ordering — lake advanced,
    checkpoint not), then restart WITHOUT re-requesting RocksDB (the
    default heap config) — the provider CLASS pinned in the
    checkpoint's offset metadata must keep the resumed query on
    RocksDB. Note the documented asymmetry (PipelineConfig.state_store):
    only the provider class is pinned; changelog checkpointing is not,
    so the heap-default resume reverts to full-snapshot uploads —
    production resumes should keep state_store='rocksdb'. The restart
    must fence the replayed epoch and converge byte-identically to the
    batch oracle."""
    with monkeypatch.context() as m, pytest.raises(Exception):  # Spark wraps the injected RuntimeError
        crash_hook(m, 1, after=DATA_COMMIT)
        run_pipeline(
            spark, wal_dir, tmpdir_path, max_files_per_trigger=2, state_store="rocksdb",
        )
    state_dir = os.path.join(tmpdir_path, "ckpt", "state")

    def rocksdb_artifacts():
        return {
            os.path.join(root, name)
            for root, _dirs, names in os.walk(state_dir)
            for name in names
            if name.endswith((".changelog", ".zip"))
        }

    before_restart = rocksdb_artifacts()
    assert before_restart, "crashed run left no RocksDB artifacts to resume from"
    # resume with the DEFAULT (heap) config: pinning must hold anyway
    p = run_pipeline(spark, wal_dir, tmpdir_path, max_files_per_trigger=2)
    exp = oracle_state(spark, CFG)
    got = p.table().read()
    cols = PAYLOAD_COLS
    assert checksum(got.select(*cols), cols) == checksum(exp.select(*cols), cols)
    lin = p.lineage().filter(F.col("epoch") == 1)
    assert lin.groupBy("bucket").count().filter("count > 1").count() == 0
    # the resumed epochs committed NEW RocksDB-format state artifacts
    # (snapshot .zip — changelog checkpointing was not re-requested),
    # proving the provider survived the heap-default session
    assert rocksdb_artifacts() - before_restart, (
        "restart produced no new RocksDB state artifacts — provider pinning not exercised"
    )
