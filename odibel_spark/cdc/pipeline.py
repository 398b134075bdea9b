"""Structured Streaming CDC pipeline: WAL file tail → watermarked dedup
→ epoch-fenced MERGE into a LakeTable, with dead-letter routing,
per-partition lineage and throughput metrics.

North-rule mechanics and where they live:

- **tail a WAL-style change feed**  → ``readStream`` file source over
  the WAL directory (ordered chunk files; a Kafka source would slot in
  unchanged — foreachBatch sees the same micro-batch DataFrame).
- **dedupe by (conv_id, turn_idx, lsn) with watermarked state** →
  ``withWatermark("ts") .dropDuplicatesWithinWatermark`` on the stream
  (bounded keyed state) plus the exact fold inside MERGE (belt and
  braces: the in-stream dedup bounds state, the in-merge fold is the
  correctness guarantee).
- **exactly-once commits** → one epoch fence on one atomic data commit
  per epoch: it stamps the micro-batch id into ``watermarks`` with the
  epoch's rows, dead letters and record, and an epoch the watermark
  already reaches is skipped. A batch replayed after a crash at any of
  its durable writes (or before the checkpoint) rewrites what was not
  committed and runs a due compaction the crash cut off. Reference gap
  this fixes: blind ``overwrite`` sink (DBpediaTKGExtractionSpark.scala:44).
- **resumable lineage** → per-epoch, per-bucket applied-LSN high-water
  marks, event/dead-letter counts and start time, stamped into the
  data commit's summary. ``lineage()`` and ``metrics()`` are views of
  those summaries (reference ThroughputMonitor/HeartbeatMonitor,
  utils/ThrougputMonitor.scala:5-23, log/HeartbeatMonitor.scala:11-71);
  ``batch_seconds`` sums ``committed_at_ms - started_at_ms`` over the
  epoch's data commit and its due compaction.
- **failures never become deletes** → corrupt events split before MERGE
  into one file the data commit names in ``dead_files``, not in its rows
  (DBpediaTKGExtraction.scala:174-195 policy); ``dead_letters()`` also
  reads the ``_deadletter`` table earlier versions appended to.
- **schema evolution** → unified WAL schema discovered from file
  footers; new payload columns promoted with ``table.add_columns``;
  legacy enum variants normalized by Arrow-typed pandas UDFs
  (cdc/evolution.py).
- **skew** → MERGE repartitions by bucket of ``conv_id``, and the LWW
  fold (``lake.table.lww_fold``, a ``max_by`` sort aggregate) runs on
  that one exchange in both merge modes; ``write_salt="auto"`` splits
  a dominant bucket's write by key hash.
"""

from __future__ import annotations

import datetime
import functools
import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odibel_spark.cdc.evolution import diff_new_fields, discover_wal_schema, normalize_batch
from odibel_spark.cdc.replay import EVENT_ID_COLS, KEY_COLS, dead_letter_predicate
from odibel_spark.lake.merge import SYSTEM_FIELDS, merge_upsert
from odibel_spark.lake.table import BucketSpec, LakeTable, _jvm, _schema_of

#: WAL bookkeeping columns that never become table payload
WAL_META_COLS = ("lsn", "op", "wal_chunk")

#: write_salt="auto" floor: the hottest touched bucket must hold at
#: least this many rows in the batch before salting engages — below
#: it a "hot" bucket is just a small batch, and splitting it only
#: multiplies delta files (MoR read amplification) with no straggler
#: relief.
_MIN_SALT_HOT = 1024

#: guards the session-conf swap window in ``_start_stream`` (set
#: state-store confs → start() → restore): two pipelines starting
#: concurrently from different threads must not interleave their
#: set/restore, or the second could capture (or restore over) the
#: first's overrides
_CONF_SWAP_LOCK = threading.Lock()

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("min_lsn", T.LongType(), True),
        T.StructField("max_lsn", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("epoch", T.LongType(), False),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("n_dead", T.LongType(), True),
        T.StructField("batch_seconds", T.DoubleType(), True),
        T.StructField("events_per_sec", T.DoubleType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)


@dataclass
class PipelineConfig:
    wal_dirs: list[str]
    table_root: str
    checkpoint_dir: str
    stream_id: str = "wal"
    buckets: int = 16
    #: must exceed the feed's worst-case event-time disorder (WalConfig:
    #: 2*ts_jitter_s + ooo_window = 124 s) with margin
    watermark_delay: str = "300 seconds"
    max_files_per_trigger: int | None = None
    dedup_in_stream: bool = True
    #: LSN slack for riding tombstone GC: tombstones older than
    #: (stream max-applied LSN − slack) can no longer be contradicted
    #: by any in-flight out-of-order event, so the merge drops them
    #: for free. None = keep tombstones forever.
    tombstone_gc_lsn_slack: int | None = 100_000
    #: "cow" rewrites touched buckets per batch (read-optimized);
    #: "mor" appends folded delta files per batch — O(batch) commits
    #: with read-time fold + periodic compaction (write-optimized)
    merge_mode: str = "cow"
    #: mor only: fold delta files back into one row per key every N
    #: epochs (bounds read amplification); None = manual compaction
    compact_every_epochs: int | None = 8
    #: mor only: columns the periodic compaction additionally sorts
    #: each rewritten bucket file on (compaction doubling as OPTIMIZE —
    #: the rewrite shuffle is already paid, and the sort tightens the
    #: parquet row-group statistics pushed-down range filters prune at
    #: scan time; ("_lsn",) makes "recent changes for this conv" probes
    #: near-O(result)). () = fold order only.
    compact_cluster_by: tuple[str, ...] = ()
    #: >1 splits each bucket's commit write across this many tasks
    #: (salt = a hash of the row's key) — hot-conversation skew insurance:
    #: one dominant conv_id otherwise serializes the commit behind a
    #: single straggler task. The default "auto" derives the salt per
    #: micro-batch from the per-bucket stats the sink already collects:
    #: 1 (no extra files) while the batch is balanced, and splits the
    #: hot bucket to ~2x-mean task sizes (capped at 8) when one bucket
    #: exceeds 4x the mean — so hot-key storms pay no straggler and
    #: quiet streams pay no read amplification.
    write_salt: int | str = "auto"
    #: state-store backend for the in-stream watermarked dedup:
    #: "hdfs" (Spark's default HDFSBackedStateStoreProvider — keyed
    #: state lives in executor HEAP, snapshotted to the checkpoint;
    #: right while dedup state within the watermark fits in memory) or
    #: "rocksdb" (RocksDBStateStoreProvider + changelog checkpointing —
    #: state spills to executor-local disk and checkpoint commits ship
    #: only the per-batch changelog, the posture for 10^10-event feeds
    #: where (conv_id, turn_idx, lsn) dedup state outgrows heap).
    #: Only the provider CLASS is captured in the checkpoint's offset
    #: metadata at first start — a resumed stream keeps its RocksDB
    #: backend even under a heap-default session, but changelog
    #: checkpointing is an ordinary session conf that is NOT pinned:
    #: resume with state_store="rocksdb" (not the default) or the
    #: resumed store silently reverts to full-snapshot uploads and
    #: loses the O(batch) commit cost.
    state_store: str = "hdfs"


def _head(table: LakeTable) -> dict | None:
    """The table's head manifest, or None if it was never created."""
    try:
        return table.manifest()
    except FileNotFoundError:
        return None


@functools.lru_cache(maxsize=8)
def _batch_exprs(jvm) -> tuple:
    """The sink's fixed trees over a flagged batch: the dead and live
    filters, and the stats pass's group keys and aggregates."""
    dead = F.col("_dead")
    return dead, ~dead, (dead, F.col("_b")), (
        F.count("*").alias("n"), F.min("lsn").alias("min_lsn"), F.max("lsn").alias("max_lsn"),
    )


class TranscriptCdcPipeline:
    """One CDC stream → one transcript LakeTable, dead letters included."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.table_root = cfg.table_root
        self.dead_root = cfg.table_root + "_deadletter"
        self.lineage_root = cfg.table_root + "_lineage"
        self.metrics_root = cfg.table_root + "_metrics"
        #: ``_deadletter``'s fence, read at stream start: the last epoch
        #: whose dead letters earlier versions appended there
        self._legacy_dead_fence = -1

    # ------------------------------------------------------ DDL/bootstrap
    def _payload_fields(self, wal_schema: T.StructType) -> list[T.StructField]:
        return [f for f in wal_schema.fields if f.name not in WAL_META_COLS]

    def ensure_tables(self) -> tuple[LakeTable, T.StructType]:
        """Create/evolve the target table from the current unified WAL
        schema, and create the ``_deadletter``, ``_lineage`` and
        ``_metrics`` roots once (never written: the data commits carry
        their content). Returns (table, wal_read_schema). An existing
        table costs one head read (one ``_meta/`` listing) per root
        unless its schema evolves."""
        table, wal_schema, _spec = self._ensure_tables()
        return table, wal_schema

    def _ensure_tables(self) -> tuple[LakeTable, T.StructType, BucketSpec]:
        """``ensure_tables``, plus the table's bucket spec from the head
        it read."""
        wal_schema = discover_wal_schema(self.spark, self.cfg.wal_dirs)
        table = LakeTable(self.spark, self.table_root)
        head = _head(table)
        if head is None:
            from odibel_spark.lake.merge import create_cdc_table

            create_cdc_table(
                self.spark,
                self.table_root,
                self._payload_fields(wal_schema),
                BucketSpec("conv_id", self.cfg.buckets),
                key_cols=KEY_COLS,
                merge_mode=self.cfg.merge_mode,
            )
            head = table.manifest()
        new = diff_new_fields(_schema_of(head), wal_schema, ignore=(*WAL_META_COLS, *SYSTEM_FIELDS))
        if new:
            table.add_columns(new, summary={"source": "wal-schema-discovery"})
        # created, never written: perfbench/workloads.py _epoch_commits lists their _meta/
        for root, schema in (
            (self.dead_root, wal_schema), (self.lineage_root, LINEAGE_SCHEMA), (self.metrics_root, METRICS_SCHEMA),
        ):
            side = _head(LakeTable(self.spark, root))
            if side is None:
                LakeTable.create(self.spark, root, schema)
            elif root == self.dead_root:
                self._legacy_dead_fence = side.get("watermarks", {}).get(self.cfg.stream_id, -1)
        return table, wal_schema, BucketSpec.from_json(head["bucket"])

    # --------------------------------------------------------- the sink
    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        fence = {self.cfg.stream_id: epoch_id}
        table = LakeTable(self.spark, self.table_root)
        head = table.manifest()
        if head.get("watermarks", {}).get(self.cfg.stream_id, -1) >= epoch_id:
            # the epoch fence: a crash after the data commit, before the
            # checkpoint commit, replays the batch. Drain it through the
            # noop sink (Spark 4 validates that foreachBatch consumed every
            # partition — the upstream dedup state stores must commit),
            # then finish whatever of the epoch the crash left undone.
            batch_df.write.format("noop").mode("overwrite").save()
            return self._finish_epoch(table, head, epoch_id)

        # One materialization of the micro-batch (pins the stream-dedup
        # output — every derived job below reuses the cache instead of
        # re-executing the source scan + state-store plan), and ONE
        # stats pass yielding dead-letter counts, per-bucket lineage,
        # and the touched-bucket set for merge pruning. The batch
        # arrives normalized and flagged (``_dead``, ``_b``): the
        # stream defines that stateless chain once per query.
        flagged = batch_df.cache()
        dead, live, stat_keys, stat_aggs = _batch_exprs(_jvm())
        try:
            stats = flagged.groupBy(*stat_keys).agg(*stat_aggs).collect()
            n_dead = sum(r["n"] for r in stats if r["_dead"])
            lineage_rows = [
                {"bucket": r["_b"], "n_events": r["n"], "min_lsn": r["min_lsn"], "max_lsn": r["max_lsn"]}
                for r in stats
                if not r["_dead"]
            ]
            n_ok = sum(r["n_events"] for r in lineage_rows)

            dead_files = []
            if n_dead and epoch_id > self._legacy_dead_fence:
                # dead letters are a trickle: one unbucketed, stats-free file
                # (its base holds only the version hint), named by the data
                # commit; an epoch at or below the legacy fence has them in
                # ``_deadletter`` already
                dead_files = table._write_data_files(
                    flagged.filter(dead).drop("_dead", "_b").coalesce(1), {"version": head["version"]}
                )

            write_salt = self.cfg.write_salt
            if write_salt == "auto":
                # skew-adaptive: the stats pass already knows per-bucket
                # sizes — split only when one bucket dominates (>= 4x
                # the mean over TOUCHED buckets), to ~2x-mean task
                # sizes, capped at 8. The mean excludes untouched
                # buckets so a small batch that happens to land in few
                # buckets isn't mistaken for skew, and an absolute
                # floor (_MIN_SALT_HOT) keeps tiny batches unsalted —
                # splitting a few-thousand-row task is pure delta-file
                # overhead with no straggler to fix.
                write_salt = 1
                if n_ok:
                    mean = n_ok / len(lineage_rows)
                    hot = max(r["n_events"] for r in lineage_rows)
                    if hot >= 4 * mean and hot >= _MIN_SALT_HOT:
                        write_salt = min(8, max(2, round(hot / (2 * mean))))
            man = merge_upsert(
                table,
                flagged.filter(live),  # the flag columns are not table columns
                KEY_COLS,
                # the epoch's record: lineage() and metrics() read it
                summary={
                    "stream_id": self.cfg.stream_id,
                    "epoch": epoch_id,
                    "started_at_ms": int(t0 * 1000),
                    "n_events": n_ok,
                    "n_dead": n_dead,
                    "lineage": lineage_rows,
                },
                watermarks_update=fence,
                touched_buckets={r["bucket"] for r in lineage_rows},
                tombstone_gc_below_lsn=self._gc_below(lineage_rows),
                write_salt=write_salt,
                _base=head,
                _dead_files=dead_files,
            )
            self._finish_epoch(table, man, epoch_id)
        finally:
            flagged.unpersist()

    def _gc_below(self, lineage: list[dict]) -> int | None:
        """Tombstone-GC threshold: an epoch's highest applied LSN minus the slack."""
        if self.cfg.tombstone_gc_lsn_slack is None or not lineage:
            return None
        return max(max(r["max_lsn"] for r in lineage) - self.cfg.tombstone_gc_lsn_slack, 0)

    def _finish_epoch(self, table: LakeTable, newest: dict, epoch_id: int) -> None:
        """An epoch's tail after its data commit, one path for a first
        run and a fenced replay. ``newest`` is the table's newest commit
        (``merge_upsert``'s, or the head on a replay). While it is still
        this epoch's data commit, a due compaction runs: a crash before
        the compaction commit leaves it to the replay."""
        summary = newest.get("summary", {})
        if (
            (summary.get("stream_id"), summary.get("epoch")) == (self.cfg.stream_id, epoch_id)
            and self.cfg.merge_mode == "mor"
            and self.cfg.compact_every_epochs
            and epoch_id > 0
            and epoch_id % self.cfg.compact_every_epochs == 0
        ):
            from odibel_spark.lake.merge import compact_buckets

            compact_buckets(
                table,
                tombstone_gc_below_lsn=self._gc_below(summary.get("lineage", [])),
                summary={"stream_id": self.cfg.stream_id, "after_epoch": epoch_id,
                         "started_at_ms": int(time.time() * 1000)},
                cluster_by=self.cfg.compact_cluster_by,
            )

    # ---------------------------------------------------------- running
    def _stream_reader(self, wal_schema: T.StructType, spec: BucketSpec) -> DataFrame:
        """The WAL stream as the sink takes it: watermarked dedup, then
        the stateless chain every epoch would otherwise rebuild —
        ``normalize_batch``, the ``_dead`` flag and the ``_b`` bucket id
        (``spec``: the table's bucket spec). Spark analyses it once per
        query and re-plans it per batch in the JVM; it sits after the
        stateful operator, so checkpoints of a stream without it
        resume."""
        reader = (
            self.spark.readStream.schema(wal_schema)
            .option("recursiveFileLookup", "true")
        )
        if self.cfg.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.cfg.max_files_per_trigger)
        if len(self.cfg.wal_dirs) != 1:
            # file source takes one path; for multi-generation WALs pass
            # the parent dir (recursive lookup covers v1/v2 subtrees)
            raise ValueError("file-stream WAL supports a single (recursive) directory; pass the parent dir")
        stream = reader.parquet(self.cfg.wal_dirs[0])
        if self.cfg.dedup_in_stream:
            stream = stream.withWatermark("ts", self.cfg.watermark_delay).dropDuplicatesWithinWatermark(
                EVENT_ID_COLS
            )
        return (
            normalize_batch(stream)
            .withColumn("_dead", dead_letter_predicate())
            .withColumn("_b", spec.expr())
        )

    def _state_store_conf(self):
        """Session confs for cfg.state_store, applied around query
        start: a streaming query captures SQLConf at start, and pins
        the provider CLASS (only — not the changelog-checkpointing
        flag, see PipelineConfig.state_store) into its checkpoint
        offset metadata. The session values are restored right after
        start; see ``_start_stream`` for the concurrency window that
        set/restore dance implies."""
        if self.cfg.state_store == "hdfs":
            return {}
        if self.cfg.state_store != "rocksdb":
            raise ValueError(f"state_store must be 'hdfs' or 'rocksdb', got {self.cfg.state_store!r}")
        return {
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            # commit = per-batch changelog upload, snapshot uploads
            # amortized in the background — O(batch) checkpoint cost
            # instead of O(state) per epoch
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        }

    def _start_stream(self, trigger_available_now: bool):
        """Start the stream with the state-store confs swapped in for
        the duration of ``start()`` only. The swap window is guarded by
        a process-wide lock so two pipelines starting from different
        threads can't interleave their set/restore — but a query
        started by UNRELATED code in the same session during the
        window would still capture the override (session confs are
        session-global; there is no narrower scope for the provider
        conf). Restore note: ``conf.get(k, None)`` returns the
        REGISTERED DEFAULT for keys that have one (providerClass
        does), so restore re-sets that default explicitly rather than
        unsetting — same effective value, and the unset branch only
        fires for keys with no registered default."""
        _table, wal_schema, spec = self._ensure_tables()
        stream = self._stream_reader(wal_schema, spec)
        writer = stream.writeStream.foreachBatch(self._apply_batch).option(
            "checkpointLocation", self.cfg.checkpoint_dir
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        overrides = self._state_store_conf()
        with _CONF_SWAP_LOCK:
            saved = {}
            for k, v in overrides.items():
                saved[k] = self.spark.conf.get(k, None)
                self.spark.conf.set(k, v)
            try:
                return writer.start()
            finally:
                for k, old in saved.items():
                    if old is None:
                        self.spark.conf.unset(k)
                    else:
                        self.spark.conf.set(k, old)

    def run_available(self) -> None:
        """Process everything currently in the WAL, then stop
        (Trigger.AvailableNow) — the batch-replay entry point used by
        tests and the bench; identical code path to continuous runs."""
        self._start_stream(trigger_available_now=True).awaitTermination()

    def start(self):
        """Continuous tail (micro-batches as WAL files appear)."""
        return self._start_stream(trigger_available_now=False)

    # ------------------------------------------------------- maintenance
    def maintenance(
        self,
        keep_versions: int = 2,
        compact: bool = True,
        vacuum_grace_seconds: float = 600.0,
    ) -> dict:
        """Off-critical-path housekeeping: MoR compaction folding delta
        files to one row per key, then vacuum of unreferenced data
        files (crash orphans + copy-on-write leftovers) beyond
        ``keep_versions`` snapshots.

        Safe to run from a separate process while the stream drains:
        compaction pins the snapshot it folded and ABORTS with
        CommitConflict if a merge lands in the meantime (never dropping
        the merge's rows — it retries from the fresh snapshot a few
        times first), and vacuum skips uncommitted commit dirs plus a
        mtime grace window so an in-flight writer's files survive."""
        table = LakeTable(self.spark, self.table_root)
        man = table.manifest()
        out: dict = {}
        if compact and man.get("properties", {}).get("merge_mode") == "mor":
            from odibel_spark.lake.merge import compact_buckets

            # tombstone-GC high-water mark: the live files' _lsn upper
            # bounds. A file without bounds could hold a higher LSN, so
            # GC is skipped (a lower threshold, or none, is always safe).
            gc_below = None
            bounds = [(f.get("stats") or {}).get("_lsn") for f in man["files"]]
            if self.cfg.tombstone_gc_lsn_slack is not None and bounds and all(bounds):
                hwm = max(int(b[1]) for b in bounds)
                gc_below = max(hwm - self.cfg.tombstone_gc_lsn_slack, 0)
            compact_buckets(
                table, tombstone_gc_below_lsn=gc_below,
                summary={"reason": "maintenance"},
                cluster_by=self.cfg.compact_cluster_by,
            )
            out["compacted"] = True
        removed = table.vacuum(keep_versions=keep_versions, grace_seconds=vacuum_grace_seconds)
        out["vacuumed_files"] = len(removed)
        return out

    # --------------------------------------------------------- accessors
    def table(self) -> LakeTable:
        return LakeTable.load(self.spark, self.table_root)

    def dead_letters(self) -> DataFrame:
        """Every dead-lettered event, in the WAL's columns: the data head's
        ``dead_files`` (``mergeSchema`` lines up WAL generations) plus the
        rows earlier versions appended to the ``_deadletter`` table."""
        out = LakeTable(self.spark, self.dead_root).read()
        head = LakeTable(self.spark, self.table_root).manifest()
        if paths := [os.path.join(self.table_root, f["path"]) for f in head.get("dead_files", [])]:
            files = self.spark.read.option("mergeSchema", "true").parquet(*paths)
            out = out.unionByName(files, allowMissingColumns=True)
        return out

    def _epochs(self) -> list[list]:
        """``[summary, committed_at, batch_seconds]`` per data commit of
        this stream, from the data table's commit chain. A due compaction
        (``after_epoch``) moves ``committed_at`` and adds to the seconds;
        a commit without ``started_at_ms`` makes them None."""
        out, by_epoch = [], {}
        for m in LakeTable(self.spark, self.table_root).history():
            s = m.get("summary", {})
            if s.get("stream_id") != self.cfg.stream_id:
                continue
            at = datetime.datetime.fromtimestamp(m["committed_at_ms"] / 1000, datetime.timezone.utc)
            secs = (m["committed_at_ms"] - s["started_at_ms"]) / 1000 if "started_at_ms" in s else None
            if "epoch" in s:
                by_epoch[s["epoch"]] = rec = [s, at, secs]
                out.append(rec)
            elif (rec := by_epoch.get(s.get("after_epoch"))) is not None:
                rec[1:] = [at, None if rec[2] is None or secs is None else rec[2] + secs]
        return out

    def lineage(self) -> DataFrame:
        """Per-epoch, per-bucket applied-LSN bounds (``LINEAGE_SCHEMA``),
        a view of the data commits; an epoch that applied nothing has
        one row with ``bucket`` NULL and ``n_events`` 0."""
        rows = [
            (s["stream_id"], s["epoch"], b.get("bucket"), b.get("n_events", 0),
             b.get("min_lsn"), b.get("max_lsn"), at)
            for s, at, _secs in self._epochs()
            for b in s.get("lineage") or [{}]
        ]
        return self.spark.createDataFrame(rows, LINEAGE_SCHEMA)

    def metrics(self) -> DataFrame:
        """One throughput row per epoch (``METRICS_SCHEMA``), a view of
        the data commits: ``events_per_sec`` is ``n_events /
        batch_seconds``."""
        rows = []
        for s, at, secs in self._epochs():
            n = s.get("n_events", 0)
            rows.append((s["stream_id"], s["epoch"], n, s.get("n_dead", 0), secs, n / secs if secs else None, at))
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)
