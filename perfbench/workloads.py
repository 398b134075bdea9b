"""The three CDC benchmark workloads and the metrics they report.

All three start from one seeded WAL written by
``cdc.datagen.write_wal_files`` and one oracle, ``cdc.replay.current_state``
over the same files. Every timed operation is followed, outside the
timed window, by a correctness check against that oracle; an exception
or a mismatch counts as a failed operation.

- ``backlog``: ``run_available()`` replays the whole WAL into a fresh
  merge-on-read table as one micro-batch.
- ``cadence``: the same WAL at one segment per trigger, with the
  default compaction every 8 epochs.
- ``history_reads``: one closed-loop client issues a seeded sequence of
  point lookups, one-commit changelog tails and full folded scans
  against a table whose history was aged past 1,000 versions.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

import spans
from odibel_spark.cdc import datagen, pipeline as cdc_pipeline
from odibel_spark.cdc import PipelineConfig, TranscriptCdcPipeline, WalConfig, current_state
from odibel_spark.cdc.evolution import discover_wal_schema
from odibel_spark.lake import merge as lake_merge
from odibel_spark.lake.table import LakeTable

#: WAL shape shared by every workload. At one file per trigger, 15
#: segments replay as 17 data epochs and one empty trailing epoch: a
#: file's generation follows its events' LSNs, so the segments around
#: the schema evolution marker are written as one file per generation,
#: two of them slivers of a few rows.
N_EVENTS = 100_000
N_SEGMENTS = 15
#: per WAL generation; at one segment per trigger the warm-up runs 6+
#: epochs
WARMUP_SEGMENTS = 3
BUCKETS = 8
STREAM_ID = "wal"
#: history_reads' table: an un-compacted ingest at this many segments
#: per trigger (a few delta files per bucket to fold at read time),
#: then metadata-only empty-epoch commits up to a long history. Each
#: commit lists ``_meta/``, so aging cost grows with the square of the
#: depth: 1,000 commits take 3-7 s, 2,000 take 12-18 s and 3,000 take
#: 20-38 s, which the run budget of two workloads cannot carry.
BUILD_FILES_PER_TRIGGER = 6
AGING_COMMITS = 1000
#: one client cycle of history_reads: (operation, calls per cycle),
#: shuffled per cycle by the seed. The loop only stops between cycles,
#: so per-call layer counts are the same in every run. The counts set
#: how many samples each printed median gets per run; they model no
#: traffic, and no gated metric blends call types: both gated figures
#: come from ``lookup`` alone.
#:
#: - ``lookup`` asks for a conversation drawn with the generator's own
#:   key skew (``WalConfig.skew``), so Zipf-head conversations dominate;
#: - ``lookup_cold`` draws uniformly over all conversation numbers, so
#:   most land in the long tail.
CYCLE = (("lookup", 6), ("lookup_cold", 1), ("changelog", 1), ("scan", 1))
#: lookup keys drawn per kind in set-up; a run cycles through them
LOOKUP_KEYS = 256
#: a history_reads run measures at least this many cycles, so a slow host
#: changes the timings rather than how many (and so how warm) calls are sampled
MIN_CYCLES = 3
#: every column of the table's folded read, in the order hashed
TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "meta", "_lsn"]
#: Spark trigger phases that run outside the foreachBatch sink
OUTSIDE_SINK_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")

#: WAL segments per trigger of the ingest workloads (None = one batch)
FILES_PER_TRIGGER = {"backlog": None, "cadence": 1}

#: name -> unit, for the metrics every untraced run reports
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

#: name -> unit, for the metrics every traced run reports (0 where a
#: workload does not load the layer)
PER_LAYER = {
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.trigger_s": "s",
    "stream.overhead_s": "s",
    "stream.start_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.update_s": "s",
    "state.dropped_by_watermark": "count",
    "state.commit_s": "s",
    "sink.calls": "count",
    "sink.self_s": "s",
    "sink.fenced": "count",
    "evolution.discover_s": "s",
    "deadletter.calls": "count",
    "deadletter.s": "s",
    "deadletter.rows": "count",
    "merge.calls": "count",
    "merge.self_s": "s",
    "merge.write_salt_max": "count",
    "merge.touched_buckets": "count",
    "compact.calls": "count",
    "compact.s": "s",
    "table.append_s": "s",
    "table.files_added": "count",
    "table.bytes_added": "bytes",
    "table.append_rows_calls": "count",
    "table.append_rows_s": "s",
    "table.commits": "count",
    "table.current_version_calls": "count",
    "table.current_version_s": "s",
    "table.manifest_calls": "count",
    "table.manifest_s": "s",
    "read.calls": "count",
    "read.s": "s",
    "read.files_scanned": "count",
    "read.fold_ratio": "ratio",
    "read.raw_rows": "count",
    "read.live_rows": "count",
    "changes.calls": "count",
    "changes.s": "s",
    "changes.files": "count",
    "session.start_s": "s",
    "datagen.wal_s": "s",
    "setup.warmup_s": "s",
    "setup.aging_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_frac": "ratio",
}


class OpFailed(Exception):
    """A timed operation returned a result that disagrees with the oracle."""


def tails(name: str, samples: list[float], unit: str) -> dict:
    """Printed tail statistics of a timing: the highest percentile with
    at least ten samples above it, when that lies above the median
    (21 samples or more), and always the maximum and the sample count."""
    xs = sorted(samples)
    out = {}
    if len(xs) >= 21:
        k = len(xs) - 11
        out[f"{name}_p{100 * (k + 1) // len(xs)}_{unit}"] = (xs[k], unit)
    out[f"{name}_max_{unit}"] = (xs[-1], unit)
    out[f"{name}_samples"] = (len(xs), "count")
    return out


def checksum(df) -> tuple[int, int]:
    """Row count and an order-independent hash of all table columns."""
    row = df.select(*TABLE_COLS).agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64(*TABLE_COLS), F.lit(2**31))).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _row_key(r) -> tuple:
    return tuple(r[c] for c in TABLE_COLS)


class Bench:
    """One benchmark invocation: a session, a seeded WAL in a scratch
    directory, its oracle, and the ops of one workload."""

    def __init__(self, spark, scratch: str, seed: int):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.rng = random.Random(seed)
        self.wal = os.path.join(scratch, "wal")
        self.setup: dict[str, float] = {}
        self.progress = spans.ProgressLog()
        spark.streams.addListener(self.progress)
        self.tracer = self._tracer()
        self._dirs = 0

    # ------------------------------------------------------------ setup
    def make_wal(self) -> None:
        t0 = time.perf_counter()
        self.wal_cfg = cfg = WalConfig(n_events=N_EVENTS, n_convs=N_EVENTS // 50, seed=self.seed)
        datagen.write_wal_files(self.spark, cfg, self.wal, n_files=N_SEGMENTS)
        self.setup["datagen.wal_s"] = time.perf_counter() - t0
        import pyarrow.parquet as pq

        files = [os.path.join(d, n) for d, _, ns in os.walk(self.wal) for n in ns if n.endswith(".parquet")]
        self.wal_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)

    def make_oracle(self) -> None:
        """Expected table: ``current_state`` over the WAL files, plus the
        evolved ``meta`` column the fold carries by LSN."""
        schema = discover_wal_schema(self.spark, [self.wal])
        ev = self.spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(self.wal)
        self.oracle = current_state(ev).join(
            ev.select("lsn", "meta").dropDuplicates(["lsn"]), F.col("_lsn") == F.col("lsn"), "left"
        ).drop("lsn")
        self.oracle_sum = checksum(self.oracle)

    def fresh_dir(self) -> str:
        self._dirs += 1
        d = os.path.join(self.scratch, f"op{self._dirs}")
        os.makedirs(d)
        return d

    def pipeline(self, root: str, files_per_trigger, compact_every=8, wal=None) -> TranscriptCdcPipeline:
        return TranscriptCdcPipeline(
            self.spark,
            PipelineConfig(
                wal_dirs=[wal or self.wal],
                table_root=os.path.join(root, "t"),
                checkpoint_dir=os.path.join(root, "ckpt"),
                stream_id=STREAM_ID,
                buckets=BUCKETS,
                merge_mode="mor",
                max_files_per_trigger=files_per_trigger,
                compact_every_epochs=compact_every,
            ),
        )

    def warm_up(self, files_per_trigger) -> None:
        """One untimed replay in the workload's own trigger posture (and
        one compaction), so JIT and codegen are paid before the first
        timed operation. It replays the first WARMUP_SEGMENTS files of
        each WAL generation: the same code paths, schema evolution
        included, on part of the rows."""
        t0 = time.perf_counter()
        root = self.fresh_dir()
        wal = os.path.join(root, "wal")
        for gen in ("v1", "v2"):
            chunks = [c for c in os.listdir(os.path.join(self.wal, gen)) if c.startswith("wal_chunk=")]
            chunks.sort(key=lambda c: int(c.split("=")[1]))
            for chunk in chunks[:WARMUP_SEGMENTS]:
                src = os.path.join(self.wal, gen, chunk)
                os.makedirs(os.path.join(wal, gen, chunk))
                for name in os.listdir(src):
                    os.link(os.path.join(src, name), os.path.join(wal, gen, chunk, name))
        p = self.pipeline(root, files_per_trigger, wal=wal)
        p.run_available()
        lake_merge.compact_buckets(p.table())
        shutil.rmtree(root)
        self.setup["setup.warmup_s"] = time.perf_counter() - t0

    # ----------------------------------------------------------- tracing
    def _tracer(self) -> spans.Tracer:
        t = spans.Tracer()

        def epoch(args, kwargs, _res):
            return {"epoch": int(args[2])}

        def merge_attrs(args, kwargs, _res):
            touched = kwargs.get("touched_buckets")
            return {
                "write_salt": int(kwargs.get("write_salt", 1)),
                "touched": len(touched) if touched is not None else 0,
            }

        def append_attrs(args, kwargs, man):
            table = args[0]
            new = [f for f in man["files"] if f["path"].startswith(f"data/c{man['version']}-")]
            return {
                "deadletter": table.root.endswith("_deadletter"),
                "files": len(new),
                "bytes": sum(f["bytes"] for f in new),
                "rows": sum(f["rows"] for f in new),
            }

        t.add(TranscriptCdcPipeline, "_apply_batch", "sink", epoch)
        t.add(cdc_pipeline, "merge_upsert", "merge", merge_attrs)
        t.add(cdc_pipeline, "discover_wal_schema", "evolution.discover")
        t.add(lake_merge, "compact_buckets", "compact")
        t.add(LakeTable, "append", "append", append_attrs)
        t.add(LakeTable, "append_rows", "append_rows")
        t.add(LakeTable, "read", "read")
        t.add(LakeTable, "changes", "changes")
        t.add(LakeTable, "current_version", "current_version")
        t.add(LakeTable, "manifest", "manifest")
        return t

    # ------------------------------------------------------------ ingest
    def replay(self, files_per_trigger, traced: bool, tag: str) -> dict:
        """One timed ``run_available()`` into a fresh table, then the
        oracle check. Returns the op record."""
        root = self.fresh_dir()
        p = self.pipeline(root, files_per_trigger)
        before = self.progress.runs_done()
        self.tracer.run_id = tag
        if traced:
            self.tracer.install()
        start_unix = time.time()
        t0 = time.perf_counter()
        try:
            p.run_available()
        finally:
            wall = time.perf_counter() - t0
            if traced:
                self.tracer.uninstall()
        run = self.progress.wait_new_run(before)
        prog = self.progress.progress.get(run, [])
        got = checksum(p.table().read())
        rec = {
            "tag": tag,
            "traced": traced,
            "wall_s": wall,
            "start_unix": start_unix,
            "stream_run_id": run,
            "progress": prog,
            "commits": _epoch_commits(p),
            "table_checksum": list(got),
        }
        shutil.rmtree(root)
        if got != self.oracle_sum:
            raise OpFailed(f"{tag}: table {got} != oracle {self.oracle_sum}")
        return rec

    # ----------------------------------------------------- history reads
    def build_history(self) -> None:
        """Un-compacted cadence ingest, then empty-epoch metadata commits
        up to a long history. The build and one untimed cycle of calls
        are the warm-up; the cycle's checked scan also checks the build."""
        t0 = time.perf_counter()
        root = self.fresh_dir()
        p = self.pipeline(root, BUILD_FILES_PER_TRIGGER, compact_every=None)
        p.run_available()
        self.table = p.table()
        self.setup["setup.warmup_s"] = time.perf_counter() - t0
        self.make_oracle()

        mans = self.table.history()
        self.changelog_rows: dict[int, int] = {}
        for prev, man in zip(mans, mans[1:]):
            old = {f["path"] for f in prev["files"]}
            added = [f["rows"] for f in man["files"] if f["path"] not in old and f["rows"] > 0]
            if man["summary"].get("op") == "merge-mor" and added:
                self.changelog_rows[man["version"]] = sum(added)
        self.raw_rows = mans[-1]["row_count"]

        t0 = time.perf_counter()
        epoch = self.table.watermark(STREAM_ID)
        for _ in range(AGING_COMMITS):
            epoch += 1
            self.table.commit_metadata(
                {"stream_id": STREAM_ID, "epoch": epoch, "n_events": 0, "empty_batch": True, "op": "merge"},
                {STREAM_ID: epoch},
            )
        self.setup["setup.aging_s"] = time.perf_counter() - t0

        cfg = self.wal_cfg
        self.keys = {
            "lookup": [
                f"conv-{int(cfg.n_convs * self.rng.random() ** cfg.skew)}" for _ in range(LOOKUP_KEYS)
            ],
            "lookup_cold": [f"conv-{self.rng.randrange(cfg.n_convs)}" for _ in range(LOOKUP_KEYS)],
        }
        self.key_pos = dict.fromkeys(self.keys, 0)
        wanted = sorted({c for ks in self.keys.values() for c in ks})
        self.oracle_rows: dict[str, list[tuple]] = {c: [] for c in wanted}
        for r in self.oracle.filter(F.col("conv_id").isin(wanted)).collect():
            self.oracle_rows[r["conv_id"]].append(_row_key(r))
        for rows in self.oracle_rows.values():
            rows.sort(key=repr)
        for op in self.cycle_ops():
            self.read_op(op, traced=False, tag="warmup")

    def cycle_ops(self) -> list[str]:
        ops = [op for op, n in CYCLE for _ in range(n)]
        self.rng.shuffle(ops)
        return ops

    def read_op(self, op: str, traced: bool, tag: str) -> dict:
        """One timed reader call, then its check. Returns the op record;
        a traced call also records how many files its scan plans."""
        t = self.table
        self.tracer.run_id = tag
        if op.startswith("lookup"):
            keys = self.keys[op]
            arg = keys[self.key_pos[op] % len(keys)]
            self.key_pos[op] += 1
            make = lambda: t.read(where_ranges={"conv_id": (arg, arg)})  # noqa: E731
            materialize = lambda df: df.collect()  # noqa: E731
        elif op == "changelog":
            arg = self.rng.choice(sorted(self.changelog_rows))
            make = lambda: t.changes(arg - 1, arg)  # noqa: E731
            materialize = lambda df: df.toArrow()  # noqa: E731
        else:
            arg = None
            make = t.read
            materialize = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        if traced:
            self.tracer.install()
        t0 = time.perf_counter()
        try:
            df = make()
            out = materialize(df)
        finally:
            secs = time.perf_counter() - t0
            if traced:
                self.tracer.uninstall()
        rec = {"tag": tag, "op": op, "arg": arg, "traced": traced, "s": secs}
        if traced:
            rec["files"] = len(df.inputFiles())
        if op.startswith("lookup"):
            got = sorted((_row_key(r) for r in out), key=repr)
            if got != self.oracle_rows[arg]:
                raise OpFailed(f"lookup {arg}: {len(got)} rows != oracle {len(self.oracle_rows[arg])}")
        elif op == "changelog":
            if out.num_rows != self.changelog_rows[arg]:
                raise OpFailed(
                    f"changes({arg - 1}, {arg}): {out.num_rows} rows != manifest {self.changelog_rows[arg]}"
                )
        else:
            got = checksum(t.read())
            if got != self.oracle_sum:
                raise OpFailed(f"scan: {got} != oracle {self.oracle_sum}")
        return rec


def _epoch_commits(p: TranscriptCdcPipeline) -> int:
    """Versions the stream added across the data, dead-letter, lineage
    and metrics chains (everything but table creation and schema
    evolution)."""
    n = 0
    for root in (p.table_root, p.dead_root, p.lineage_root, p.metrics_root):
        meta = os.path.join(root, "_meta")
        for name in os.listdir(meta):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(meta, name)) as f:
                    op = json.load(f)["summary"].get("op")
                n += op not in ("create", "evolve-schema")
    return n


# ------------------------------------------------------------- metrics
def ingest_end_to_end(b: Bench, ops: list[dict]) -> tuple[dict, dict]:
    """throughput = WAL events / wall of run_available(), median over
    replays; latency = median triggerExecution over data batches."""
    trig = [p["durationMs"]["triggerExecution"] for o in ops for p in o["progress"] if p["numInputRows"] > 0]
    out = {
        "throughput_per_s": statistics.median(b.wal_rows / o["wall_s"] for o in ops),
        "latency_p50_ms": float(statistics.median(trig)),
    }
    extra = {
        "events_per_s": (out["throughput_per_s"], "events/s"),
        "commit_p50_s": (out["latency_p50_ms"] / 1000, "s"),
        **tails("commit", [t / 1000 for t in trig], "s"),
        "replays": (len(ops), "count"),
        "replay_wall_s": (statistics.median(o["wall_s"] for o in ops), "s"),
    }
    return out, extra


def reads_end_to_end(ops: list[dict]) -> tuple[dict, dict]:
    """Both gated figures come from ``lookup`` calls alone: throughput =
    lookups per second of lookup latency; latency = median lookup. The
    other call types are printed only."""
    secs = lambda op, scale: [o["s"] * scale for o in ops if o["op"] == op]  # noqa: E731
    look = secs("lookup", 1000)
    out = {
        "throughput_per_s": 1000 * len(look) / sum(look),
        "latency_p50_ms": statistics.median(look),
    }
    extra = {
        "lookup_p50_ms": (out["latency_p50_ms"], "ms"),
        **tails("lookup", look, "ms"),
        "lookup_cold_p50_ms": (statistics.median(secs("lookup_cold", 1000)), "ms"),
        "changelog_p50_ms": (statistics.median(secs("changelog", 1000)), "ms"),
        "scan_s": (statistics.median(secs("scan", 1)), "s"),
    }
    return out, extra


def ingest_layers(b: Bench, rec: dict) -> dict:
    """Per-layer metrics of one traced replay. Seconds and counts are
    per replay; metadata calls and commits are per epoch (sink call)."""
    sp = [s for s in b.tracer.run_spans(rec["tag"]) if s]
    own = spans.self_times(sp)
    by = lambda name: [s for s in sp if s["name"] == name]  # noqa: E731
    self_sum = lambda ss: sum(own[s["id"]] for s in ss)  # noqa: E731
    m = dict.fromkeys(PER_LAYER, 0.0)

    prog = rec["progress"]
    dur = lambda p, k: p["durationMs"].get(k, 0) / 1000  # noqa: E731
    states = [p.get("stateOperators") or [] for p in prog]
    m["stream.batches"] = len(prog)
    m["stream.input_rows"] = sum(p["numInputRows"] for p in prog)
    m["stream.trigger_s"] = sum(dur(p, "triggerExecution") for p in prog)
    m["stream.overhead_s"] = sum(dur(p, "triggerExecution") - dur(p, "addBatch") for p in prog)
    m["stream.start_s"] = spans.progress_epoch_s(prog[0]) - rec["start_unix"] if prog else 0.0
    m["state.rows_total"] = max((sum(o["numRowsTotal"] for o in s) for s in states), default=0)
    m["state.memory_bytes"] = max((sum(o["memoryUsedBytes"] for o in s) for s in states), default=0)
    m["state.update_s"] = sum(o.get("allUpdatesTimeMs", 0) for s in states for o in s) / 1000
    m["state.dropped_by_watermark"] = sum(o.get("numRowsDroppedByWatermark", 0) for s in states for o in s)
    m["state.commit_s"] = sum(o.get("commitTimeMs", 0) for s in states for o in s) / 1000

    sinks = by("sink")
    merges = by("merge")
    m["sink.calls"] = len(sinks)
    m["sink.self_s"] = self_sum(sinks)
    m["sink.fenced"] = len(sinks) - len({s["parent"] for s in merges})
    m["evolution.discover_s"] = sum(spans.duration(s) for s in by("evolution.discover"))

    appends = by("append")
    dead = [s for s in appends if s["deadletter"]]
    data = [s for s in appends if not s["deadletter"]]
    m["deadletter.calls"] = len(dead)
    m["deadletter.s"] = self_sum(dead)
    m["deadletter.rows"] = sum(s["rows"] for s in dead)
    m["merge.calls"] = len(merges)
    m["merge.self_s"] = self_sum(merges)
    m["merge.write_salt_max"] = max((s["write_salt"] for s in merges), default=0)
    touched = [s["touched"] for s in merges if s["touched"]]
    m["merge.touched_buckets"] = statistics.mean(touched) if touched else 0.0
    m["compact.calls"] = len(by("compact"))
    m["compact.s"] = sum(spans.duration(s) for s in by("compact"))
    m["table.append_s"] = self_sum(data)
    m["table.files_added"] = sum(s["files"] for s in data)
    m["table.bytes_added"] = sum(s["bytes"] for s in data)
    m["table.append_rows_calls"] = len(by("append_rows"))
    m["table.append_rows_s"] = self_sum(by("append_rows"))
    m["read.calls"] = len(by("read"))
    m["read.s"] = self_sum(by("read"))
    m["changes.calls"] = len(by("changes"))
    m["changes.s"] = self_sum(by("changes"))

    epochs = max(len(sinks), 1)
    m["table.commits"] = rec["commits"] / epochs
    for name in ("current_version", "manifest"):
        ss = by(name)
        m[f"table.{name}_calls"] = len(ss) / epochs
        m[f"table.{name}_s"] = self_sum(ss) / epochs

    sink_s = {s["epoch"]: spans.duration(s) for s in sinks}
    trig = uncovered = 0.0
    for p in prog:
        t = dur(p, "triggerExecution")
        covered = sink_s.get(p["batchId"], 0.0) + sum(dur(p, k) for k in OUTSIDE_SINK_PHASES)
        trig += t
        uncovered += max(t - covered, 0.0)
    m["trace.unattributed_frac"] = uncovered / trig if trig else 0.0
    return m


def reads_layers(b: Bench, recs: list[dict]) -> dict:
    """Per-layer metrics of traced reader calls, per reader call."""
    tags = {r["tag"] for r in recs}
    sp = [s for s in b.tracer.spans if s and s["run"] in tags]
    own = spans.self_times(sp)
    by = lambda name: [s for s in sp if s["name"] == name]  # noqa: E731
    calls = max(len(recs), 1)
    m = dict.fromkeys(PER_LAYER, 0.0)
    for name in ("current_version", "manifest"):
        ss = by(name)
        m[f"table.{name}_calls"] = len(ss) / calls
        m[f"table.{name}_s"] = sum(own[s["id"]] for s in ss) / calls
    for name in ("read", "changes"):
        ss = by(name)
        m[f"{name}.calls"] = len(ss) / calls
        m[f"{name}.s"] = sum(own[s["id"]] for s in ss) / calls
    m["read.files_scanned"] = statistics.mean(r["files"] for r in recs if r["op"] != "changelog")
    m["changes.files"] = statistics.mean(r["files"] for r in recs if r["op"] == "changelog")
    m["read.raw_rows"] = b.raw_rows
    m["read.live_rows"] = b.oracle_sum[0]
    m["read.fold_ratio"] = b.raw_rows / b.oracle_sum[0]
    return m
