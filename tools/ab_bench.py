"""Interleaved same-JVM A/B bench → machine-readable artifact.

VERDICT r2 established the host-noise ground rule (BENCH/BASELINE.md
variance appendix): on this shared sandbox only *interleaved*
comparisons inside one JVM/process are trustworthy — sequential
cross-process numbers swing several-fold with neighbor load. Round 2's
trigger-posture A/B (one-batch vs per-file cadence, 2.2×) was recorded
only as prose; this tool persists such comparisons as JSON artifacts
next to BENCH/BASELINE.md so cross-round perf claims are auditable.

Protocol: warmup rep of each arm, then ``reps`` interleaved cells
(A, B, A, B, ...), best-of per arm as the headline (minimum is the
noise-robust statistic on a contended host), all cells recorded.

Usage:
    python tools/ab_bench.py trigger_posture [--events 1000000] [--reps 3]
    python tools/ab_bench.py lsh_mass_dup    [--copies 20000] [--reps 3]
    python tools/ab_bench.py lsh_clean_corpus [--docs 20000] [--reps 3]
    python tools/ab_bench.py stream_dedup [--events 1000000] [--reps 3]
    python tools/ab_bench.py state_store     [--events 1000000] [--reps 3]
    python tools/ab_bench.py state_store_pressure --events 8000000 --heap 2g --timeout 2100
        (argparse defaults are 1M/1g/900 — too light for the heap arm
        to OOM; the recorded artifact's invocation is the line above)
    python tools/ab_bench.py cluster_layout [--events 2000000] [--reps 3]   (--events = row count)
    python tools/ab_bench.py compact_cluster [--events 4000000] [--reps 3]  (--events = row count)
    python tools/ab_bench.py point_lookup [--events 100000] [--reps 72] [--cpus 4]
        (--reps = lookups per arm; p50 headline, see ab_point_lookup)
    python tools/ab_bench.py epoch_driver [--events 100000] [--reps 3] [--cpus 4]
        (cadence replays; per-epoch sink, round-trip and job split, see ab_epoch_driver)

Modes whose decision is closed are retired from the tool; their
recorded artifacts stay under BENCH/ as the record
(ab_shingle_tokenize_w*.json, ab_infer_filter_pushdown.json,
ab_profile_cse.json, ab_kmeans_divide.json, ab_triples_cache.json).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCH")


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_ab(name: str, spark, arms: dict, reps: int, meta: dict) -> dict:
    """arms: {label: callable() -> None}. Interleave reps after one
    unrecorded warmup per arm; write BENCH/ab_<name>.json."""
    from bench import cpu_reference_miters_fixedwork

    labels = list(arms)
    for lbl in labels:  # warmup: JIT/codegen/session costs paid outside cells
        arms[lbl]()
    cells: list[dict] = []
    for rep in range(reps):
        for lbl in labels:
            t0 = time.perf_counter()
            arms[lbl]()
            cells.append({"rep": rep, "arm": lbl, "sec": round(time.perf_counter() - t0, 3)})
    best = {lbl: min(c["sec"] for c in cells if c["arm"] == lbl) for lbl in labels}
    a, b = labels[0], labels[1]
    artifact = {
        "name": name,
        "protocol": "interleaved same-JVM, 1 warmup/arm, best-of-%d" % reps,
        "arms": labels,
        "best_sec": best,
        # how many times faster arm b's best is than arm a's best
        "speedup_b_vs_a": round(best[a] / best[b], 3) if best[b] else None,
        # generalization for ≥3-arm runs: each arm's speedup vs arm 0
        "speedup_vs_first": {
            lbl: (round(best[a] / best[lbl], 3) if best[lbl] else None) for lbl in labels[1:]
        },
        "cells": cells,
        "cpu_ref_miters_fixedwork": round(cpu_reference_miters_fixedwork(), 1),
        **meta,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"ab_{name}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({k: v for k, v in artifact.items() if k != "cells"}))
    print(f"wrote {os.path.normpath(path)}")
    return artifact


def ab_trigger_posture(spark, events: int, reps: int) -> None:
    """bench.py's one-big-micro-batch posture vs the default per-file
    cadence, on the identical WAL — the r2 prose claim as an artifact."""
    from odibel_spark.cdc import PipelineConfig, TranscriptCdcPipeline, WalConfig, write_wal_files

    base = tempfile.mkdtemp(prefix="ab-trigger-")
    cpus = spark.sparkContext.defaultParallelism
    n_files = max(8, cpus // 2)
    wal = write_wal_files(
        spark, WalConfig(n_events=events, n_convs=max(events // 50, 100), seed=42),
        os.path.join(base, "wal"), n_files=n_files,
    )
    seq = [0]

    def run(max_files: int | None) -> None:
        seq[0] += 1
        root = os.path.join(base, f"t{seq[0]}")
        p = TranscriptCdcPipeline(
            spark,
            PipelineConfig(
                wal_dirs=[wal], table_root=os.path.join(root, "tbl"),
                checkpoint_dir=os.path.join(root, "ckpt"), buckets=cpus,
                merge_mode="mor", max_files_per_trigger=max_files,
            ),
        )
        p.run_available()
        shutil.rmtree(root, ignore_errors=True)

    try:
        run_ab(
            "trigger_posture", spark,
            {"per_file_cadence": lambda: run(1), "one_batch": lambda: run(None)},
            reps,
            {"events": events, "wal_files": n_files,
             "note": "MoR pipeline, identical WAL; one_batch = no trigger limit, the whole "
                     "backlog in ONE data micro-batch (bench.py headline posture since r4 — "
                     "maxFilesPerTrigger=n_files was off by one, the schema-evolution segment "
                     "adds a physical file), per_file_cadence = maxFilesPerTrigger=1"},
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def ab_lsh_mass_dup(spark, copies: int, reps: int) -> None:
    """LSH candidate generation WITH vs WITHOUT the r3 fingerprint
    pre-collapse, on a mass-duplicate corpus (the degenerate-bucket
    workload VERDICT r2 named as the one scale-killer)."""
    import pyspark.sql.functions as F

    from odibel_spark.functions.dedup import minhash_lsh_candidates

    n_distinct = 50
    # each variant is 20 md5-derived words — variants share (almost) no
    # shingles, so the only skew is the in-group mass duplication. (A
    # shared-prefix fixture makes every variant a near-dup of every
    # other, which turns the TRUE output quadratic in the corpus — that
    # measures output size, not the collapse.)
    variant = (F.col("id") % n_distinct).cast("string")
    words = F.transform(
        F.sequence(F.lit(1), F.lit(20)),
        lambda j: F.md5(F.concat(variant, F.lit("_"), j.cast("string"))),
    )
    docs = (
        spark.range(copies)
        .select(F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text"))
        .repartition(16)
    )
    docs.cache().count()

    def run(collapse) -> None:
        # cap disabled so every arm generates the identical full pair set
        pairs = minhash_lsh_candidates(
            docs, "doc_id", "text", max_bucket_size=None, collapse=collapse
        )
        materialize(pairs.agg(F.count("*").alias("n")))

    try:
        run_ab(
            "lsh_mass_dup", spark,
            {"uncollapsed": lambda: run(False), "collapsed": lambda: run(True),
             "auto": lambda: run("auto")},
            reps,
            {"docs": copies, "distinct_texts": n_distinct,
             "note": "LSH candidate generation on a corpus of `docs` documents with only "
                     "`distinct_texts` distinct contents (mass-duplicate skew). collapsed = "
                     "r3 fingerprint pre-collapse (reps shingle once; in-group pairs from a "
                     "distributed fingerprint self-join); uncollapsed = pre-r3 shape (every "
                     "copy in every band bucket, single-task array explosion per bucket); "
                     "auto = r5 sampled duplicate-rate probe (must pick the collapsed arm "
                     "here and keep its win, probe cost included). Output pair sets are "
                     "equal (tests/test_dedup_skew.py); cap disabled so all arms do full "
                     "work"},
        )
    finally:
        docs.unpersist()


def ab_lsh_clean_corpus(spark, docs_n: int, reps: int) -> None:
    """The collapse knob's cost at the OTHER extreme from lsh_mass_dup:
    an all-distinct corpus, where the fingerprint pre-collapse buys
    nothing and its extra shuffle + expansion joins are pure tax. Both
    arms are the public API (``collapse=`` parameter, r4); together the
    two artifacts bound the knob: collapse wins ~4× under mass
    duplication, costs this much when the corpus is already clean."""
    import pyspark.sql.functions as F

    from odibel_spark.functions.dedup import minhash_lsh_candidates

    words = F.transform(
        F.sequence(F.lit(1), F.lit(20)),
        lambda j: F.md5(F.concat(F.col("id").cast("string"), F.lit("_"), j.cast("string"))),
    )
    docs = (
        spark.range(docs_n)
        .select(F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text"))
        .repartition(16)
    )
    docs.cache().count()

    def run(collapse):
        pairs = minhash_lsh_candidates(
            docs, "doc_id", "text", max_bucket_size=None, collapse=collapse
        )
        materialize(pairs.agg(F.count("*").alias("n")))

    try:
        run_ab(
            "lsh_clean_corpus", spark,
            {"collapsed": lambda: run(True), "uncollapsed": lambda: run(False),
             "auto": lambda: run("auto")},
            reps,
            {"docs": docs_n, "distinct_texts": docs_n,
             "note": "LSH candidate generation on an all-distinct corpus: collapsed = "
                     "default skew guard (fingerprint shuffle is pure overhead here), "
                     "uncollapsed = collapse=False (the documented knob for corpora "
                     "already exact-deduped upstream), auto = r5 sampled duplicate-rate "
                     "probe (should land within ~1.3x of uncollapsed, probe cost "
                     "included). Output pair sets are equal; speedup_b_vs_a quantifies "
                     "the clean-corpus tax the default guard costs"},
        )
    finally:
        docs.unpersist()


def ab_state_store(spark, events: int, reps: int) -> None:
    """r4 state-store knob cost at bench scale: the full MoR pipeline
    (in-stream watermarked dedup ON) with the default heap-backed
    provider vs RocksDB + changelog checkpointing, identical WAL.
    RocksDB pays JNI + disk-format overhead while state fits in heap —
    this artifact quantifies that so the docs' 'switch when state
    outgrows memory' guidance has a measured price tag."""
    from odibel_spark.cdc import PipelineConfig, TranscriptCdcPipeline, WalConfig, write_wal_files

    base = tempfile.mkdtemp(prefix="ab-statestore-")
    cpus = spark.sparkContext.defaultParallelism
    n_files = max(8, cpus // 2)
    wal = write_wal_files(
        spark, WalConfig(n_events=events, n_convs=max(events // 50, 100), seed=42),
        os.path.join(base, "wal"), n_files=n_files,
    )
    seq = [0]

    def run(backend: str) -> None:
        seq[0] += 1
        root = os.path.join(base, f"t{seq[0]}")
        p = TranscriptCdcPipeline(
            spark,
            PipelineConfig(
                wal_dirs=[wal], table_root=os.path.join(root, "tbl"),
                checkpoint_dir=os.path.join(root, "ckpt"), buckets=cpus,
                merge_mode="mor", max_files_per_trigger=None, state_store=backend,
            ),
        )
        p.run_available()
        shutil.rmtree(root, ignore_errors=True)

    try:
        run_ab(
            "state_store", spark,
            {"hdfs_heap": lambda: run("hdfs"), "rocksdb": lambda: run("rocksdb")},
            reps,
            {"events": events, "wal_files": n_files,
             "note": "full MoR pipeline incl. watermarked dedup, one-batch trigger, "
                     "identical WAL; speedup_b_vs_a < 1 is the RocksDB overhead while "
                     "state fits in heap — the backend's win case (state > memory) "
                     "cannot manifest at this scale by construction"},
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _pressure_child(backend: str, wal: str, root: str, cpus: int) -> None:
    """Child JVM for ab_state_store_pressure: run the MoR pipeline with
    the given state-store backend under the heap the parent pinned via
    SPARK_GRAFT_DRIVER_MEM, print one JSON line. Exits nonzero (or the
    JVM aborts) when the backend can't sustain the state.

    Two knobs are load-bearing, each killing one confound:
    - ``max_files_per_trigger=1``: one WAL file per micro-batch keeps
      the per-batch shuffle working set far under the pinned heap (the
      first recording used one-batch ingestion and both arms OOMed in
      the ingest shuffle before state size ever mattered).
    - ``watermark_delay="36500 days"``: the synthetic WAL's event time
      advances ~1 s/event, so the default 300 s watermark evicts each
      batch's dedup state as the next batch arrives and the store
      never grows past ~events/16 entries (the second recording: both
      arms finished comfortably). An effectively-infinite delay keeps
      every (conv_id, turn_idx, lsn) entry live, so state climbs to
      `events` entries by the final batch — the actual variable under
      test."""
    from odibel_spark import get_spark
    from odibel_spark.cdc import PipelineConfig, TranscriptCdcPipeline

    spark = get_spark(f"pressure-{backend}", cpus=cpus, shuffle_partitions=cpus * 2)
    t0 = time.perf_counter()
    p = TranscriptCdcPipeline(
        spark,
        PipelineConfig(
            wal_dirs=[wal], table_root=os.path.join(root, "tbl"),
            checkpoint_dir=os.path.join(root, "ckpt"), buckets=cpus,
            merge_mode="mor", max_files_per_trigger=1, state_store=backend,
            watermark_delay="36500 days",
        ),
    )
    p.run_available()
    sec = round(time.perf_counter() - t0, 3)
    rows = p.table().read().count()
    print(json.dumps({"backend": backend, "sec": sec, "rows": rows, "ok": True}))
    spark.stop()


def ab_state_store_pressure(events: int, heap: str, cpus: int, timeout_s: int) -> None:
    """The RocksDB backend's REASON TO EXIST (r4 VERDICT item #4):
    ab_state_store showed only the overhead case (state fits in heap,
    RocksDB 0.88×). Here every event carries a DISTINCT conv_id, so the
    in-stream dedup accumulates `events` state entries over the run,
    fed one WAL file per micro-batch (events/16 rows each — small
    enough that no single batch's working set presses the heap), and
    each arm runs in its own child JVM whose heap is pinned small
    (SPARK_GRAFT_DRIVER_MEM — local mode, so driver heap IS the
    executor heap). The heap-backed HDFS provider keeps the full state
    map on-heap and degrades/aborts as state grows; RocksDB keeps it
    native/on-disk and sustains.

    Protocol deviates from run_ab on purpose: arms NEED separate JVMs
    (heap is a JVM-launch knob), and the comparison is
    survive-vs-degrade, not an interleaved timing delta."""
    import subprocess

    from odibel_spark import get_spark
    from odibel_spark.cdc import WalConfig, write_wal_files

    base = tempfile.mkdtemp(prefix="ab-pressure-")
    try:
        spark = get_spark("ab-pressure-gen", cpus=cpus, shuffle_partitions=cpus * 2)
        wal = write_wal_files(
            spark, WalConfig(n_events=events, n_convs=events, seed=42),
            os.path.join(base, "wal"), n_files=16,
        )
        spark.stop()  # children get the host to themselves
        arms = {}
        for i, backend in enumerate(["rocksdb", "hdfs"]):
            env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=heap)
            t0 = time.perf_counter()
            try:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "state_store_pressure",
                     "--pressure-child", backend, wal, os.path.join(base, f"run{i}"),
                     "--cpus", str(cpus)],
                    env=env, capture_output=True, text=True, timeout=timeout_s,
                )
                line = next(
                    (ln for ln in reversed(r.stdout.splitlines()) if ln.startswith("{")), None
                )
                if r.returncode == 0 and line:
                    arms[backend] = json.loads(line)
                else:
                    err = (r.stderr or "") + "\n" + (r.stdout or "")
                    # surface the OOM evidence if present (Spark's
                    # uncaught-exception handler exits the JVM, so the
                    # py4j tail alone just says "connection refused")
                    oom = [
                        ln.strip() for ln in err.splitlines()
                        if any(m in ln for m in ("OutOfMemory", "Java heap space", "GC overhead"))
                    ][:4]
                    tail = err.strip().splitlines()[-6:]
                    arms[backend] = {
                        "backend": backend, "ok": False, "rc": r.returncode,
                        "sec": round(time.perf_counter() - t0, 3),
                        "oom_evidence": oom,
                        "error_tail": tail,
                    }
            except subprocess.TimeoutExpired:
                arms[backend] = {
                    "backend": backend, "ok": False, "rc": "timeout",
                    "sec": timeout_s,
                    "error_tail": [f"no completion within {timeout_s}s (GC-thrash degradation)"],
                }
        artifact = {
            "name": "state_store_pressure",
            "protocol": "one child JVM per arm, heap pinned via SPARK_GRAFT_DRIVER_MEM, "
                        "16 WAL files fed one per micro-batch (maxFilesPerTrigger=1) so "
                        "only accumulated state — not per-batch working set — presses the "
                        "heap; survive-vs-degrade comparison (separate JVMs required, so "
                        "not interleaved — the interleaved overhead case is ab_state_store)",
            "events": events, "distinct_convs": events, "heap": heap, "cpus": cpus,
            "timeout_s": timeout_s, "watermark_delay": "36500 days",
            "files_per_trigger": 1, "wal_files": 16,
            "arms": arms,
            "note": "every event is its own conv_id, so the watermarked in-stream dedup "
                    "accumulates `events` state entries across 16 micro-batches of "
                    "events/16 rows each. The crossover: the heap-backed provider must "
                    "fail or degrade past timeout while RocksDB completes and both-arm "
                    "row counts (when both finish) agree.",
        }
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, "ab_state_store_pressure.json")
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps({k: v for k, v in artifact.items() if k != "arms"}))
        print(json.dumps(arms))
        print(f"wrote {os.path.normpath(path)}")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def ab_stream_dedup(spark, events: int, reps: int) -> None:
    """Informational: the cost of the in-stream watermarked dedup
    stage inside the criterion pipeline. The LSN-fenced MERGE already
    makes replays idempotent, so on a WAL whose duplicates are sparse
    the stage is mostly insurance against duplicate-heavy feeds (it
    keeps duplicate payloads out of the merge shuffle). Both arms
    converge to the identical table (asserted in-run); the artifact
    prices the insurance — the bench headline and the scaling
    protocol KEEP the stage, as the north rule's job description
    includes it."""
    from odibel_spark.cdc import PipelineConfig, TranscriptCdcPipeline, WalConfig, write_wal_files

    base = tempfile.mkdtemp(prefix="ab-sdedup-")
    cpus = spark.sparkContext.defaultParallelism
    wal = write_wal_files(
        spark, WalConfig(n_events=events, n_convs=max(events // 50, 100), seed=42),
        os.path.join(base, "wal"), n_files=max(8, cpus // 2),
    )
    seq = [0]
    counts = {}

    def run(dedup: bool) -> None:
        seq[0] += 1
        root = os.path.join(base, f"t{seq[0]}")
        p = TranscriptCdcPipeline(
            spark,
            PipelineConfig(
                wal_dirs=[wal], table_root=os.path.join(root, "tbl"),
                checkpoint_dir=os.path.join(root, "ckpt"), buckets=cpus,
                merge_mode="mor", max_files_per_trigger=None, dedup_in_stream=dedup,
            ),
        )
        p.run_available()
        counts[dedup] = p.table().read().count()
        shutil.rmtree(root, ignore_errors=True)

    try:
        run_ab(
            "stream_dedup", spark,
            {"with_stream_dedup": lambda: run(True), "merge_fence_only": lambda: run(False)},
            reps,
            {"events": events,
             "note": "MoR pipeline, identical WAL, one-batch trigger; both arms converge "
                     "to the identical table (the LSN-fenced MERGE dedups regardless) — "
                     "the delta is the watermarked dropDuplicatesWithinWatermark stage's "
                     "state + shuffle cost on a sparse-duplicate feed. Informational: the "
                     "criterion job keeps the stage (duplicate-heavy feeds need it)."},
        )
        assert len(set(counts.values())) == 1, f"arms diverged: {counts}"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def ab_cluster_layout(spark, rows_n: int, reps: int) -> None:
    """Write-time clustering's read-side payoff: the same shuffled
    rows committed to two unbucketed LakeTables with the SAME file
    count — random layout vs cluster_by range layout — then an
    interleaved 1%-range read (where_ranges on the manifest bounds) of
    each. The deterministic metric is files planned (random layout:
    every file straddles the range, nothing skippable; clustered:
    O(range/file-width) files); wall clock rides along. Write cost is
    recorded separately: the clustered commit pays a range-partition
    sampling job + sort once, amortized over every range read."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from odibel_spark.lake.table import LakeTable

    base = tempfile.mkdtemp(prefix="ab-cluster-")
    cpus = spark.sparkContext.defaultParallelism
    n_files = cpus * 2
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType(), True)]
    )
    # deterministic shuffled keys; payload = 4x sha2 hex (incompressible
    # enough that file size tracks row count)
    pay = F.concat(*[F.sha2(F.concat(F.col("k").cast("string"), F.lit(s)), 256) for s in "abcd"])
    src = os.path.join(base, "src")
    (
        spark.range(rows_n)
        .select(F.xxhash64("id").alias("_ord"), F.col("id").alias("k"))
        .orderBy("_ord")
        .drop("_ord")
        .withColumn("v", pay)
        .repartition(n_files)
        .write.parquet(src)
    )
    # both write arms read the SAME materialized input (and a warmup
    # count pages it in) so neither pays the synthesis cold
    df = spark.read.parquet(src)
    df.count()
    t_write = {}
    t0 = time.perf_counter()
    plain = LakeTable.create(
        spark, os.path.join(base, "plain"), schema, properties={"stats_columns": ["k"]}
    )
    # round-robin to the same file count: both arms pay one write
    # shuffle, so the write-cost delta isolates range sampling + sort
    plain.append(df.repartition(n_files))
    t_write["random_layout"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    clustered = LakeTable.create(
        spark, os.path.join(base, "clustered"), schema, properties={"stats_columns": ["k"]}
    )
    clustered.append(df, cluster_by=("k",), cluster_files=n_files)
    t_write["clustered_layout"] = round(time.perf_counter() - t0, 3)

    lo = rows_n // 2
    hi = lo + rows_n // 100
    q = {"k": (lo, hi)}
    planned = {
        "random_layout": {
            "planned": len(plain.read(where_ranges=q).inputFiles()),
            "total": len(plain.read().inputFiles()),
        },
        "clustered_layout": {
            "planned": len(clustered.read(where_ranges=q).inputFiles()),
            "total": len(clustered.read().inputFiles()),
        },
    }
    try:
        run_ab(
            "cluster_layout", spark,
            {
                "random_layout": lambda: materialize(plain.read(where_ranges=q)),
                "clustered_layout": lambda: materialize(clustered.read(where_ranges=q)),
            },
            reps,
            {"rows": rows_n, "files_per_table": n_files,
             "range_width_pct": 1.0,
             "files_planned": planned,
             "write_wall_s": t_write,
             "note": "files_planned is the noise-free metric: identical file counts, "
                     "identical data, only the row->file assignment differs; the wall "
                     "cells measure the same range read over both layouts in one JVM"},
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def ab_compact_cluster(spark, rows_n: int, reps: int) -> None:
    """Compaction-as-OPTIMIZE's read-side payoff on a BUCKETED MoR
    table (where files must stay one-bucket, so manifest-level file
    skipping can't narrow a hot-conv + LSN-slice probe — the win has
    to come from parquet ROW-GROUP stats). Same data compacted twice:
    plain fold vs fold + cluster_by=("_lsn",). An unclustered rewrite
    sorts on the int _bucket alone, so the fold_only arm is NOT
    conv-sorted, while cluster_by=("_lsn",) sorts each bucket file on
    (conv_id, _lsn): the delta measures the whole (conv_id, _lsn)
    cluster layout, not the _lsn clustering alone. The
    deterministic metric is row groups whose footer stats overlap
    `conv_id = <hot> AND _lsn BETWEEN lo,hi` — exactly what Spark's
    pushed-down filter prunes at scan time; wall cells measure the
    same filtered scan over both layouts interleaved in one JVM."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from odibel_spark.lake import BucketSpec, cdc_table_schema, compact_buckets, create_cdc_table

    base = tempfile.mkdtemp(prefix="ab-compact-cluster-")
    try:
        n_convs, n_buckets = 32, 8
        fields = [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType(), True),
        ]
        schema = cdc_table_schema(fields)
        # one row per (conv, turn); _lsn = (turn_idx * 1000003) % per_conv
        # is a permutation of each conv's turn range (1000003 is prime, so
        # coprime to any per_conv) — WITHOUT the cluster sort a conv run's
        # row groups each span ~the full LSN range (nothing prunable)
        # while the data itself is identical across arms
        per_conv = rows_n // n_convs
        pay = F.sha2(F.concat(F.col("conv_id"), F.col("turn_idx").cast("string")), 256)
        src = (
            spark.range(rows_n)
            .select(
                F.concat(F.lit("c"), (F.col("id") % n_convs).cast("string")).alias("conv_id"),
                (F.col("id") / n_convs).cast("int").alias("turn_idx"),
            )
            .withColumn("text", pay)
            .withColumn(
                "_lsn",
                ((F.col("turn_idx").cast("long") * 1_000_003) % F.lit(per_conv)).cast("long"),
            )
            .withColumn("_deleted", F.lit(False))
        )
        # small row groups so each bucket file holds MANY of them — the
        # unit the pushed-down filter prunes; declared in the artifact
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        old_block = hconf.get("parquet.block.size")
        hconf.set("parquet.block.size", str(1 << 20))
        tables = {}
        t_compact = {}
        try:
            for arm, cluster in (("fold_only", ()), ("fold_clustered", ("_lsn",))):
                t = create_cdc_table(
                    spark, os.path.join(base, arm), fields,
                    BucketSpec("conv_id", n_buckets),
                    key_cols=["conv_id", "turn_idx"], merge_mode="mor",
                    stats_columns=["conv_id", "_lsn"],
                )
                t.append(src.select(*schema.fieldNames()))
                t0 = time.perf_counter()
                compact_buckets(t, cluster_by=cluster)
                t_compact[arm] = round(time.perf_counter() - t0, 3)
                tables[arm] = t
        finally:
            hconf.set("parquet.block.size", old_block) if old_block is not None \
                else hconf.unset("parquet.block.size")

        hot = "c7"
        lo, hi = per_conv // 2, per_conv // 2 + per_conv // 50  # 2% LSN slice
        groups = {}
        for arm, t in tables.items():
            total = kept = 0
            for f in (x for x in t.files() if x["rows"]):
                md = pq.ParquetFile(os.path.join(t.root, f["path"])).metadata
                idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
                for rg in range(md.num_row_groups):
                    total += 1
                    sc = md.row_group(rg).column(idx["conv_id"]).statistics
                    sl = md.row_group(rg).column(idx["_lsn"]).statistics
                    if sc.min <= hot <= sc.max and sl.min <= hi and sl.max >= lo:
                        kept += 1
            groups[arm] = {"overlapping_row_groups": kept, "total_row_groups": total}

        pred = (F.col("conv_id") == hot) & F.col("_lsn").between(lo, hi)

        def scan(t):
            return lambda: materialize(
                t.read(fold=False).filter(pred).select("conv_id", "turn_idx", "_lsn")
            )

        run_ab(
            "compact_cluster", spark,
            {arm: scan(t) for arm, t in tables.items()},
            reps,
            {"rows": rows_n, "convs": n_convs, "buckets": n_buckets,
             "parquet_block_size": 1 << 20,
             "probe": f"conv_id = {hot} AND _lsn in a 2% slice",
             "row_groups": groups,
             "compact_wall_s": t_compact,
             "note": "row_groups is the noise-free metric: identical folded data, "
                     "identical file count, only within-file row order differs; the "
                     "fold_only arm is sorted on _bucket alone (not conv-sorted), so the "
                     "delta measures the whole (conv_id, _lsn) cluster layout that "
                     "cluster_by=('_lsn',) writes, not _lsn clustering alone"},
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def ab_point_lookup(spark, events: int, lookups: int) -> None:
    """Key lookups on a merge-on-read table of the benchmark's
    history_reads shape: an un-compacted ingest of 15 WAL segments at 6
    per trigger into 8 buckets, aged by 1,000 metadata commits, then
    ``read(where_ranges={"conv_id": (c, c)}).collect()`` for Zipf-drawn
    conversations. Three arms of ``LakeTable.read``:

    - ``unpruned``: the read before bucket pruning — every bucket's
      files planned, two-stage fold (the driver-side bucket hash
      patched to prune nothing and the one-split rule to never fire);
    - ``pruning_only``: bucket-transform pruning, fold still shuffled;
    - ``pruning_no_shuffle``: the shipped read — one bucket, and the
      fold runs on one partition with no exchange.

    A lookup's latency is its DataFrame build plus ``collect``. Arms
    interleave per key in rotated order; every lookup is checked
    against the ``current_state`` oracle's rows. The p50 is the
    headline (a point read's cost is its typical call, not its best).
    ``build_breakdown`` splits the build: the head manifest read, an
    unfolded read (scan planning) and the folded read (+ fold
    analysis), on the pruned path and on every-bucket scans."""
    import random
    import statistics

    from pyspark.sql import functions as F

    import odibel_spark.lake.table as lake_table
    from odibel_spark.cdc import (
        PipelineConfig, TranscriptCdcPipeline, WalConfig, current_state, write_wal_files,
    )
    from odibel_spark.cdc.evolution import discover_wal_schema

    # the benchmark session's shuffle width (one partition per core)
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "meta", "_lsn"]
    base = tempfile.mkdtemp(prefix="ab-point-lookup-")
    real_bucket_of, real_split = lake_table._bucket_of, lake_table.LakeTable._max_split_bytes
    arms = {
        "unpruned": (lambda *_a: None, lambda _self: -1),
        "pruning_only": (real_bucket_of, lambda _self: -1),
        "pruning_no_shuffle": (real_bucket_of, real_split),
    }

    def use(arm: str) -> None:
        lake_table._bucket_of, lake_table.LakeTable._max_split_bytes = arms[arm]

    try:
        cfg = WalConfig(n_events=events, n_convs=events // 50, seed=1)
        wal = write_wal_files(spark, cfg, os.path.join(base, "wal"), n_files=15)
        p = TranscriptCdcPipeline(
            spark,
            PipelineConfig(
                wal_dirs=[wal], table_root=os.path.join(base, "t"),
                checkpoint_dir=os.path.join(base, "ckpt"), buckets=8, merge_mode="mor",
                max_files_per_trigger=6, compact_every_epochs=None,
            ),
        )
        p.run_available()
        t = p.table()
        epoch = t.watermark("wal")
        for _ in range(1000):
            epoch += 1
            t.commit_metadata({"stream_id": "wal", "epoch": epoch, "op": "merge"}, {"wal": epoch})

        rng = random.Random(1)
        keys = [f"conv-{int(cfg.n_convs * rng.random() ** cfg.skew)}" for _ in range(lookups)]
        ev = spark.read.schema(discover_wal_schema(spark, [wal])).option(
            "recursiveFileLookup", "true").parquet(wal)
        oracle = current_state(ev).join(
            ev.select("lsn", "meta").dropDuplicates(["lsn"]), F.col("_lsn") == F.col("lsn"), "left"
        ).drop("lsn")
        want: dict = {k: [] for k in keys}
        for r in oracle.filter(F.col("conv_id").isin(sorted(want))).collect():
            want[r["conv_id"]].append(tuple(r[c] for c in cols))

        def lookup(arm: str, key: str) -> dict:
            use(arm)
            t0 = time.perf_counter()
            df = t.read(where_ranges={"conv_id": (key, key)})
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            got = sorted((tuple(r[c] for c in cols) for r in rows), key=repr)
            if got != sorted(want[key], key=repr):
                raise AssertionError(f"{arm} lookup {key}: {len(got)} rows != oracle {len(want[key])}")
            return {"arm": arm, "build_ms": round((t1 - t0) * 1e3, 2),
                    "collect_ms": round((t2 - t1) * 1e3, 2), "ms": round((t2 - t0) * 1e3, 2),
                    "files": len(df.inputFiles())}

        labels = list(arms)
        for arm in labels:  # warmup: codegen and JIT paid outside the cells
            for key in keys[:4]:
                lookup(arm, key)
        cells = []
        for i, key in enumerate(keys):
            for arm in labels[i % 3:] + labels[: i % 3]:
                cells.append(lookup(arm, key))

        def p50(arm: str, field: str) -> float:
            return round(statistics.median(c[field] for c in cells if c["arm"] == arm), 1)

        def build_ms(make) -> float:
            samples = []
            for key in keys[:24]:
                t0 = time.perf_counter()
                make(key)
                samples.append((time.perf_counter() - t0) * 1e3)
            return round(statistics.median(samples), 1)

        use("pruning_no_shuffle")
        q = lambda k: {"conv_id": (k, k)}  # noqa: E731
        breakdown = {"manifest_ms": build_ms(lambda _k: t.manifest())}
        for arm in ("unpruned", "pruning_no_shuffle"):
            use(arm)
            breakdown[arm] = {
                "read_unfolded_ms": build_ms(lambda k: t.read(where_ranges=q(k), fold=False)),
                "read_folded_ms": build_ms(lambda k: t.read(where_ranges=q(k))),
            }
        use("pruning_no_shuffle")

        from bench import cpu_reference_miters_fixedwork

        summary = {
            arm: {
                "p50_ms": p50(arm, "ms"),
                "p50_build_ms": p50(arm, "build_ms"),
                "p50_collect_ms": p50(arm, "collect_ms"),
                "mean_files": round(statistics.mean(c["files"] for c in cells if c["arm"] == arm), 2),
            }
            for arm in labels
        }
        artifact = {
            "name": "point_lookup",
            "protocol": f"interleaved same-JVM, 4 warmup lookups/arm, {lookups} lookups/arm "
                        "in rotated arm order, every lookup oracle-checked",
            "arms": labels,
            "p50": summary,
            "p50_speedup_vs_unpruned": {
                arm: round(summary["unpruned"]["p50_ms"] / summary[arm]["p50_ms"], 3) for arm in labels[1:]
            },
            "build_breakdown_p50_ms": breakdown,
            # every lookup's build + collect ms, in run order per arm
            "ms_samples": {arm: [c["ms"] for c in cells if c["arm"] == arm] for arm in labels},
            "table": {"events": events, "segments": 15, "files_per_trigger": 6, "buckets": 8,
                      "aging_commits": 1000, "files": len(t.files()),
                      "cpus": spark.sparkContext.defaultParallelism},
            "cpu_ref_miters_fixedwork": round(cpu_reference_miters_fixedwork(), 1),
        }
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, "ab_point_lookup.json")
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps({k: v for k, v in artifact.items() if k != "ms_samples"}))
        print(f"wrote {os.path.normpath(path)}")
    finally:
        use("pruning_no_shuffle")
        shutil.rmtree(base, ignore_errors=True)


def ab_epoch_driver(events: int, reps: int, cpus: int) -> None:
    """Per-epoch driver cost of the streaming sink, with and without the
    schema-keyed expression builders' caches. Cadence replays of the
    benchmark's shape (a seeded WAL of 15 segments, one per trigger,
    merge-on-read into 8 buckets, compaction every 8 epochs), two arms
    in rotated order after one unrecorded warm-up replay each:

    - ``rebuild_each_epoch``: every cached builder swapped for its
      uncached ``__wrapped__``, so each epoch rebuilds its Column trees;
    - ``shipped``: the builders as the engine ships them.

    Per epoch: the sink's wall seconds, the py4j round trips made on the
    thread running ``_apply_batch``, and the seconds of the Spark jobs
    submitted inside the sink call (from an uncompressed event log in
    the mode's temp dir; the UI is off). ``driver_s`` is the sink time
    outside those jobs. Every replay's table is checked against the
    ``current_state`` oracle. The headline is the per-arm median over
    steady epochs: data epochs past the first, not compacting, with at
    least 100 events. The summary is the last line on stdout."""
    import glob
    import statistics
    import threading

    from pyspark.sql import functions as F

    import odibel_spark.cdc.pipeline as cdc_pipeline
    import odibel_spark.lake.merge as lake_merge
    import odibel_spark.lake.table as lake_table
    from odibel_spark import get_spark
    from odibel_spark.cdc import (
        PipelineConfig, TranscriptCdcPipeline, WalConfig, current_state, write_wal_files,
    )
    from odibel_spark.cdc.evolution import discover_wal_schema

    builders = {
        (mod, name): getattr(mod, name)
        for mod, name in (
            (lake_table, "_bucket_expr"), (lake_table, "_tombstone_exprs"), (lake_table, "_lww_exprs"),
            (lake_merge, "_delta_exprs"),
            (cdc_pipeline, "_batch_exprs"),
        )
    }

    def use(arm: str) -> None:
        for (mod, name), fn in builders.items():
            setattr(mod, name, fn.__wrapped__ if arm == "rebuild_each_epoch" else fn)

    base = tempfile.mkdtemp(prefix="ab-epoch-driver-")
    log_dir = os.path.join(base, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark("ab-epoch-driver", cpus=cpus, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
    })
    client = type(spark.sparkContext._gateway._gateway_client)
    send, apply_batch = client.send_command, TranscriptCdcPipeline._apply_batch
    sink: dict = {}  # thread id -> the epoch's cell while it runs there
    cells: list[dict] = []
    run = {"arm": None, "rep": None}

    def counting_send(self, *args, **kwargs):
        cell = sink.get(threading.get_ident())
        if cell is not None:
            cell["round_trips"] += 1
        return send(self, *args, **kwargs)

    def timed_apply(self, batch_df, epoch_id):
        cell = {**run, "epoch": epoch_id, "round_trips": 0, "t0_ms": time.time() * 1e3}
        sink[threading.get_ident()] = cell
        t0 = time.perf_counter()
        try:
            return apply_batch(self, batch_df, epoch_id)
        finally:
            cell["sink_s"] = time.perf_counter() - t0
            cell["t1_ms"] = time.time() * 1e3
            del sink[threading.get_ident()]
            if run["rep"] is not None:
                cells.append(cell)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "meta", "_lsn"]

    def checksum(df) -> tuple:
        return tuple(df.select(*cols).agg(
            F.count("*"), F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31)))).collect()[0])

    arms = ["rebuild_each_epoch", "shipped"]
    replays: list[dict] = []
    try:
        cfg = WalConfig(n_events=events, n_convs=events // 50, seed=1)
        wal = write_wal_files(spark, cfg, os.path.join(base, "wal"), n_files=15)
        ev = spark.read.schema(discover_wal_schema(spark, [wal])).option(
            "recursiveFileLookup", "true").parquet(wal)
        want = checksum(current_state(ev).join(
            ev.select("lsn", "meta").dropDuplicates(["lsn"]), F.col("_lsn") == F.col("lsn"), "left"
        ).drop("lsn"))
        client.send_command = counting_send
        TranscriptCdcPipeline._apply_batch = timed_apply
        order = [(None, arm) for arm in arms]  # warm-up
        order += [(rep, arm) for rep in range(reps) for arm in (arms if rep % 2 == 0 else arms[::-1])]
        for i, (rep, arm) in enumerate(order):
            use(arm)
            run.update(arm=arm, rep=rep)
            p = TranscriptCdcPipeline(spark, PipelineConfig(
                wal_dirs=[wal], table_root=os.path.join(base, f"t{i}"),
                checkpoint_dir=os.path.join(base, f"ckpt{i}"), buckets=8, merge_mode="mor",
                max_files_per_trigger=1, compact_every_epochs=8,
            ))
            t0 = time.perf_counter()
            p.run_available()
            wall = time.perf_counter() - t0
            use("shipped")
            if checksum(p.table().read()) != want:
                raise AssertionError(f"{arm} replay {i}: table differs from the oracle")
            n_events = {r.epoch: r.n_events for r in p.metrics().collect()}
            for c in cells:
                if c["arm"] == arm and c["rep"] == rep:
                    c["n_events"] = n_events.get(c["epoch"], 0)
            if rep is not None:
                replays.append({"arm": arm, "rep": rep, "wall_s": round(wall, 3)})
    finally:
        client.send_command, TranscriptCdcPipeline._apply_batch = send, apply_batch
        use("shipped")
        spark.stop()
    try:
        # job start/end times from the event log, flushed by stop()
        starts, ends = {}, {}
        for path in glob.glob(os.path.join(log_dir, "*")):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    if e["Event"] == "SparkListenerJobStart":
                        starts[e["Job ID"]] = e["Submission Time"]
                    elif e["Event"] == "SparkListenerJobEnd":
                        ends[e["Job ID"]] = e["Completion Time"]
        jobs = [(starts[j], ends[j]) for j in starts if j in ends]
    finally:
        shutil.rmtree(base, ignore_errors=True)

    for c in cells:
        inside = [(s, e) for s, e in jobs if c["t0_ms"] <= s <= c["t1_ms"]]
        c["jobs"] = len(inside)
        c["job_s"] = round(sum(e - s for s, e in inside) / 1e3, 3)
        c["sink_s"] = round(c["sink_s"], 3)
        c["driver_s"] = round(c["sink_s"] - c["job_s"], 3)
        c["kind"] = (
            "empty" if not c["n_events"] else "compaction" if c["epoch"] and c["epoch"] % 8 == 0
            else "first" if c["epoch"] == 0 else "sliver" if c["n_events"] < 100 else "steady"
        )
        del c["t0_ms"], c["t1_ms"]

    def median(arm: str, kind: str, field: str) -> float:
        xs = [c[field] for c in cells if c["arm"] == arm and c["kind"] == kind]
        return round(statistics.median(xs), 3) if xs else None

    fields = ("sink_s", "driver_s", "job_s", "round_trips", "jobs")
    from bench import cpu_reference_miters_fixedwork

    artifact = {
        "name": "epoch_driver",
        "protocol": f"interleaved same-JVM cadence replays, 1 warm-up/arm, {reps} replays/arm "
                    "in rotated order, every replay oracle-checked",
        "arms": arms,
        "median_steady": {arm: {f: median(arm, "steady", f) for f in fields} for arm in arms},
        "median_by_kind": {
            arm: {k: {f: median(arm, k, f) for f in fields}
                  for k in ("first", "steady", "sliver", "compaction", "empty")}
            for arm in arms
        },
        "replays": replays,
        "wal": {"events": events, "segments": 15, "files_per_trigger": 1, "buckets": 8,
                "merge_mode": "mor", "compact_every_epochs": 8, "seed": 1, "cpus": cpus},
        "cpu_ref_miters_fixedwork": round(cpu_reference_miters_fixedwork(), 1),
        "cells": cells,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, "ab_epoch_driver.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {os.path.normpath(path)}", file=sys.stderr)
    print(json.dumps({k: v for k, v in artifact.items() if k != "cells"}), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("which", choices=["trigger_posture", "lsh_mass_dup", "lsh_clean_corpus", "stream_dedup", "state_store", "state_store_pressure", "cluster_layout", "compact_cluster", "point_lookup", "epoch_driver"])
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--copies", type=int, default=20_000,
                    help="lsh_mass_dup: total documents (50 distinct contents)")
    ap.add_argument("--docs", type=int, default=20_000,
                    help="lsh_clean_corpus: all-distinct document count")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--heap", default="1g",
                    help="state_store_pressure: child-JVM heap (SPARK_GRAFT_DRIVER_MEM)")
    ap.add_argument("--timeout", type=int, default=900,
                    help="state_store_pressure: per-arm wall-clock cap in seconds")
    ap.add_argument("--pressure-child", nargs=3, metavar=("BACKEND", "WAL", "ROOT"),
                    help="internal: run one state_store_pressure arm in this process")
    args = ap.parse_args()

    if args.pressure_child:
        _pressure_child(args.pressure_child[0], args.pressure_child[1],
                        args.pressure_child[2], args.cpus)
        return 0
    if args.which == "state_store_pressure":
        ab_state_store_pressure(args.events, args.heap, args.cpus, args.timeout)
        return 0
    if args.which == "epoch_driver":  # its own session: the event log is a start-up conf
        ab_epoch_driver(args.events, args.reps, args.cpus)
        return 0

    from odibel_spark import get_spark

    spark = get_spark("ab-bench", cpus=args.cpus, shuffle_partitions=args.cpus * 2)
    if args.which == "trigger_posture":
        ab_trigger_posture(spark, args.events, args.reps)
    elif args.which == "lsh_clean_corpus":
        ab_lsh_clean_corpus(spark, args.docs, args.reps)
    elif args.which == "stream_dedup":
        ab_stream_dedup(spark, args.events, args.reps)
    elif args.which == "state_store":
        ab_state_store(spark, args.events, args.reps)
    elif args.which == "cluster_layout":
        ab_cluster_layout(spark, args.events, args.reps)
    elif args.which == "compact_cluster":
        ab_compact_cluster(spark, args.events, args.reps)
    elif args.which == "point_lookup":
        ab_point_lookup(spark, args.events, args.reps)
    else:
        ab_lsh_mass_dup(spark, args.copies, args.reps)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
