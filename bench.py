"""Benchmark harness — prints ONE compact JSON headline line.

Headline metric: sustained change-events/sec of the CDC replay path
(the BASELINE.json north rule), measured two ways:
- ``batch``   : pure last-writer-wins fold (compute-bound ceiling)
- ``pipeline``: full streaming engine — WAL tail → watermarked dedup →
                epoch-fenced MERGE into the lake format (the real
                end-to-end number)

plus per-query wall times for the analytics headliners at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

The full record goes to ``bench_result.json`` next to this file; the
line printed last is the compact (< 2 KB) headline naming it.

Scaling-efficiency evidence (N vs 4N cores) is produced by
``tools/scaling_bench.py`` and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
#: full result record (git-ignored); stdout carries only the headline
RESULT_PATH = os.path.join(HERE, "bench_result.json")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "1000000"))
#: best-of reps for the headline MoR pipeline run (noise rejection on
#: the shared host; every rep's wall time is recorded in the output)
HEADLINE_REPS = max(1, int(os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "3")))

#: Per-query normalization basis: normalized seconds are reported as
#: "wall seconds this query would take on a host running the fixedwork
#: kernel at NORM_BASIS_MITERS M iterations/s" — an arbitrary but FIXED
#: reference speed (roughly this host's median across rounds 2-4), so
#: normalized values are comparable across rounds regardless of which
#: speed window each round's run landed in. r4 proved the need: the
#: within-run kernel swung 11.8 → 21.7 Miters/s and 1.3-2× per-query
#: "drifts" appeared on unchanged code.
NORM_BASIS_MITERS = 15.0
#: seconds per fixedwork bracket sample (one IMMEDIATELY before and one
#: IMMEDIATELY after every timed query — ~18 s total overhead on a
#: ~100 s bench; chaining post to the next query's pre sample was
#: cheaper but let untimed work between queries, e.g. the 1M-event WAL
#: generation, shift a query's window to host speed it never ran under)
BRACKET_SECONDS = 0.4

ANALYTICS = [
    "cdc_last_writer_wins",
    "cdc_temporal_windows",
    "cdc_change_flux",
    "agg_value_stats",
    "tpch_q1",
    "star_join_topk",
    "text_profile",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "cdc_incremental_dedup",
    "text_decontamination",
    "text_packing",
    "corpus_prepare",
    "dedup_embedding_lsh",
    "sim_topk",
    "as_of_lookup",
    "cdc_interval_marks",
    "schema_graph_rollup",
    "sample_suite",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cpu_reference_miters_fixedwork(target_seconds: float = 1.0, chunk: int = 2_000_000) -> float:
    """Fixed-work host-speed reference: times pure integer-arithmetic
    chunks with ``perf_counter`` checked once per *chunk* (not per
    iteration), so the number tracks interpreter/CPU speed rather than
    clock-call overhead."""
    import time as _t

    total = 0
    t0 = _t.perf_counter()
    while True:
        i = 0
        x = 0
        while i < chunk:  # no clock calls inside the timed kernel
            x += i
            i += 1
        total += chunk
        if _t.perf_counter() - t0 >= target_seconds:
            break
    return total / 1e6 / (_t.perf_counter() - t0)


def cpu_reference_miters_multicore(n_procs: int, per_proc_seconds: float = 1.0) -> float:
    """Aggregate fixed-work Miters/s across ``n_procs`` concurrent
    processes — the host's MULTI-core capacity at sample time. The
    single-core kernel misses the dominant noise mode on this shared
    host (neighbor steal of the other vCPUs: a run can show fast
    single-core burns while a 32-thread Spark stage runs 3× slow), so
    the MoR headline is additionally normalized by this, sampled right
    after the headline reps in the same window."""
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(n_procs) as pool:
        rates = pool.map(
            cpu_reference_miters_fixedwork, [per_proc_seconds] * n_procs
        )
    return sum(rates)


def main() -> None:
    import __spark_entry__ as E
    from odibel_spark import get_spark
    from odibel_spark.cdc import (
        PipelineConfig,
        TranscriptCdcPipeline,
        WalConfig,
        current_state,
        split_dead_letters,
        write_wal_files,
    )

    spark = get_spark("odibel-bench", cpus=CPUS, shuffle_partitions=CPUS * 2)
    # warmup: pay session/JIT/codegen startup outside the measured loop
    materialize(spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).groupBy("event_type").count())
    t_all = time.time()
    queries: dict[str, float] = {}

    # Per-query host normalization (r4 VERDICT item #1): every timed
    # query is BRACKETED by its own pre and post fixedwork kernel
    # samples, taken immediately around the query so no untimed work
    # (WAL generation, reference kernels, rmtree) can land inside the
    # window; their mean converts the raw wall time into
    # seconds-at-NORM_BASIS_MITERS. Raw times stay in "queries" (the
    # driver contract); normalized times + the brackets go in
    # "queries_norm_sec" / "queries_bracket_miters". The kernel is
    # single-core, so it tracks interpreter/CPU-frequency swings but
    # NOT multi-core neighbor steal — normalized values still carry
    # that residual noise mode (the MoR headline keeps its separate
    # multi-core normalizer for exactly that reason).
    bracket_pre: dict[str, float] = {}
    bracket_post: dict[str, float] = {}

    def run_timed(name: str, fn) -> float:
        bracket_pre[name] = cpu_reference_miters_fixedwork(BRACKET_SECONDS)
        t0 = time.time()
        fn()
        sec = round(time.time() - t0, 3)
        bracket_post[name] = cpu_reference_miters_fixedwork(BRACKET_SECONDS)
        queries[name] = sec
        return sec

    # ---- analytics headliners at SF_DIR ------------------------------
    miters_fw_pre = cpu_reference_miters_fixedwork()
    qs = E.queries()
    for name in ANALYTICS:
        run_timed(name, lambda n=name: materialize(qs[n](spark, SF_DIR)))
    miters_fw_mid = cpu_reference_miters_fixedwork()

    # ---- CDC replay throughput ---------------------------------------
    base = tempfile.mkdtemp(prefix="odibel-bench-")
    try:
        cfg = WalConfig(n_events=N_EVENTS, n_convs=max(N_EVENTS // 50, 100), seed=42)
        n_files = max(8, CPUS // 2)
        wal = write_wal_files(spark, cfg, os.path.join(base, "wal"), n_files=n_files)

        def _replay_batch() -> None:
            ev = spark.read.option("mergeSchema", "true").option("recursiveFileLookup", "true").parquet(wal)
            ok, _dead = split_dead_letters(ev.drop("wal_chunk"))
            materialize(current_state(ok))

        batch_s = run_timed("cdc_replay_batch", _replay_batch)

        # One big micro-batch (no trigger limit): for a fixed replay
        # the per-epoch fixed costs (stream planning, state-store init,
        # manifest IO) are pure overhead, so the tuned trigger size IS
        # the whole backlog. maxFilesPerTrigger=n_files was an off-by-
        # one here: the WAL generator's schema-evolution segment adds a
        # 17th physical file, spilling one chunk into a second data
        # epoch (~2s of pure epoch overhead on this box). Per-epoch
        # cadence behaviour is measured by tools/scaling_bench.py.
        def _cow_pipeline() -> None:
            p = TranscriptCdcPipeline(
                spark,
                PipelineConfig(
                    wal_dirs=[wal],
                    table_root=os.path.join(base, "transcripts"),
                    checkpoint_dir=os.path.join(base, "ckpt"),
                    buckets=CPUS,
                    max_files_per_trigger=None,
                ),
            )
            p.run_available()

        pipe_s = run_timed("cdc_merge_pipeline", _cow_pipeline)

        # merge-on-read posture: O(batch) delta commits (+ compaction).
        # The MoR run is the HEADLINE, and the shared host swings
        # several-fold between minutes (BENCH/BASELINE.md variance
        # appendix; BENCH/ab_lsh_mass_dup.json cells show the identical
        # arm varying 4-8x across interleaved reps) — so the headline
        # is best-of-HEADLINE_REPS identical runs, each on a fresh
        # table/checkpoint over the same WAL, with every rep recorded
        # in the output for auditability. min is the noise-robust
        # statistic on a contended host (noise only ever adds time).
        mor_reps: list[float] = []

        def _mor_rep(rep: int) -> None:
            pm = TranscriptCdcPipeline(
                spark,
                PipelineConfig(
                    wal_dirs=[wal],
                    table_root=os.path.join(base, f"transcripts_mor_{rep}"),
                    checkpoint_dir=os.path.join(base, f"ckpt_mor_{rep}"),
                    buckets=CPUS,
                    merge_mode="mor",
                    max_files_per_trigger=None,
                ),
            )
            pm.run_available()

        # the MoR group is bracketed as ONE timed entry (best-of reps
        # is the recorded value; the group's brackets straddle all reps,
        # with the post sample taken BEFORE the multicore burn below)
        bracket_pre["cdc_merge_pipeline_mor"] = cpu_reference_miters_fixedwork(BRACKET_SECONDS)
        for rep in range(HEADLINE_REPS):
            t0 = time.time()
            _mor_rep(rep)
            mor_reps.append(round(time.time() - t0, 3))
        bracket_post["cdc_merge_pipeline_mor"] = cpu_reference_miters_fixedwork(BRACKET_SECONDS)
        pipe_mor_s = min(mor_reps)
        queries["cdc_merge_pipeline_mor"] = pipe_mor_s
        # multi-core capacity in the SAME window as the headline reps
        miters_mc = cpu_reference_miters_multicore(CPUS)
    finally:
        shutil.rmtree(base, ignore_errors=True)

    total = round(time.time() - t_all, 3)
    miters_fw = cpu_reference_miters_fixedwork()
    queries_norm: dict[str, float] = {}
    brackets_out: dict[str, list[float]] = {}
    for name, sec in queries.items():
        pre, post = bracket_pre[name], bracket_post[name]
        window = (pre + post) / 2.0
        brackets_out[name] = [round(pre, 1), round(post, 1)]
        queries_norm[name] = round(sec * window / NORM_BASIS_MITERS, 3)
    out = {
        # headline = the BASELINE.json north metric: sustained
        # change-events/sec through the full exactly-once streaming
        # pipeline (write-optimized MoR commits)
        "metric": "cdc_pipeline_events_per_sec_mor",
        "value": round(N_EVENTS / pipe_mor_s, 1),
        "unit": "events/sec",
        "bench_total_wall_sec": total,
        "queries": queries,
        # host-normalized per-query times: raw wall sec × (mean of the
        # straddling fixedwork brackets) / NORM_BASIS_MITERS — i.e.
        # "seconds this query would take at 15 Miters/s". THE cross-
        # round per-query comparator since r5; raw "queries" values are
        # only comparable when both rounds' brackets happen to agree.
        # Caveat: the kernel is single-core, so multi-core neighbor
        # steal (the headline's noise mode) is NOT corrected here.
        "queries_norm_sec": queries_norm,
        "queries_bracket_miters": brackets_out,
        "norm_basis_miters": NORM_BASIS_MITERS,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cdc_events": N_EVENTS,
        "cdc_batch_events_per_sec": round(N_EVENTS / batch_s, 1),
        "cdc_pipeline_events_per_sec": round(N_EVENTS / pipe_s, 1),
        "cdc_pipeline_mor_events_per_sec": round(N_EVENTS / pipe_mor_s, 1),
        # every headline rep's wall seconds (min is the headline)
        "cdc_pipeline_mor_rep_secs": mor_reps,
        "cpus": CPUS,
        # trigger posture, so the headline's one-batch configuration is
        # self-describing: the whole WAL backlog is replayed in a
        # single data micro-batch (no trigger limit ⇒ 1 data epoch +
        # the trailing watermark-advance epoch). Per-epoch cadence
        # behaviour is tools/scaling_bench.py's job.
        "cdc_wal_files": n_files,
        "cdc_max_files_per_trigger": None,
        "cdc_n_epochs": 1,
        # host speed reference: single-core M iters/s at bench time
        # (perf_counter, clock checked per 2M-iteration chunk). The
        # shared sandbox host swings several-fold between runs (see
        # BENCH/BASELINE.md variance appendix), so cross-round
        # comparisons should use the normalized headlines below.
        "cpu_ref_miters_fixedwork": round(miters_fw, 1),
        "value_per_cpu_miter_fixedwork": round(N_EVENTS / pipe_mor_s / miters_fw, 1),
        # window brackets around the single-shot analytics phase (pre /
        # post-analytics / end-of-run): per-query times are comparable
        # across rounds only when these brackets are
        "cpu_ref_miters_fixedwork_analytics_pre": round(miters_fw_pre, 1),
        "cpu_ref_miters_fixedwork_analytics_post": round(miters_fw_mid, 1),
        # multi-core capacity sampled in the same window as the MoR
        # headline reps — the normalizer matching the resource the
        # 32-thread pipeline actually contends for (single-core burns
        # can read fast while neighbor steal slows a wide stage 3×)
        "cpu_ref_miters_multicore": round(miters_mc, 1),
        "value_per_cpu_miter_multicore": round(N_EVENTS / pipe_mor_s / miters_mc, 1),
    }
    with open(RESULT_PATH, "w") as f:
        json.dump(out, f, indent=1)
    headline = ("metric", "value", "unit", "bench_total_wall_sec",
                "value_per_cpu_miter_fixedwork", "value_per_cpu_miter_multicore")
    print(json.dumps({**{k: out[k] for k in headline}, "full_record": RESULT_PATH}))
    spark.stop()


if __name__ == "__main__":
    main()
