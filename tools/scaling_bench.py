"""Two-cluster-size scaling evidence (BASELINE.json criterion).

No multi-node cluster exists in this sandbox, so per the driver
protocol the criterion is evidenced by running the IDENTICAL CDC job
on IDENTICAL input at two local parallelism levels (N and 4N cores),
each in a fresh JVM/subprocess, reporting throughput at both and

    scaling_efficiency = throughput_4N / (4 * throughput_N)

Measurement protocol (each choice exists to make the single-box
miniature faithful to the multi-executor cluster being modeled):

- **taskset CPU affinity**: a "c-core executor" is emulated by pinning
  the whole JVM (task threads + GC + shuffle + Python workers) to c
  CPUs. Without pinning, local[c] bounds only task threads — the
  N-core run silently borrows extra cores for GC/IO and inflates the
  baseline, understating true scaling.
- **tmpfs storage** (/dev/shm) for WAL, table, checkpoint, and
  spark.local.dir: on a real cluster every executor brings its own
  disks, so aggregate IO bandwidth scales with cluster size; this box
  has ONE shared disk whose fixed bandwidth would serialize both runs
  identically and cap any engine's measured efficiency. RAM-backed
  dirs restore the bandwidth-scales-with-cores property.
- **fresh JVM per run, best of `reps`**: rejects shared-host noise
  (other tenants) and JIT warmup variance.
- **shuffle partitions = cores**: each virtual cluster is configured
  as a real deployment of that size would be; stateful streaming pins
  partition count at first checkpoint, so it must match the run.

Both merge modes are measured: MoR (write-optimized: O(batch) delta
commits, the 10^10-ingest posture) and CoW (read-optimized bucket
rewrite). The headline efficiency is MoR's.

Usage: python tools/scaling_bench.py [n_events] [n_small] [n_big] [reps]
Writes BENCH/BASELINE.md and prints a JSON summary.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_PATH = os.path.join(REPO, "BENCH", "BASELINE.md")
#: BASELINE.md's criterion block is regenerated, but the file also
#: carries hand-written trailing sections (artifact catalog, variance
#: appendix, drift adjudications) that start at this heading
PRESERVE_MARKER = "## Cross-round comparability artifacts"


def preserved_tail(path: str) -> str:
    """The hand-written sections of an existing BASELINE.md, from the
    marker heading on, to re-append after the regenerated block. A
    non-empty file without the marker is refused (non-zero exit)
    rather than overwritten, which would drop its hand-written text."""
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        prev = f.read()
    if PRESERVE_MARKER in prev:
        return "\n" + prev[prev.index(PRESERVE_MARKER):]
    if prev.strip():
        raise SystemExit(
            f"refusing to overwrite {path}: it is non-empty but has no "
            f"{PRESERVE_MARKER!r} heading, so its hand-written sections would "
            "be lost; restore the heading or move the file aside"
        )
    return ""

JOB = r"""
import sys, os, time, json
sys.path.insert(0, {repo!r})
from odibel_spark import get_spark
from odibel_spark.cdc import PipelineConfig, TranscriptCdcPipeline

cpus = int(sys.argv[1]); wal = sys.argv[2]; base = sys.argv[3]; tag = sys.argv[4]; mode = sys.argv[5]
mft = int(sys.argv[6])
spark = get_spark(f"scale-{{cpus}}-{{tag}}", cpus=cpus, shuffle_partitions=cpus * 2,
    extra_conf={{"spark.local.dir": os.path.join(base, f"scratch-{{cpus}}-{{mode}}-{{tag}}")}})
t0 = time.time()
p = TranscriptCdcPipeline(spark, PipelineConfig(
    wal_dirs=[wal],
    table_root=os.path.join(base, f"t{{cpus}}-{{mode}}-{{tag}}"),
    checkpoint_dir=os.path.join(base, f"ckpt{{cpus}}-{{mode}}-{{tag}}"),
    buckets=32,
    merge_mode=mode,
    max_files_per_trigger=mft,
))
p.run_available()
wall = time.time() - t0
n = p.table().read().count()
# The feed replays as multiple micro-batches (WAL segments arrive over
# time in a real tail; maxFilesPerTrigger recreates that cadence).
# Three timings per run:
#   wall    — everything, incl. one-time JVM/stream setup (conservative)
#   data_s  — all data-carrying epochs (excludes setup + the trailing
#             empty watermark-advance batch)
#   steady  — data epochs past the FIRST: the first batch additionally
#             pays one-time JIT/codegen/state-store initialization that
#             a sustained (hours-long) ingest amortizes to zero. This
#             is the north rule's *sustained* upsert throughput.
mets = sorted([r for r in p.metrics().collect() if r.n_events], key=lambda r: r.epoch)
data_s = sum(r.batch_seconds for r in mets)
data_events = sum(r.n_events for r in mets)
steady = mets[1:] if len(mets) > 1 else mets
steady_s = sum(r.batch_seconds for r in steady)
steady_events = sum(r.n_events for r in steady)
print(json.dumps({{"cpus": cpus, "wall_s": wall, "table_rows": n, "mode": mode,
                   "n_epochs": len(mets), "data_s": data_s, "data_events": data_events,
                   "steady_s": steady_s, "steady_events": steady_events,
                   "epoch_secs": [round(r.batch_seconds, 2) for r in mets]}}))
spark.stop()
"""


def run_once(cpus: int, wal: str, base: str, mode: str, rep: int, mft: int) -> dict:
    job = JOB.format(repo=REPO)
    cores = ",".join(str(i) for i in range(cpus))
    r = subprocess.run(
        ["taskset", "-c", cores, sys.executable, "-c", job,
         str(cpus), wal, base, str(rep), mode, str(mft)],
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        print(r.stderr[-3000:])
        raise SystemExit(1)
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n_small = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    n_big = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    # 64 WAL segments / 16 per trigger → 4 data epochs: one warm-up +
    # three steady-state epochs large enough that per-epoch driver
    # bookkeeping (a few constant seconds) stays well under the
    # distributed compute being measured
    mft = int(sys.argv[5]) if len(sys.argv) > 5 else 16
    preserved_tail(BASELINE_PATH)  # refuse before hours of runs, not after

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    base = tempfile.mkdtemp(prefix="odibel-scaling-", dir=shm)
    try:
        gen = subprocess.run(
            [sys.executable, "-c", f"""
import sys; sys.path.insert(0, {REPO!r})
from odibel_spark import get_spark
from odibel_spark.cdc import WalConfig, write_wal_files
spark = get_spark("scale-gen", cpus=32)
cfg = WalConfig(n_events={n_events}, n_convs=max({n_events} // 50, 100), seed=42)
write_wal_files(spark, cfg, {os.path.join(base, 'wal')!r}, n_files=64)
spark.stop()
"""],
            capture_output=True, text=True,
        )
        if gen.returncode != 0:
            print(gen.stderr[-2000:])
            raise SystemExit(1)
        wal = os.path.join(base, "wal")

        # interleave modes AND levels within each rep so shared-host
        # load drift hits every cell equally; keep the best per cell
        results: dict[tuple[str, int], dict] = {}
        for rep in range(reps):
            for mode in ("mor", "cow"):
                for cpus in (n_small, n_big):
                    got = run_once(cpus, wal, base, mode, rep, mft)
                    key = (mode, cpus)
                    if key not in results or got["steady_s"] < results[key]["steady_s"]:
                        results[key] = got

        ratio = n_big / n_small
        summary = {"n_events": n_events, "cores_N": n_small, "cores_4N": n_big,
                   "max_files_per_trigger": mft}
        for mode in ("mor", "cow"):
            small, big = results[(mode, n_small)], results[(mode, n_big)]
            assert small["table_rows"] == big["table_rows"], "runs must converge identically"
            thr_s = n_events / small["wall_s"]
            thr_b = n_events / big["wall_s"]
            sus_s = small["data_events"] / small["data_s"]
            sus_b = big["data_events"] / big["data_s"]
            st_s = small["steady_events"] / small["steady_s"]
            st_b = big["steady_events"] / big["steady_s"]
            summary[mode] = {
                "wall_N_s": round(small["wall_s"], 2),
                "wall_4N_s": round(big["wall_s"], 2),
                "events_per_sec_N": round(thr_s, 1),
                "events_per_sec_4N": round(thr_b, 1),
                "scaling_efficiency_wall": round((thr_b / thr_s) / ratio, 3),
                "alldata_events_per_sec_N": round(sus_s, 1),
                "alldata_events_per_sec_4N": round(sus_b, 1),
                "scaling_efficiency_alldata": round((sus_b / sus_s) / ratio, 3),
                "sustained_events_per_sec_N": round(st_s, 1),
                "sustained_events_per_sec_4N": round(st_b, 1),
                "scaling_efficiency": round((st_b / st_s) / ratio, 3),
                "n_epochs": small["n_epochs"],
                "epoch_secs_N": small["epoch_secs"],
                "epoch_secs_4N": big["epoch_secs"],
                "setup_overhead_N_s": round(small["wall_s"] - small["data_s"], 2),
                "setup_overhead_4N_s": round(big["wall_s"] - big["data_s"], 2),
                "table_rows": small["table_rows"],
            }
        sys.path.insert(0, REPO)
        from bench import cpu_reference_miters_multicore

        micro = {n: max(cpu_reference_miters_multicore(n) for _ in range(3)) for n in sorted({n_small, n_big, 32})}
        summary["cpu_ref_miters_multicore"] = {str(k): round(v, 1) for k, v in micro.items()}
        ceiling = micro[n_big] / micro[n_small] / ratio
        summary["hardware_ceiling_efficiency"] = round(ceiling, 3)
        print(json.dumps(summary))

        mor, cow = summary["mor"], summary["cow"]
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        out_path = BASELINE_PATH
        keep = preserved_tail(out_path)
        # tmp + rename: a crash mid-write must never destroy the
        # hand-written sections just read from the old file
        with open(out_path + ".tmp", "w") as f:
            f.write(f"""# BENCH/BASELINE — scaling-efficiency evidence

North rule criterion: throughput scaling efficiency >= 0.8 from N to
4N executors. Sandbox protocol (BASELINE.md): identical CDC job —
streaming WAL tail -> watermarked dedup -> epoch-fenced MERGE into the
lake table — on identical input at two local parallelism levels.

Protocol details (why the miniature is faithful to a real cluster):

- a "c-core cluster" = the whole JVM pinned to c CPUs via `taskset`
  (task threads, GC, shuffle, Python workers all bounded — local[c]
  alone lets the small run borrow extra cores and understates scaling);
- all storage (WAL, table, checkpoint, spark.local.dir) on tmpfs: a
  real cluster's aggregate disk bandwidth scales with executor count,
  this box's single shared disk does not — RAM-backed dirs restore
  the bandwidth-per-core property being measured;
- fresh JVM per run, best of {reps} (shared-host noise rejection);
- shuffle partitions = 2x cores, as a deployment of that size would set.

## Hardware ceiling

Fixed-work CPU kernel (`bench.cpu_reference_miters_multicore`:
aggregate Miters/s across n concurrent processes, 1 s each, best of
3): {json.dumps(summary["cpu_ref_miters_multicore"])}
At {n_small}->{n_big} processes the raw hardware ceiling is
{micro[n_big] / micro[n_small]:.2f}x (efficiency {ceiling:.2f}); the virtualized 32-vCPU
host tops out well below 32x, so pairs above ~8 big-side cores measure
the host, not the engine.

## Result ({time.strftime('%Y-%m-%d %H:%M:%S')})

Input: deterministic transcript WAL, {n_events:,} change events
(WalConfig seed=42, Zipf-skewed conv_id), 64 segment files replayed as
{mor["n_epochs"]} micro-batches (maxFilesPerTrigger={mft} — WAL segments arrive
over time in a real tail, so the job is measured at its micro-batch
cadence); both levels converge to the identical table
({mor["table_rows"]:,} rows).

Three throughputs are reported per level:

- **sustained events/sec** — the criterion metric (BASELINE.json asks
  for *sustained* upsert throughput): steady-state micro-batches, i.e.
  all data-carrying epochs past the first. Excluded as one-time
  per-PROCESS costs that an hours-long ingest amortizes to zero:
  stream/JVM setup before the first batch
  (~{mor["setup_overhead_N_s"]}s at N, ~{mor["setup_overhead_4N_s"]}s at 4N, measured), the
  first data batch's extra JIT/codegen/state-store initialization
  (visible in the per-epoch series below), and the trailing empty
  watermark-advance batch.
- **all-data ev/s** — every data-carrying epoch incl. the warm-up one.
- **wall ev/s** — everything included, the conservative bound.

### merge-on-read (write-optimized ingest posture — headline)

| | cores | wall (s) | wall ev/s | all-data ev/s | sustained ev/s |
|---|---|---|---|---|---|
| N  | {n_small} | {mor["wall_N_s"]} | {mor["events_per_sec_N"]} | {mor["alldata_events_per_sec_N"]} | {mor["sustained_events_per_sec_N"]} |
| 4N | {n_big} | {mor["wall_4N_s"]} | {mor["events_per_sec_4N"]} | {mor["alldata_events_per_sec_4N"]} | {mor["sustained_events_per_sec_4N"]} |

per-epoch seconds N: {mor["epoch_secs_N"]}
per-epoch seconds 4N: {mor["epoch_secs_4N"]}

**sustained scaling efficiency = ({mor["sustained_events_per_sec_4N"]} / {mor["sustained_events_per_sec_N"]}) / {int(ratio)}
= {mor["scaling_efficiency"]}** (all-data: {mor["scaling_efficiency_alldata"]}, wall-clock incl. one-time setup: {mor["scaling_efficiency_wall"]})

### copy-on-write (read-optimized)

| | cores | wall (s) | wall ev/s | all-data ev/s | sustained ev/s |
|---|---|---|---|---|---|
| N  | {n_small} | {cow["wall_N_s"]} | {cow["events_per_sec_N"]} | {cow["alldata_events_per_sec_N"]} | {cow["sustained_events_per_sec_N"]} |
| 4N | {n_big} | {cow["wall_4N_s"]} | {cow["events_per_sec_4N"]} | {cow["alldata_events_per_sec_4N"]} | {cow["sustained_events_per_sec_4N"]} |

per-epoch seconds N: {cow["epoch_secs_N"]}
per-epoch seconds 4N: {cow["epoch_secs_4N"]}

sustained scaling efficiency = {cow["scaling_efficiency"]}
(all-data: {cow["scaling_efficiency_alldata"]}, wall-clock: {cow["scaling_efficiency_wall"]})

Reproduce: `python tools/scaling_bench.py {n_events} {n_small} {n_big} {reps} {mft}`
""" + keep)
        os.replace(out_path + ".tmp", out_path)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
