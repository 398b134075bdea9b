"""CDC ingest benchmark: backlog vs cadence ingest and long-history reads.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {backlog,cadence,history_reads} \\
        --seed N --seconds S --trace {0,1}

The seed generates the WAL (``cdc.datagen.write_wal_files``) and the
reader call sequence. ``--trace 0`` measures with no wrappers installed
and reports the end-to-end metrics; ``--trace 1`` alternates untraced
and traced operations and reports the per-layer metrics. Every metric
is printed as ``name = value unit``; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. The full
record (every sample, progress event and span, plus the environment)
goes to ``.perfbench/records/``. All scratch data (WAL, tables,
checkpoints, Spark local dirs) lives under ``.perfbench/`` and is
removed at exit. See perfbench/README.md for what each workload loads
and the predictions that follow.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

# the benchmark writes nothing outside .perfbench/, compiled modules included
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORK = os.path.join(CHECKOUT, ".perfbench")
DRIVER_MEMORY = "3g"
#: a run that has not finished SETUP_ALLOWANCE_S + 3 x --seconds after
#: it started kills its JVM and exits non-zero (170 s at --seconds 8)
SETUP_ALLOWANCE_S = 146


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


@contextlib.contextmanager
def spark_session(scratch: str, cpus: int):
    """A local session whose scratch all lives under ``scratch``; on exit
    the session is stopped and its JVM waited for."""
    from odibel_spark import get_spark

    tmp = os.path.join(scratch, "tmp")
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    signal.signal(signal.SIGALRM, lambda *_: _abort(proc))
    try:
        yield spark, proc
    finally:
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _abort(proc) -> None:
    log("deadline passed; killing the JVM")
    proc.kill()
    proc.wait()
    os._exit(3)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not reported")


def environment(spark, scratch: str, cpus: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    fs = "unknown"
    best = ""
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, fstype = line.split()[:3]
            if (scratch + "/").startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best):
                best, fs = mnt, fstype
    return {
        "nproc": cpus,
        "ram_gib": round(mem_kb / 2**20, 1),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "driver_memory": DRIVER_MEMORY,
        "scratch_fs": fs,
    }


def measure(b, workload: str, seconds: float, traced: bool) -> tuple[list[dict], list[dict]]:
    """Closed loop of timed operations for ``seconds`` of wall time.
    Returns (op records, failures). A traced run alternates untraced and
    traced operations (whole cycles on history_reads) so the tracing
    overhead is measured in the same run."""
    import workloads as w

    ops: list[dict] = []
    failures: list[dict] = []
    t0 = time.perf_counter()
    i = 0
    while True:
        with_trace = traced and i % 2 == 0
        if workload == "history_reads":
            batch = [(op, f"c{i}.{j}") for j, op in enumerate(b.cycle_ops())]
        else:
            batch = [(None, f"r{i}")]
        for op, tag in batch:
            try:
                if workload == "history_reads":
                    rec = b.read_op(op, with_trace, tag)
                else:
                    rec = b.replay(w.FILES_PER_TRIGGER[workload], with_trace, tag)
                ops.append(rec)
            except Exception as e:  # an op's failure is counted, the loop goes on
                log(f"op {tag} failed: {e!r}")
                failures.append({"tag": tag, "op": op, "error": traceback.format_exc()})
        i += 1
        done = time.perf_counter() - t0 >= seconds
        done = done and i >= (w.MIN_CYCLES if workload == "history_reads" else 1)
        if done and (not traced or i >= 2):
            return ops, failures


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("backlog", "cadence", "history_reads"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    try:
        import odibel_spark  # noqa: F401
        import workloads as w
    except ImportError as e:
        log(f"cannot import the engine from {CHECKOUT}: {e}")
        return 2

    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    signal.alarm(int(SETUP_ALLOWANCE_S + 3 * args.seconds))
    record: dict = {"args": vars(args), "started_at": time.time()}
    try:
        t0 = time.perf_counter()
        with spark_session(scratch, cpus) as (spark, jvm):
            setup = {"session.start_s": time.perf_counter() - t0}
            log(f"session up; {args.workload} seed={args.seed} trace={args.trace}")
            record["environment"] = environment(spark, scratch, cpus)
            b = w.Bench(spark, scratch, args.seed)
            b.make_wal()
            if args.workload == "history_reads":
                b.build_history()
            else:
                b.warm_up(w.FILES_PER_TRIGGER[args.workload])
                b.make_oracle()
            setup.update(b.setup)
            setup_s = time.perf_counter() - T_START
            log(f"setup done in {setup_s:.1f}s: {setup}")
            ops, failures = measure(b, args.workload, args.seconds, bool(args.trace))
            rss = peak_rss_mb(jvm.pid)
            record.update(setup=setup, setup_s=setup_s, ops=ops, failures=failures, peak_rss_mb=rss)
            if args.trace:
                record["spans"] = b.tracer.spans
                metrics = layer_metrics(b, args.workload, ops, setup)
                extra = {}
            elif ops:
                metrics, extra = end_to_end(b, args.workload, ops, setup_s, rss)
            else:
                metrics, extra = {}, {}
    finally:
        signal.alarm(0)
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = len(ops) + len(failures)
    failed = len(failures)
    units = w.PER_LAYER if args.trace else w.END_TO_END
    shown = {k: (v, units[k]) for k, v in metrics.items()}
    shown.update(extra)
    shown["failed_frac"] = (failed / attempted, "ratio")
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    out = os.path.join(
        WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(record['started_at'])}.json"
    )
    with open(out, "w") as f:
        json.dump(record, f, default=str)
    for k, (v, u) in shown.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"record = {os.path.relpath(out, CHECKOUT)}")
    summary = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    return 0


def end_to_end(b, workload: str, ops: list[dict], setup_s: float, rss: float) -> tuple[dict, dict]:
    import workloads as w

    if workload == "history_reads":
        metrics, extra = w.reads_end_to_end(ops)
    else:
        metrics, extra = w.ingest_end_to_end(b, ops)
    metrics.update(setup_s=setup_s, peak_rss_mb=rss)
    return {k: metrics[k] for k in w.END_TO_END}, extra


def layer_metrics(b, workload: str, ops: list[dict], setup: dict) -> dict:
    import workloads as w

    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    if workload == "history_reads":
        m = w.reads_layers(b, traced)
        cost = lambda os_: sum(o["s"] for o in os_) / len(os_)  # noqa: E731
    else:
        per = [w.ingest_layers(b, o) for o in traced]
        m = {k: statistics.median(p[k] for p in per) for k in w.PER_LAYER}
        cost = lambda os_: statistics.median(o["wall_s"] for o in os_)  # noqa: E731
    m["trace.overhead_frac"] = cost(traced) / cost(plain) - 1 if traced and plain else 0.0
    for k in ("session.start_s", "datagen.wal_s", "setup.warmup_s", "setup.aging_s"):
        m[k] = setup.get(k, 0.0)
    return {k: m[k] for k in w.PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
