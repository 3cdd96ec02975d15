"""Seeded benchmark of frames_map_reduce_spark: one workload per run.

    python3 perfbench/run.py --workload fold_rollup --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout; the package is imported from there.
Each run:

1. starts a Spark session on ``local[nproc]`` (one client thread drives it)
   inside a private temp root (warehouse, ``spark.local.dir`` and generated
   inputs), deleted at exit;
2. sets up the workload's ``SETUP_REPS`` times (generate inputs from
   ``--seed``, build indexes) and runs its ``WARMUP_OPS`` untimed operations
   (the checks keep the first one's outputs);
3. runs operations in a closed loop for ``--seconds`` seconds (at least
   ``MIN_OPS``, and no more than the workload's inputs last for);
4. checks every operation's output against independent references, outside
   the timed region;
5. prints each metric on its own line, then one JSON object as the last
   line of stdout: the end-to-end metrics of BENCHMARK.json with
   ``--trace 0``, its per-layer metrics with ``--trace 1``.

With ``--trace 1`` the timed phase is split: the first half untraced, the
second half traced (every layer call wrapped in a span that materializes its
result).  The span file is written under ``.perfbench/spans/``; the tracing
overhead is the traced minus the untraced median operation time.

Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_OPS = 3
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a small one)")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(tmp: str) -> None:
    """Process environment inherited by the JVM and its Python workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM   # read by get_spark
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # temp files of Python and of every JVM (the spark-submit launcher too)
    # stay under the run's temp root; no JVM perf-data file in /tmp
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(tmp: str):
    from frames_map_reduce_spark import get_spark
    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and every process below this one."""
    from pyspark import SparkContext

    from tracing import descendants
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.terminate()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.05)


def jvm_line(spark) -> str:
    """Collector and JIT-compiler time the driver JVM has spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return (f"jvm gc_s={gc_ms / 1000:.3f} "
            f"jit_s={mf.getCompilationMXBean().getTotalCompilationTime() / 1000:.3f}")


def tail(samples: list[float]):
    """The highest percentile with at least ten samples beyond it:
    ``(percentile, value)``, or None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return 100.0 * (n - 10) / n, s[n - 11]


def timed_loop(wl, tracer, seconds: float, first_op: int, end_op: float):
    """Ops ``first_op, first_op + 1, ...`` for ``seconds`` (at least
    ``MIN_OPS``), stopping early before ``end_op``."""
    durations, records, rows = [], [], 0
    start = time.perf_counter()
    i = first_op
    while i < end_op:
        tracer.op = f"op-{i}"
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                n, rec = wl.op(i)
        except Exception:  # counted as a failed op, the loop goes on
            traceback.print_exc()
            n, rec = 0, None
        durations.append(time.perf_counter() - t0)
        tracer.release()
        records.append(rec)
        rows += n
        i += 1
        if time.perf_counter() - start >= seconds and len(durations) >= MIN_OPS:
            break
    return durations, records, rows, time.perf_counter() - start


def run(args, spec, tmp: str, lines: list[str]) -> dict:
    from tracing import RssSampler, Tracer
    import workloads

    cls = workloads.REGISTRY[args.workload]
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        session_start = time.perf_counter() - t0
        try:
            tracer = Tracer(spark)
            tracer.enable(bool(args.trace))
            wl = cls(spark, os.path.join(tmp, "data"), args.seed, args.scale,
                     tracer)
            reps = []
            for r in range(wl.SETUP_REPS):
                tracer.op = f"setup-{r}"
                t = time.perf_counter()
                wl.setup()
                reps.append(time.perf_counter() - t)
            lines.append(f"input_digest sha256={wl.digest()}")
            tracer.enable(False)
            t = time.perf_counter()
            warm = wl.WARMUP_OPS
            for i in range(warm):
                wl.op(i)
            warmup = time.perf_counter() - t
            setup_s = session_start + statistics.median(reps) + warmup
            peaks = [rss.peak]

            end = wl.MAX_OPS or math.inf
            plain_s, plain_end = args.seconds, end
            if args.trace:   # the untraced half leaves the traced half its inputs
                plain_s, plain_end = args.seconds / 2, (warm + end) / 2
            dur, recs, rows, elapsed = timed_loop(wl, tracer, plain_s, warm,
                                                  plain_end)
            traced = None
            if args.trace:
                tracer.enable(True)
                traced = timed_loop(wl, tracer, args.seconds / 2,
                                    warm + len(dur), end)
                tracer.enable(False)
            peaks.append(rss.peak)
            recs += traced[1] if traced else []
            checked = iter(wl.check([r for r in recs if r is not None]))
            ok = [r is not None and next(checked) for r in recs]
            extra = wl.extra_metrics()
            lines.append(jvm_line(spark))
            layer = {**tracer.per_op_medians(), **wl.counters()} if args.trace else {}
        finally:
            stop_session(spark)

    attempted = len(ok)
    failed = sum(1 for v in ok if not v)
    m = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(dur),
        "rows_per_s": rows / elapsed,
        "peak_rss_mb": rss.peak / 2**20,
        "failed_ratio": failed / attempted,
        **extra,
    }
    lines.append(f"workload {args.workload} seed={args.seed} cpus={nproc()} "
                 f"setup_reps={wl.SETUP_REPS} setup_rep_s="
                 + ",".join(f"{r:.3f}" for r in reps)
                 + f" session_start_s={session_start:.3f} warmup_s={warmup:.3f}")
    lines.append("peak_rss_mb after set-up/timed ops/checks: " + ",".join(
        f"{p / 2**20:.1f}" for p in peaks + [rss.peak]))
    lines.append(f"op_p50_s samples={len(dur)} rows={rows} ({wl.ROWS}) op_s="
                 + ",".join(f"{d:.3f}" for d in dur))
    tl = tail(dur)
    if wl.TAIL:
        if tl is None:
            lines.append(f"op_tail_s unavailable: {len(dur)} samples < 11")
        else:
            m["op_tail_s"] = tl[1]
            lines.append(f"op_tail_s percentile=p{tl[0]:.1f} samples={len(dur)}")
    units = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "rows_per_s": "rows/s", "failed_ratio": "1", "peak_rss_mb": "MB",
             "recall_at_10": "1", "stored_bytes_per_input_byte": "1"}
    for name, value in m.items():
        lines.append(f"metric {name} = {value:.6g} {units[name]}")

    if args.trace:
        tp50 = statistics.median(traced[0])
        layer["session.start_s"] = session_start
        layer["session.warmup_s"] = warmup
        layer["trace.overhead_s"] = tp50 - m["op_p50_s"]
        lines.append(f"trace untraced_p50_s={m['op_p50_s']:.6g} "
                     f"traced_p50_s={tp50:.6g} traced_samples={len(traced[0])}")
        out = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(tracer.self_times(), f)
        lines.append(f"span_file {os.path.relpath(path, ROOT)} "
                     f"spans={len(tracer.spans)}")
        for name in sorted(layer):
            lines.append(f"layer {name} = {layer[name]:.6g}")
        chosen = spec["per_layer"]
        values = {c["name"]: float(layer.get(c["name"], 0.0)) for c in chosen}
    else:
        chosen = spec["end_to_end"]
        values = {c["name"]: float(m[c["name"]]) for c in chosen}
    for v in values.values():
        if not math.isfinite(v):
            raise ValueError(f"non-finite metric in {values}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {c["name"]: {"value": values[c["name"]], "unit": c["unit"]}
                        for c in chosen}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "frames_map_reduce_spark")):
        print(f"no frames_map_reduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.REGISTRY:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.REGISTRY)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an error, so the finally blocks stop Spark and
    # delete the temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(tmp)
    lines: list[str] = []
    try:
        prepare_env(tmp)
        result = run(args, spec, tmp, lines)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
