"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Generates the seeded inputs, starts the package's own SparkSession on
``local[<cores>]``, runs a cold first pass that is also the correctness
gate on those inputs and the workload's warm-up passes, then the timed
passes: as many as take ``--seconds`` at the workload's nominal pass
time.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from fractions import Fraction

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "2g"
PERCENTILES = (50, 90, 99, 99.9)


def tail_percentile(n: int) -> float | None:
    """Highest of ``PERCENTILES`` with at least ten of ``n`` samples beyond it."""
    ok = [p for p in PERCENTILES if n * (100 - Fraction(str(p))) / 100 >= 10]
    return max(ok) if ok else None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    s = sorted(values)
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def peak_rss_mb(jvm_pid: int) -> float:
    total = 0
    for pid in ("self", str(jvm_pid)):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


# JVM threads that do the runtime's work, not the program's: the JIT
# compilers, the garbage collector and the VM's own service threads.
JVM_SERVICE_THREADS = (
    "C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread",
    "VM Periodic", "Sweeper", "Service Thread", "Monitor Deflati",
)


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds the program has used so far: this process and every
    process under it (the Spark JVM and its Python workers), live or
    reaped, less the JVM's service threads.  Time the hypervisor steals
    from the machine is not in it."""
    tck = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                f = _stat(f"/proc/{d}/stat")[1]
            except OSError:
                continue
            procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree, grew = {os.getpid()}, True
    while grew:
        kids = {pid for pid, (ppid, _) in procs.items() if ppid in tree} - tree
        tree |= kids
        grew = bool(kids)
    service = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            name, f = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue
        if name.startswith(JVM_SERVICE_THREADS):
            service += int(f[11]) + int(f[12])
    return (sum(procs[p][1] for p in tree if p in procs) - service) / tck


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the package write inside ``work``."""
    for sub in ("tmp", "spark-local", "artifacts", "warehouse", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = None


class Context:
    """What an operation needs: the session, the entry module, the input
    and work directories, the oracles' expected outputs, and the tracer
    hooks (no-ops when untraced)."""

    def __init__(self, spark, entry, data_dir: str, work_dir: str, oracles: dict, tracer=None):
        self.spark = spark
        self.entry = entry
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.oracles = oracles
        self.tracer = tracer
        self.state: dict = {}

    def span(self, name: str, layer: str):
        if self.tracer is not None:
            return self.tracer.span(name, layer)
        return contextlib.nullcontext()

    def tracer_catalyst(self, df) -> None:
        if self.tracer is not None:
            self.tracer.record_catalyst(df)


def run_passes(ctx, workload, passes: int, rng: random.Random, jvm_pid: int):
    """Closed loop: ``passes`` whole passes back to back.  Returns
    per-operation latencies and CPU times, attempted and failed counts,
    and errors."""
    lat: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    attempted = failed = 0
    errors = []
    for _ in range(passes):
        ops = workload.ops(ctx)
        if workload.shuffle:
            rng.shuffle(ops)
        for name, op in ops:
            attempted += 1
            c0 = cpu_s(jvm_pid)
            t0 = time.perf_counter()
            try:
                with ctx.span(name, "bench"):
                    op()
            except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
                failed += 1
                errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            lat.setdefault(name, []).append(time.perf_counter() - t0)
            cpu.setdefault(name, []).append(cpu_s(jvm_pid) - c0)
    return lat, cpu, attempted, failed, errors


def per_pass(times: dict[str, list[float]]) -> float:
    """One pass's time: the sum over operations of their median time."""
    return sum(statistics.median(xs) for xs in times.values()) if times else float("nan")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, help="TPC-H scale factor of the inputs (default: the workload's)"
    )
    ap.add_argument("--out", help="also write the full result, spans included, here")
    ap.add_argument(
        "--corrupt-output",
        action="store_true",
        help="alter one checked output before comparing it (tests the gate)",
    )
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        return _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work: str) -> int:
    from concurrent.futures import ThreadPoolExecutor

    from perfbench.datagen import generate
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    scale = args.scale or wl.scale
    data_dir = os.path.join(WORK, "data", f"{wl.name}-{scale}-{args.seed}")
    inputs = generate(data_dir, scale, args.seed, wl.replicas)
    input_rows = sum(inputs[t]["rows"] for t in wl.tables)

    # Set-up: imports, session start and the cold first pass, which is also
    # the correctness gate.  The tracer must wrap the layer functions
    # before ``__spark_entry__`` binds them.
    t0 = time.perf_counter()
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(f"{wl.name}-{args.seed}")
        tracer.install()
    import __spark_entry__ as entry
    from yellowrush_spark_ml_pipeline_spark.session import get_spark

    if tracer is not None:
        tracer.wrap_entry(entry)
    with ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(wl.oracles, entry, data_dir)
        t1 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{wl.name}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # Compiler threads that live for the whole run keep their
                # CPU time apart from the program's (see ``cpu_s``).
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                    " -XX:-UseDynamicNumberOfCompilerThreads"
                ),
            },
        )
        session_s = time.perf_counter() - t1
        try:
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            if tracer is not None:
                tracer.bind(spark)
            ctx = Context(spark, entry, data_dir, work, oracles.result(), tracer)
            t2 = time.perf_counter()
            checks = wl.gate(ctx, corrupt=args.corrupt_output)
            rng = random.Random(args.seed)
            ctx.state = {}
            _, _, attempted, failed, errors = run_passes(ctx, wl, wl.warmup, rng, jvm_pid)
            warm_s = time.perf_counter() - t2
            setup_s = time.perf_counter() - t0

            if tracer is not None:
                tracer.recording = True
            passes = wl.passes(args.seconds)
            lat, cpu, n_attempted, n_failed, n_errors = run_passes(ctx, wl, passes, rng, jvm_pid)
            attempted += n_attempted
            failed += n_failed
            errors += n_errors
            if tracer is not None:
                tracer.recording = False
            checks += wl.final_check(ctx)
            residual_mb = (
                spark._jsc.sc().statusStore().executorSummary("driver").memoryUsed() / (1 << 20)
            )
            rss_mb = peak_rss_mb(jvm_pid)
        finally:
            _stop(spark)

    bad_checks = [(n, e) for n, e in checks if e]
    attempted += len(checks)
    failed += len(bad_checks)
    samples = sorted(x for xs in lat.values() for x in xs)
    wall_s = per_pass(lat)
    tail = tail_percentile(len(samples))
    end_to_end = {
        "setup_s": setup_s,
        "pass_cpu_s": per_pass(cpu),
        "residual_cache_mb": residual_mb,
    }
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": cores,
        "passes": passes,
        "wall_s": wall_s,
        "input_rows_per_s": input_rows / wall_s,
        "samples": len(samples),
        "p50_s": statistics.median(samples) if samples else None,
        "tail_percentile": tail,
        "tail_s": percentile(samples, tail) if tail else None,
        "failed_ratio": failed / attempted,
        "peak_rss_mb": rss_mb,
        "residual_cache_mb": residual_mb,
        "session_start_s": session_s,
        "warm_s": warm_s,
        "input_rows": input_rows,
        "inputs": inputs,
        "op_median_s": {k: statistics.median(v) for k, v in lat.items()},
        "op_median_cpu_s": {k: statistics.median(v) for k, v in cpu.items()},
        "errors": errors + [f"{n}: {e}" for n, e in bad_checks],
    }
    if tracer is not None:
        metrics = tracer.layer_metrics(passes, cores)
        metrics["session.start_s"] = session_s
        metrics["session.warmup_s"] = warm_s
        metrics["storage.residual_mb"] = residual_mb
        metrics["sink.files"] = _count_files(os.path.join(work, "out")) / passes
        metrics["trace.wall_s"] = wall_s
        wanted = spec["per_layer"]
    else:
        metrics = end_to_end
        wanted = spec["end_to_end"]
    for k, v in info.items():
        print(f"# {k}: {json.dumps(v)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    if args.out:
        full = dict(result, info=info, all_metrics=metrics, op_latencies_s=lat, op_cpu_s=cpu)
        if tracer is not None:
            full["spans"] = tracer.spans
        with open(args.out, "w") as fh:
            json.dump(full, fh, indent=1)
    print(json.dumps(result))
    return 0


def _count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
