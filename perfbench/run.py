"""Benchmark driver: one workload, one seed, one process at local[nproc].

    python3 perfbench/run.py --workload extract --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The run writes its seeded inputs, starts a
session with the package's ``build_session``, runs one cold pass (setup),
warm-up passes until a pass stops getting faster, then timed passes for
``--seconds`` seconds. Every pass's
written result is checked against the oracle (``checks.py``). The second
to last stdout line is a JSON report (host and config record, input shares,
every pass time, fail_rate); the last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json and submits
no Spark job beyond the program's own. ``--trace 1`` adds traced passes
(``spans.py``), layer probes and a local[1] leg and reports the per-layer
metrics; the spans are written to ``.perfbench_work/traces/``.

All files live under ``.perfbench_work/`` in the checkout, and the run
stops the JVM it started before it exits.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEM = "4g"
WARMUP_CAP_S = 8.0
TRACED_PASSES = 2
LOCAL1_PASSES = 2
MB = 1e6
OPTIONAL_LAYERS = ("extract", "layout", "skew", "structure", "dedup")


def pin_env(work: str) -> None:
    """Fix the environment the program reads, before pyspark or numpy load:
    one BLAS thread (several distort scaling), no stray SPARK_GRAFT_*
    overrides, an explicit driver heap, and every scratch directory inside
    the run's work dir."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(
        {
            "OPENBLAS_NUM_THREADS": "1",
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": f"{work}/spark-local",
            "SPARK_WAREHOUSE_DIR": f"{work}/warehouse",
            "TMPDIR": f"{work}/tmp",
            # every JVM, the launcher's too: temp files in the work dir and
            # no /tmp/hsperfdata_* file
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )


def start_session(cores: int):
    from pdftableextractor_spark.session import build_session

    return build_session(app_name="perfbench", master=f"local[{cores}]")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def host_record(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {
        "nproc": NPROC,
        "mem_total_mb": mem_kb * 1024 / MB,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "driver_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / MB,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "openblas_threads": os.environ["OPENBLAS_NUM_THREADS"],
    }


def corrupt_first_span(out: str) -> None:
    """Test hook: change the text of one written span."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
        if f.endswith(".parquet")
    )[0]
    t = pq.read_table(part)
    i = t.schema.get_field_index("text")
    texts = t.column(i).to_pylist()
    texts[0] = (texts[0] or "") + " <corrupted>"
    pq.write_table(t.set_column(i, "text", pa.array(texts, pa.string())), part)


class Runner:
    """Runs and checks passes, counting attempts and failures."""

    def __init__(self, wl, corrupt_pass: int | None):
        self.wl = wl
        self.corrupt_pass = corrupt_pass
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.facts: dict = {}
        self.oracle_ready = False

    def one_pass(self, spark, tr) -> tuple[float | None, dict | None]:
        """One pass; returns (seconds, root span) or (None, None) on failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("pass") as root:
                self.wl.run_pass(spark, tr)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None
        finally:
            self.last_end = time.perf_counter()
        dt = self.last_end - t0
        if not self.oracle_ready:
            self.wl.prepare_check()
            self.oracle_ready = True
        if self.attempted == self.corrupt_pass:
            corrupt_first_span(self.wl.out)
        ok, recall, facts = self.wl.check()
        self.recalls.append(recall)
        self.facts = facts
        if not ok:
            print(f"pass {self.attempted}: output check FAILED", file=sys.stderr)
            self.failed += 1
            return None, None
        return dt, root

    def warm_up(self, spark, tr, cap_s: float) -> None:
        """Untimed passes until one is no faster than the one before it (the
        JIT has settled), or until ``cap_s`` seconds have gone."""
        prev, t_end = None, time.perf_counter() + cap_s
        while time.perf_counter() < t_end:
            dt, _ = self.one_pass(spark, tr)
            if dt is not None and prev is not None and dt > 0.97 * prev:
                return
            prev = dt

    def timed(self, spark, tr, seconds: float, min_passes: int) -> list[tuple]:
        """Passes until ``seconds`` have elapsed and at least ``min_passes``
        were attempted."""
        out, n, t_end = [], 0, time.perf_counter() + seconds
        while n < min_passes or time.perf_counter() < t_end:
            n += 1
            dt, root = self.one_pass(spark, tr)
            if dt is not None:
                out.append((dt, root))
        return out


def tail_percentile(times: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(times)
    if n < 11:
        return None
    k = n - 11
    return {"percentile": 100.0 * (k + 1) / n, "pass_s": sorted(times)[k], "n": n}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size factor (the benchmark's own tests use a tiny one)",
    )
    ap.add_argument(
        "--corrupt-pass", type=int, default=None,
        help="test hook: corrupt the written output of this pass (1-based)",
    )
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work)
    try:
        return measure(args, spec["per_layer" if args.trace else "end_to_end"], work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wanted: list[dict], work: str, run_id: str) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pdftableextractor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}", file=sys.stderr)
        return 2

    from spans import NullTracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    gen_s = time.perf_counter() - t
    untraced = NullTracer()
    run = Runner(wl, args.corrupt_pass)

    t = time.perf_counter()
    spark = start_session(NPROC)
    build_s = time.perf_counter() - t
    try:
        host = host_record(spark)
        cold, _ = run.one_pass(spark, untraced)
        setup_s = run.last_end - T_START - gen_s
        run.warm_up(spark, untraced, WARMUP_CAP_S)
        timed = run.timed(spark, untraced, args.seconds, wl.min_passes)
        times = [dt for dt, _ in timed]
        if not times:
            return 1
        pass_s = statistics.median(times)
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "host": host,
            "inputs": wl.shares,
            "gen_s": gen_s,
            "session_build_s": build_s,
            "cold_pass_s": cold,
            "pass_s": times,
            "pass_s_tail": tail_percentile(times),
        }
        if args.trace:
            metrics, spark = traced(
                spark, wl, run, [m["name"] for m in wanted], pass_s, build_s, run_id, report
            )
        else:
            metrics = {
                "docs_per_s": wl.n_docs / pass_s,
                "pass_s": pass_s,
                "setup_s": setup_s,
                "planted_recall": statistics.median(run.recalls),
            }
        report["fail_rate"] = run.failed / run.attempted
    finally:
        stop_jvm(spark)

    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted
                },
            }
        )
    )
    return 0


def traced(spark, wl, run, names, base_pass_s, build_s, run_id, report):
    """Traced passes, layer probes and the local[1] leg (``--trace 1``).
    Returns the per-layer metrics and the local[1] session."""
    from spans import NullTracer, Tracer

    tr = Tracer(spark, run_id)
    passes = run.timed(spark, tr, 0, TRACED_PASSES)
    if not passes:
        raise RuntimeError("every traced pass failed")
    traced_s = statistics.median(dt for dt, _ in passes)
    roots = [root for _, root in passes]
    per_pass = [Tracer.totals(tr.subtree(r)) for r in roots]
    last = tr.subtree(roots[-1])[1:]
    # a layer the workload never calls did no work: its metrics read 0
    m = {n: 0.0 for n in names if n.split(".")[0] in OPTIONAL_LAYERS}
    m.update(wl.probe(spark, tr, last, run.facts))
    run.attempted += wl.probe_attempts
    run.failed += wl.probe_failures
    m.update(
        {
            "session.build_s": build_s,
            "spark.executor_run_s": statistics.median(
                p["executorRunTime"] for p in per_pass) / 1000.0,
            "spark.gc_s": statistics.median(p["jvmGcTime"] for p in per_pass) / 1000.0,
            "spark.peak_exec_mem_mb": max(
                p["peakExecutionMemory"] for p in per_pass) / MB,
            "trace.overhead_s": traced_s - base_pass_s,
        }
    )
    # self time per layer over the last traced pass and the probes
    report["self_s"] = {}
    for s in tr.spans[roots[-1]["id"]:]:
        key = tr.path(s)
        report["self_s"][key] = report["self_s"].get(key, 0.0) + tr.self_time(s)
    os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
    tr.dump(os.path.join(ROOT, ".perfbench_work", "traces", f"{run_id}.jsonl"))
    m["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb()

    # local[1] leg on the same input: scaling_eff = (T1 / Tn) / nproc
    spark.stop()
    spark = start_session(1)
    run.timed(spark, NullTracer(), 0, 1)
    one = run.timed(spark, NullTracer(), 0, LOCAL1_PASSES)
    m["spark.scaling_eff"] = (
        statistics.median(dt for dt, _ in one) / base_pass_s / NPROC if one else 0.0
    )
    report["local1_pass_s"] = [dt for dt, _ in one]
    return m, spark


if __name__ == "__main__":
    sys.exit(main())
