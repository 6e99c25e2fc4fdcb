#!/usr/bin/env python3
"""Extraction-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload lines_commit --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The benchmark drives the engine from
outside, through its public functions, on a fixed ``local[k]`` session:

1. set-up, timed from process start: JVM launched, session up,
   ``configure_spark`` applied, a first extraction job on a 64-document
   slice completed (Python workers spawned, kernel and native library
   loaded);
2. the workload's seeded input (the TESTDATA tables shipped in
   ``perfbench/testdata/``, doc_ids shifted by the seed), prepared once per
   seed and cached;
3. the workload's fixed number of warm-up passes, discarded;
4. measured passes until ``--seconds`` have passed (at least the
   workload's ``MIN_PASSES``); every pass is checked.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the host and versions. ``--trace 1`` also writes the
layer spans as JSON under ``.bench_build/perfbench/trace/``. See
perfbench/README.md for the metrics and the layer each belongs to.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

K = min(4, len(os.sched_getaffinity(0)))  # local[k], k <= nproc
DRIVER_MEMORY = "4g"  # fits a 15 GB host with the Python workers beside it
SHUFFLE_PARTITIONS = 8
SETUP_DOCS = 64

# metric names and units, as declared in BENCHMARK.json
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# passes per run at the smoke size (self-check), instead of the workload's
SMOKE_MIN_PASSES = 2
# in a traced run, measured passes alternate traced / untraced; each side
# gets at least this many
TRACE_MIN_PASSES = 2


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _native_probe(_):
    from swissgeol_ocr_spark.operators import _native

    return _native.available()


class Session:
    """The run's local[K] session and the JVM behind it."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spark = None
        self.eventlog_dir = os.path.join(WORK, "eventlog")

    def start(self, t0: float, setup_docs: str) -> tuple[float, float]:
        """Bring a session up and complete the first extraction job;
        returns (session seconds since ``t0``, first-job seconds)."""
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        from swissgeol_ocr_spark.plans.pipeline import configure_spark, extract_pipeline
        from swissgeol_ocr_spark.sources.corpus import documents_to_spans

        b = (
            SparkSession.builder.master(f"local[{K}]")
            .appName("perfbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.path.join(WORK, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
        )
        if self.trace:
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", "file://" + self.eventlog_dir)
                .config("spark.eventLog.rolling.enabled", "false")
                .config("spark.eventLog.compress", "false")
            )
        self.spark = configure_spark(b).getOrCreate()
        t1 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setJobDescription("setup")
        out = extract_pipeline(documents_to_spans(self.spark.read.parquet(setup_docs)))
        out.agg(F.sum("n_spans_out")).collect()
        sc.setJobDescription(None)
        return t1 - t0, time.perf_counter() - t1

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM (it exits on
        EOF of its stdin)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)


def _median_layers(passes) -> dict:
    keys = {k for p in passes for k in p.layer}
    return {k: statistics.median(p.layer.get(k, 0.0) for p in passes) for k in keys}


def _measure(wl, spark, tracer, meter, args) -> tuple[list, list, list]:
    """Warm-up, then measured passes until ``args.seconds`` have passed;
    returns (warm-up, measured, untraced) passes. In a traced run the
    measured passes alternate traced / untraced: the untraced ones run with
    the tracer off and no explicit plan call, the base of
    ``trace.overhead_s``. The event log is a session setting, so it is on
    for both sides."""
    import probes

    min_passes = wl.MIN_PASSES if args.size == "full" else SMOKE_MIN_PASSES
    if args.trace:
        min_passes = min(min_passes, TRACE_MIN_PASSES)
    off = probes.Tracer(False)
    warm, passes, untraced = [], [], []
    for i in itertools.count():
        if len(warm) == wl.WARMUP and not passes and not untraced:
            measure_t0 = time.perf_counter()
        # ABBA order (traced, untraced, untraced, traced, ...), so that the
        # JVM's warming over the run does not favour either side
        j = i - wl.WARMUP
        traced = bool(args.trace) and (j < 0 or j % 4 in (0, 3))
        c0 = meter.read()
        with (tracer if traced else off).span("pass", index=i):
            p = wl.run_pass(spark, i, tracer if traced else off, traced)
        p.layer["cpu_s"] = meter.read() - c0
        if len(warm) < wl.WARMUP:
            warm.append(p)
        else:
            (passes if traced or not args.trace else untraced).append(p)
        if (len(passes) >= min_passes and (not args.trace or len(untraced) >= min_passes)
                and time.perf_counter() - measure_t0 >= args.seconds):
            return warm, passes, untraced


def run(args) -> dict:
    import inputs
    import probes
    from workloads import WORKLOADS

    for d in ("native", "tmp", "inputs", "spark-local", "warehouse", "eventlog", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    setup_docs = os.path.join(WORK, "inputs", "setup_docs.parquet")
    if not os.path.exists(setup_docs):
        import pyarrow.parquet as pq

        pq.write_table(inputs.documents("sf0.01").slice(0, SETUP_DOCS), setup_docs)

    tracer = probes.Tracer(args.trace)
    wl = WORKLOADS[args.workload](ROOT, WORK, args.size, args.seed)
    session = Session(args.trace)
    try:
        with tracer.span("setup"):
            session_s, first_job_s = session.start(_T_START, setup_docs)
        spark = session.spark
        native_loaded = all(spark.sparkContext.parallelize(range(K), K).map(_native_probe).collect())
        meter = probes.CpuMeter(session.jvm_pid())

        t = time.perf_counter()
        with tracer.span("inputs"):
            wl.prepare(spark)
            if args.trace:
                wl.write_kernel_sample(spark)
        inputs_s = time.perf_counter() - t
        n_docs = wl.n_docs()

        steal0, total0 = probes.host_cpu_ticks()
        warm, passes, untraced = _measure(wl, spark, tracer, meter, args)
        steal1, total1 = probes.host_cpu_ticks()
        done = warm + passes + untraced
        attempted = sum(p.attempted for p in done) + wl.n_checked()
        failed = sum(p.failed for p in done)
        # every pass's output must be identical to the first one's
        failed += sum(1 for p in done if p.digest != done[0].digest)
        t = time.perf_counter()
        with tracer.span("final_check"):
            failed += wl.final_check(spark)
        check_s = time.perf_counter() - t

        jvm_hwm = probes.hwm_mb(meter.jvm_pid)
        py_hwm = max([probes.hwm_mb(p) for p in meter.python_worker_pids()] or [0.0])
        app_id = spark.sparkContext.applicationId
    finally:
        session.shutdown()
        wl.cleanup()

    wall = statistics.median(p.wall_s for p in passes)
    cpu = statistics.median(p.layer["cpu_s"] for p in passes)
    env = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "nproc": os.cpu_count(), "k": K, "loadavg": probes.loadavg(),
        "host.steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "native.loaded": native_loaded,
        "versions": _versions(),
        "input": {k: wl._rec[k] for k in ("docs", "spans", "bytes", "max_spans")},
        "passes": [round(p.wall_s, 4) for p in passes],
        "untraced_passes": [round(p.wall_s, 4) for p in untraced],
        "warmup": [round(p.wall_s, 4) for p in warm],
        "setup": [round(session_s, 4), round(first_job_s, 4)],
        "inputs_s": round(inputs_s, 2), "final_check_s": round(check_s, 2),
        "sink_flush": "Spark default (parquet append, one file per write task)",
        "trace": bool(args.trace),
        "run_s": round(time.perf_counter() - _T_START, 2),
    }
    print(json.dumps({"env": env}))
    if not args.trace:
        metrics = {
            "setup_s": session_s + first_job_s,
            "wall_s": wall,
            "docs_per_s": n_docs / wall,
            "cpu_ms_per_doc": cpu * 1e3 / n_docs,
        }
        units = END_TO_END
    else:
        metrics = _layers(args, wl, (session_s, first_job_s), passes, untraced, native_loaded,
                          jvm_hwm, py_hwm, env["host.steal_share"], app_id, tracer)
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def _layers(args, wl, setup, passes, untraced, native_loaded, jvm_hwm, py_hwm, steal, app_id,
            tracer) -> dict:
    import kernelbench
    import probes

    m = {k: 0.0 for k in PER_LAYER}
    m.update(_median_layers(passes))
    m.pop("cpu_s", None)
    m["setup.session_s"], m["setup.first_job_s"] = setup
    m["native.loaded"] = 1.0 if native_loaded else 0.0
    for k in ("pipeline.passthrough_doc_share", "pipeline.kernel_doc_share",
              "pipeline.split_doc_share", "pipeline.split_span_share"):
        m[k] = wl._rec[k]
    with tracer.span("kernelbench"):
        kb = kernelbench.run(wl.sample_dir())
        env = dict(os.environ, SPARK_GRAFT_NO_NATIVE="1")
        child = subprocess.run(
            [sys.executable, os.path.join(HERE, "kernelbench.py"), wl.sample_dir()],
            env=env, capture_output=True, text=True, timeout=120, check=True,
        )
        m["kernel.ms_per_doc_numpy"] = json.loads(child.stdout.strip().splitlines()[-1])["kernel.ms_per_doc"]
    for k in ("kernel.ms_per_doc", "readingorder.us_per_page", "assemble.us_per_page"):
        m[k] = kb[k]
    # event-log figures of the traced passes only
    desc = {d for p in passes for d in p.descriptions}
    log = os.path.join(WORK, "eventlog", app_id)
    ev = probes.read_event_log(log, desc, K, sum(p.wall_s for p in passes), len(passes))
    m.update(ev)
    m["mem.jvm_hwm_mb"] = jvm_hwm
    m["mem.py_hwm_mb"] = py_hwm
    m["host.steal_share"] = steal
    m["trace.wall_s"] = statistics.median(p.wall_s for p in passes)
    m["trace.overhead_s"] = m["trace.wall_s"] - statistics.median(p.wall_s for p in untraced)
    tracer.write(
        os.path.join(WORK, "trace", f"{args.workload}-{args.size}-{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "size": args.size},
    )
    return m


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "swissgeol_ocr_spark", "__init__.py")):
        _fail(f"no swissgeol_ocr_spark package under {ROOT}; run from a checkout root")
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # the program's own files and temporaries stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    os.environ["SPARK_GRAFT_NATIVE_DIR"] = os.path.join(WORK, "native")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    result = run(args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
