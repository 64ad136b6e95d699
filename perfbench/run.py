"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  The input set is generated from
the seed (cached by seed and size under perfbench/.cache), the program
runs on ``local[<nproc>]`` with a fixed shuffle-partition count, a
fixed number of unmeasured warm-up iterations run before the measured
ones, and every output is verified.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` (units whose
output did not verify, so error_rate = failed / attempted) and
``metrics``, whose names and units come from BENCHMARK.json.

``--trace 0`` reports the end-to-end metrics, timed in CPU time (see
``common.tree_cpu_s``); tracing is off.  The wall-clock figures go to
the run record and a ``#`` line.
``--trace 1`` is the separate traced run: it wraps the layer
functions each workload reaches, tags Spark jobs with span ids, enables
the Spark event log, and reports the per-layer metrics.  A run record
(environment, seed, input digest, every metric, the spans) is written
under perfbench/results/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flask_data_pipes_spark"
SHUFFLE_PARTITIONS = 8
# The driver heap: a 2g limit, through the package's own SPARK_DRIVER_MEM,
# and a fixed young generation.  The heap is neither preset nor
# pre-touched, so the old generation grows as the program keeps data and
# peak_rss_mb follows it.  Left to its heuristics the collector sized the
# young generation by measured pause times, and that alone moved the peak
# RSS: on a 4-vCPU VM etl_objects ranged 1.35-2.12 GB over seven runs of
# the same code under the package's 8g default, 1.02-1.44 GB over ten
# under 2g, and 1.55-1.60 GB over five under 2g with this young size.
DRIVER_MEM = "2g"
YOUNG_GEN = "384m"

# metric names and units come from BENCHMARK.json; a per-layer metric
# <span>.<measure> is that measure of that span unless the workload
# supplies the value itself (Context.add_layer)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="input size (tiny: the smoke-test inputs)")
    return ap.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Keep every file Spark and the Python workers write inside the
    checkout, and let executor Python workers import the package."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM perf-data files under /tmp (launcher and driver JVMs alike)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)


def engine_config(workdir: str, nproc: int, trace: bool):
    from flask_data_pipes_spark.session import EngineConfig

    tmp = os.path.join(workdir, "tmp")
    # a fixed set of JIT compiler threads, kept alive, so that
    # common.tree_cpu_s can leave their time out
    conf = {
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                          f"-Xmn{YOUNG_GEN} -XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(workdir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return EngineConfig(master=f"local[{nproc}]", shuffle_partitions=SHUFFLE_PARTITIONS,
                        data_dir=os.path.join(workdir, "data"), extra_conf=conf)


def workload_class(name: str):
    if name == "etl_objects":
        from etl_objects import EtlObjects as cls
    elif name == "curate_corpus":
        from curate_corpus import CurateCorpus as cls
    else:
        from near_dup import NearDup as cls
    return cls


def p90(xs: list[float]) -> float:
    """Linear interpolation between order statistics, as numpy does."""
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found next to {os.path.basename(HERE)}/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    nproc = os.cpu_count() or 1
    load_before = os.getloadavg()
    workdir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    prepare_env(workdir)

    from common import Context, tree_cpu_s
    from gen import make_inputs

    t_gen, c_gen = time.perf_counter(), tree_cpu_s()
    cache = os.path.join(HERE, ".cache")
    inputs = make_inputs(args.workload, args.seed, args.size, cache)
    warmup_inputs = make_inputs(args.workload, args.seed, "tiny", cache)
    gen_s, gen_cpu_s = time.perf_counter() - t_gen, tree_cpu_s() - c_gen

    from tracing import Layers, Tracer, read_event_log

    import flask_data_pipes_spark.session as session_mod

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(workdir=workdir, inputs=inputs, warmup_inputs=warmup_inputs, tracer=tracer)
    wl = workload_class(args.workload)(ctx)
    cfg = engine_config(workdir, nproc, bool(args.trace))
    if tracer.enabled:
        tracer.install(session_mod, "get_spark", "session.get_spark", "busy")

    spark = None
    try:
        spark = ctx.spark = session_mod.get_spark(cfg)
        wl.warmup()
        # from process start, input generation excluded
        setup_s = time.perf_counter() - T_START - gen_s
        setup_cpu_s = tree_cpu_s() - gen_cpu_s
        if tracer.enabled:
            tracer.sc = spark.sparkContext
            wl.install(tracer)
        results = wl.run(args.seconds)
        rss = peak_rss_mb(spark)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        app_id = spark.sparkContext.applicationId
        import pyspark

        pyspark_version = pyspark.__version__
    finally:
        tracer.uninstall()
        tracer.sc = None
        if spark is not None:
            spark.stop()
        stop_jvm()

    units_ok = [ok for r in results for ok in r.ok]
    attempted, failed = len(units_ok), units_ok.count(False)
    lat = [x for r in results for x in r.latencies_ms]
    ucpu = [x for r in results for x in r.unit_cpu_ms]
    rows = sum(r.rows_in for r in results)
    wall = statistics.median(r.wall_s for r in results)
    # CPU time of the whole process tree: a busy host's stolen time does
    # not count in it, and it moved a run's wall time by up to half
    e2e = {
        "setup_s": setup_s,
        "throughput_rows_per_cpu_s": rows / sum(r.cpu_s for r in results),
        "cpu_p50_ms": statistics.median(ucpu),
        "cpu_p90_ms": p90(ucpu),
        "peak_rss_mb": rss,
    }
    wall_clock = {
        "wall_s": wall,
        "throughput_rows_per_s": rows / sum(r.wall_s for r in results),
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": p90(lat),
    }
    layers = {}
    table = []
    task_share = None
    if tracer.enabled:
        groups, durations = ({}, {})
        log = os.path.join(workdir, "eventlog", app_id)
        if os.path.exists(log):
            groups, durations = read_event_log(log)
        lay = Layers(tracer.spans, groups, durations)
        ctx.add_layer("trace.wall_s", wall)
        for m in SPEC["per_layer"]:
            vals = ctx.layer_values.get(m["name"])
            layers[m["name"]] = (float(statistics.median(vals)) if vals else
                                 float(lay.measure(*m["name"].rsplit(".", 1))))
        table = lay.table()
        task_share = lay.task_ms() / (lay.root_ms() or 1.0)

    load_after = os.getloadavg()
    problems = [p for r in results for p in r.problems]
    record = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        size=args.size, input_digest=inputs["digest"],
        nproc=nproc, master=f"local[{nproc}]", shuffle_partitions=SHUFFLE_PARTITIONS,
        pyspark=pyspark_version, java=java,
        loadavg_before=load_before, loadavg_after=load_after,
        loaded_at_start=load_before[0] > nproc,
        input_generation_s=gen_s, iterations=len(results),
        setup_cpu_s=setup_cpu_s,
        iteration_wall_s=[r.wall_s for r in results], latencies_ms=lat,
        iteration_cpu_s=[r.cpu_s for r in results], unit_cpu_ms=ucpu,
        attempted=attempted, failed=failed, error_rate=failed / max(attempted, 1),
        problems=problems[:50], end_to_end=e2e, wall_clock=wall_clock, per_layer=layers,
        task_share=task_share,
        layer_table=[dict(layer=n, spans=c, self_ms=s, share=sh) for n, c, s, sh in table],
    )
    results_dir = os.path.join(HERE, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if tracer.enabled:
        tracer.write(stem + "-spans.jsonl")
    shutil.rmtree(workdir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} master=local[{nproc}] "
          f"shuffle_partitions={SHUFFLE_PARTITIONS} pyspark={pyspark_version} java={java}")
    print(f"# input digest {inputs['digest'][:16]}  loadavg {load_before[0]:.2f} -> "
          f"{load_after[0]:.2f}{'  (LOADED AT START)' if record['loaded_at_start'] else ''}")
    print(f"# iterations={len(results)} units={attempted} failed={failed} "
          f"error_rate={record['error_rate']:.4f} latency samples={len(lat)}")
    print("# wall clock: " + " ".join(f"{k}={v:.4g}" for k, v in wall_clock.items()))
    for p in problems[:10]:
        print(f"# problem: {p}")
    if task_share is not None:
        print(f"# executor task time / iteration wall time: {task_share:.3f}")
    if table:
        print("# layer                                         spans   self_ms  share")
        for n, c, s, sh in table:
            print(f"# {n:45s} {c:5d} {s:9.1f} {sh:6.1%}")
    values, section = (layers, "per_layer") if tracer.enabled else (e2e, "end_to_end")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in SPEC[section]}
    print(json.dumps(dict(correct=failed == 0, attempted=attempted, failed=failed,
                          metrics=metrics)))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
