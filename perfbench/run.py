"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tile_skew --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout on local[4]. Workloads:

- tile_skew: pages -> build_tiling -> rollup, tiles -> tileset.json
  (perfbench/tile.py);
- query_mix: a seed-shuffled closed loop over oracle-checked operator
  queries (perfbench/query.py).

Both are closed loops with one client. Set-up (JVM and session, inputs,
warm-up, oracles) is timed as `setup_s`; then whole operations run until
`--seconds` have passed and at least the workload's minimum count is done.
Every output is checked; a failed check or a raised error is counted in
`failed`, never fatal. `--trace 1` prints the per-layer metrics instead of
the end-to-end ones (see perfbench/README.md).
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
HEAP = "2g"
GUARD_WAIT_S = 20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("tile_skew", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str, traced: bool) -> None:
    """Everything Spark and its Python workers write stays in `run_dir`;
    the workers import the engine from this checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the benchmarked default of bench.py: the JVM heap is faulted in once
    # at start-up, which set-up time therefore includes
    os.environ["SPARK_GRAFT_PRETOUCH"] = "1"
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    if traced:
        os.environ["SPARK_GRAFT_EVENT_LOG_DIR"] = os.path.join(run_dir, "eventlog")


def measure(wl, seconds: float, rss, probe, tracer=None):
    """Whole units (a build, a pass) until `seconds` have passed and at
    least `wl.min_units` untraced units are done. Returns the latencies of
    each untraced and each traced unit, and the host probe taken before
    each unit. With a `tracer`, units alternate untraced and traced, so
    both see the same warm-up drift."""
    plain, traced, probes = [], [], []
    untraced_tracer = wl.tracer
    t_end = time.monotonic() + seconds
    units = 0
    while units < wl.min_units * (2 if tracer else 1) or time.monotonic() < t_end:
        on = tracer is not None and units % 2 == 1
        wl.tracer = tracer if on else untraced_tracer
        probes.append(probe())
        with rss:
            (traced if on else plain).append(wl.unit())
        units += 1
    wl.tracer = untraced_tracer
    return plain, traced, probes


def stop_spark(spark, procs) -> list[int]:
    """Stop the session and the JVM behind it, and wait for every process
    the run started (JVM, Python workers). Returns pids that had to be
    killed."""
    from pyspark import SparkContext
    started = procs.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()       # the JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:        # noqa: BLE001 - killed below either way
            proc.kill()
            proc.wait()
    return procs.wait_gone(started, timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "py3dtiles_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository "
              "(py3dtiles_spark/ not found next to perfbench/)", file=sys.stderr)
        return 2
    import procs
    deadline = time.monotonic() + GUARD_WAIT_S
    while (others := procs.spark_jvms()) and time.monotonic() < deadline:
        time.sleep(1)
    if others:
        print(f"perfbench: another Spark JVM is running (pids {others}); "
              "refusing to measure next to it", file=sys.stderr)
        return 3

    run_dir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)

    import spans
    from bench import _sentinel
    from py3dtiles_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.monotonic() - T_START
    killed: list[int] = []
    try:
        if args.workload == "tile_skew":
            from tile import TileSkew as Workload
        else:
            from query import QueryMix as Workload
        plain = spans.Tracer()
        wl = Workload(spark, args.seed, run_dir, plain)
        t_inputs = time.monotonic() - T_START
        wl.warmup()
        setup_s = time.monotonic() - T_START
        warm = [sp["end"] - sp["start"] for sp in plain.spans if sp["parent"] is None]
        rss = procs.PeakRss()
        # traced runs: the untraced units are the baseline for the
        # overhead; the event log is on for both
        tracer = spans.Tracer(spark.sparkContext) if args.trace else None
        steal0 = procs.cpu_ticks()
        plain_units, traced_units, sentinel = measure(wl, args.seconds, rss,
                                                      _sentinel, tracer)
        steal1 = procs.cpu_ticks()
        if args.trace:
            layer = wl.layer_metrics(tracer)
    finally:
        killed = stop_spark(spark, procs)

    # the figures come from the first min_units units only, so a faster
    # program that fits more units into --seconds still reports the same
    # statistic
    lat = [x for u in plain_units[:wl.min_units] for x in u]
    traced_lat = [x for u in traced_units[:wl.min_units] for x in u]
    if not lat:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    summary = wl.summary()
    diag = {"workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "cores": CORES, "session_s": t_session, "inputs_s": t_inputs - t_session,
            "warmup_s": setup_s - t_inputs, "warmup_spans": warm,
            "unit_latencies": plain_units, "traced_unit_latencies": traced_units,
            "fresh_page_gbps": sentinel,
            "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "summary": summary,
            "attempted": wl.attempted, "failed": wl.failures, "killed": killed}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.trace:
        labels = ("tiling.build", "tileset", "query")
        log = spans.event_log_file(os.environ["SPARK_GRAFT_EVENT_LOG_DIR"])
        layer.update(spans.spark_by_label(
            log, labels, {lb: tracer.label_wall(lb) for lb in labels},
            {lb: sum(map(len, traced_units)) for lb in wl.labels}, CORES))
        layer["host.fresh_page_gbps"] = statistics.median(sentinel)
        layer["wall.ops_per_s"] = summary["ops_per_s"]
        layer["wall.op_p50_s"] = summary["op_p50_s"]
        layer["trace.op_p50_s"] = statistics.median(traced_lat)
        layer["trace.overhead_s"] = layer["trace.op_p50_s"] - statistics.median(lat)
        if abs(layer["trace.coverage"] - 1) > 0.1:
            print(f"perfbench: layer self times sum to {layer['trace.coverage']:.1%} "
                  "of the untraced operation wall, not within 10%", file=sys.stderr)
        tracer.write(os.path.join(run_dir, "spans.json"))
        values, names = layer, declared["per_layer"]
    else:
        values = {"setup_s": setup_s, **summary, "peak_rss_mb": rss.peak / 2**20}
        names = declared["end_to_end"]
    # a layer this workload does not reach reports 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": wl.failures == 0, "attempted": wl.attempted,
                      "failed": wl.failures, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
