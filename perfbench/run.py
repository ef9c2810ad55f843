"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload validate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts a Spark session on
``local[<cores>]``, writes the seed's inputs to parquet under
``.perfbench/`` and is timed as ``setup_s``. Then suite calls run one
after another until ``--seconds`` have passed (at least one call), and
each call's verdicts are checked against DuckDB afterwards.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` instead
makes one call with spans around the benchmark's calls into each
layer, turns on the Spark event log, prints the per-layer metrics and
writes spans and self times to ``.perfbench/traces/``. The last line
of stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

import oracle  # noqa: E402

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "success_frac": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["validate", "corpus_gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--docs", type=int, default=None,
        help="override the workload's input size (smoke tests only)",
    )
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Python, JVM and Spark scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's too, would write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        # a fixed heap and young generation: with both left to resize,
        # the JVM's peak RSS followed GC timing and spread 20% across seeds
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Xms2g -Xmn256m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    # a SIGTERM unwinds like an exception, so the clean-up below runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(args, root, state, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def stop_processes(timeout: float = 60.0) -> None:
    """Stop Spark and wait until every process this run started has
    ended: the JVM, the Python workers it forked and anything else
    below this process. The JVM exits when its stdin closes; whatever
    is still alive after ``timeout`` seconds is killed."""
    import procstat

    proc = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:  # the JVM may already be gone
                traceback.print_exc()
        if SparkContext._gateway is not None:
            try:
                SparkContext._gateway.shutdown()
            except Exception:
                pass
            proc = getattr(SparkContext._gateway, "proc", None)
            SparkContext._gateway = SparkContext._jvm = None
    # the tree before the JVM goes: its orphaned workers leave the tree
    pids = [p for p in procstat.tree_pids() if p != os.getpid()]
    if proc is not None:
        if proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait()
    procstat.wait_ended(pids, timeout)


def bench(args, root: str, state: str, work: str) -> int:
    isolate(work)
    sys.path.insert(0, root)
    try:
        import data_check_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program from {root}: {e}", file=sys.stderr)
        return 2

    import layers
    import procstat
    import sparkstats
    from data_check_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS, materialize, run_suite

    wl = WORKLOADS[args.workload]
    docs = args.docs or wl.docs
    trace = bool(args.trace)
    tracer = Tracer(uuid.uuid4().hex[:12], enabled=trace)
    cores = os.cpu_count() or 1

    with tracer.span("session.get_spark"):
        spark = get_spark(
            "perfbench", master=f"local[{cores}]", extra_conf=spark_conf(work, trace)
        )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    with tracer.span("sources.synth.materialize"):
        paths = materialize(spark, os.path.join(work, "in"), args.seed, docs, wl.needs_v2)
    suite = wl.suite()
    setup_s = time.perf_counter() - T0

    # ---- timed closed loop
    walls, outputs, errors = [], [], 0
    jobs_before = sparkstats.job_ids(sc) if trace else set()
    cpu0, steal0 = procstat.tree_cpu_seconds(), procstat.steal_seconds()
    t_loop = time.perf_counter()
    # a traced run makes exactly one call: its spans are per call
    while not walls or (not trace and time.perf_counter() - t_loop < args.seconds):
        t = time.perf_counter()
        try:
            rows, res = run_suite(spark, suite, paths, tracer, wl.force_violations)
        except Exception:  # a failed call is counted, not fatal
            traceback.print_exc()
            errors += 1
            walls.append(time.perf_counter() - t)
            continue
        walls.append(time.perf_counter() - t)
        outputs.append(rows)
        last = res
    cpu_s = procstat.tree_cpu_seconds() - cpu0
    loop_s = time.perf_counter() - t_loop
    steal_share = (procstat.steal_seconds() - steal0) / (loop_s * cores)
    op_jobs = sparkstats.job_ids(sc) - jobs_before if trace else set()
    peak_mb = procstat.peak_rss_mb(procstat.jvm_pid())

    counts = {}
    if trace:
        counts = {
            f"plans.suite.{k}": float(v)
            for k, v in sparkstats.job_counts(sc, op_jobs).items()
        }
        counts.update(layers.run_layers(
            spark, tracer, args.workload, paths, docs,
            outputs[-1] if outputs else [], work,
        ))
    if outputs:
        last.unpersist()
    # on an exception, main() stops Spark and the JVM instead
    spark.stop()

    # ---- correctness, after the clock
    n_docs = oracle.doc_count(paths["v1"])
    expected = wl.expected(paths)
    failed = errors + count_failures(wl, outputs, expected, state, run_name(args))
    attempted = len(walls)

    if trace:
        volumes = sparkstats.event_log_volumes(os.path.join(work, "eventlog"), op_jobs)
        counts.update({f"plans.suite.{k}": float(v) for k, v in volumes.items()})
        metrics = traced_metrics(tracer, wl, paths, counts)
        write_trace(state, args, tracer, metrics, walls)
    else:
        med = statistics.median(walls)
        values = {
            "docs_per_s": n_docs / med,
            "cpu_s_per_kdoc": cpu_s / (attempted * n_docs / 1000.0),
            "peak_rss_mb": peak_mb,
            "setup_s": setup_s,
            "success_frac": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        save_untraced(state, args, walls)
        print(
            f"perfbench: {args.workload} docs={n_docs} calls={attempted} "
            f"walls={[round(w, 3) for w in walls]} host_steal={steal_share:.1%}",
            file=sys.stderr,
        )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def count_failures(wl, outputs: list, expected: dict, state: str, key: str) -> int:
    """Calls whose verdict rows disagree with the oracle, or with the
    rows an earlier call or run recorded for the same ``key``."""
    failed = 0
    for rows in outputs:
        problems = wl.check(rows, expected) or check_digest(state, key, rows)
        if problems:
            failed += 1
            print(f"perfbench: incorrect verdicts: {problems[:5]}", file=sys.stderr)
    return failed


def check_digest(state: str, key: str, rows: list[tuple]) -> list[str]:
    """Verdict rows of one (workload, seed, size) must be identical
    across calls and runs: the first call records their digest under
    ``.perfbench/verdicts/``, later ones compare against it."""
    d = os.path.join(state, "verdicts")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{key}.sha256")
    digest = oracle.verdict_digest(rows)
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(digest)
        os.replace(tmp, path)
        return []
    with open(path) as f:
        want = f.read().strip()
    return [] if digest == want else [f"verdict digest {digest[:12]} != earlier {want[:12]}"]


def traced_metrics(tracer, wl, paths: dict, counts: dict[str, float]) -> dict:
    """The per-layer table: span walls, input size, fusion ratio and
    the ``counts`` measured around the traced call."""
    from layers import PER_LAYER_UNITS as units

    # every "<layer>_s" metric is the wall time of the spans named <layer>
    values = {k: tracer.total(k[:-2]) for k in units if k.endswith("_s")}
    values["sources.input_mb"] = sum(
        os.path.getsize(os.path.join(d, f))
        for p in paths.values()
        for d, _, names in os.walk(p)
        for f in names
        if f.endswith(".parquet")
    ) / (1024.0 * 1024.0)
    suite_wall = values["plans.suite.run_s"] + values["plans.suite.force_s"]
    values["plans.suite.fusion_ratio"] = suite_wall / sum(
        tracer.total(name) for name in wl.own_layers
    )
    values.update(counts)
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def run_name(args) -> str:
    return f"{args.workload}-s{args.seed}-n{args.docs or 0}"


def save_untraced(state: str, args, walls: list[float]) -> None:
    d = os.path.join(state, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, run_name(args) + ".json"), "w") as f:
        json.dump({"walls": walls}, f)


def write_trace(state: str, args, tracer, metrics: dict, walls: list[float]) -> None:
    """Spans, self times and the per-layer table; plus the tracing
    overhead when an untraced run of the same workload and seed left
    its call walls behind."""
    d = os.path.join(state, "traces")
    os.makedirs(d, exist_ok=True)
    extra = {"workload": args.workload, "seed": args.seed, "per_layer": metrics,
             "traced_walls": walls}
    untraced = os.path.join(state, "results", run_name(args) + ".json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["walls"]
        extra["tracing_overhead_s"] = statistics.median(walls) - statistics.median(base)
    path = os.path.join(d, run_name(args) + ".json")
    tracer.dump(path, extra)
    width = max(len(k) for k in metrics)
    self_s = tracer.self_times()
    for k, m in metrics.items():
        span = k[:-2] if k.endswith("_s") else None
        note = f"  self {self_s[span]:.3f} s" if span in self_s else ""
        print(f"{k:<{width}}  {m['value']:>14.4f} {m['unit']}{note}", file=sys.stderr)
    if "tracing_overhead_s" in extra:
        print(f"tracing overhead: {extra['tracing_overhead_s']:+.3f} s per call",
              file=sys.stderr)
    print(f"spans: {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
