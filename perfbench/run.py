"""End-to-end and per-layer benchmark of the db_spark engine.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in this process on
``local[nproc / 2]`` with one closed-loop client, checks every result, and
prints the metrics, a human-readable block first and, as the last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``setup_s`` is the session start plus the median of three set-ups of
the workload; the op metrics come from one timed window of whole passes
(or cycles) lasting at least ``--seconds`` of op time.

With ``--trace 0`` the JSON metrics are the end-to-end ones. With
``--trace 1`` that window is followed by an untraced and a traced
window, each from a fresh set-up; the traced one opens a span around
every public call into the program's modules, and the JSON metrics are
the per-layer ones, including the tracing overhead (traced minus
untraced mean op time). Spans are written to ``.perfbench-spans/``.
Exits non-zero when any result is wrong or the program is not found.

The inputs are the repository's test tables (TESTDATA.md), committed
unchanged under ``perfbench/data``: sf0.1 for the workloads, sf0.001
for the calibration probe and the smoke tests. The seed only orders the
operations. A per-run directory inside the checkout holds the MVCC
stores and Spark's scratch space and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
PROBE_DATA = os.path.join(HERE, "data", "sf0.001")
SETUP_REPS = 3
SPANS_DIR = os.path.join(REPO, ".perfbench-spans")

END_TO_END = ("setup_s", "op_p50_s", "op_tail_s", "ops_per_s")


def _session(work: str):
    from db_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the cores; the rest run the client, the JVM's
    # driver, GC and JIT threads. On a shared 4-core host this ran
    # olap_read and mvcc_mixed as fast as local[nproc] with about half
    # the run-to-run spread, and llm_pipeline ~5% slower.
    cpus = max(1, nproc // 2)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # codegen on, as in the driver session (the test session turns it off)
        "spark.sql.codegen.wholeStage": "true",
        "spark.sql.codegen.factoryMode": "FALLBACK",
        "spark.driver.memory": "8g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf=conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc, cpus, elapsed


def _calibration_probe(spark, probe_dir: str) -> float:
    """Fastest of three re-executions of a prepared tiny aggregate: a
    host-health signal (a slow probe means contended cores), after the
    style of the repository's bench.py probe."""
    import __spark_entry__ as entry

    df = entry.q_pricing_summary(spark, probe_dir)
    df.collect()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.collect()
        samples.append(time.perf_counter() - t0)
    return min(samples)


def _layers():
    import db_spark.conditions
    import db_spark.engine
    import db_spark.llm.corpus
    import db_spark.llm.dedup
    import db_spark.llm.similarity
    import db_spark.llm.text
    import db_spark.matview
    import db_spark.ops
    import db_spark.optimizer
    import db_spark.plans
    import db_spark.session
    import db_spark.sources
    import db_spark.table

    m = sys.modules
    return {name: m["db_spark." + mod] for name, mod in (
        ("session", "session"), ("sources", "sources"), ("ops", "ops"),
        ("conditions", "conditions"), ("optimizer", "optimizer"),
        ("plans", "plans"), ("table", "table"), ("engine", "engine"),
        ("matview", "matview"), ("llm.dedup", "llm.dedup"),
        ("llm.similarity", "llm.similarity"), ("llm.corpus", "llm.corpus"),
        ("llm.text", "llm.text"))}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _p(xs, p) -> float:
    from stats import percentile

    return percentile(xs, p) if xs else 0.0


def mvcc_metrics(ops, space: dict) -> dict:
    """The MVCC-specific user-visible figures of one window."""
    txns = [o.attrs["txn_s"] for o in ops if "txn_s" in o.attrs]
    reads = [o.seconds for o in ops if o.kind == "read"]
    writes = [o for o in ops if o.kind == "write"]
    return {
        "tx_p50_s": statistics.median(txns), "tx_tail_s": _p(txns, 90),
        "read_p50_s": statistics.median(reads), "read_tail_s": _p(reads, 90),
        "refresh_p50_s": statistics.median(o.seconds for o in ops if o.kind == "refresh"),
        "write_rows_per_s": sum(o.rows_written for o in writes)
        / sum(o.seconds for o in writes),
        "space_amp": space["log_bytes"] / space["live_bytes"],
    }


def end_to_end(ops, setup_s) -> dict:
    """The tail and the throughput count each op at the median time of
    its kind (its name) in the window: a host stall that hits a few ops
    then moves them no more than it moves the median. An op kind that
    gets slower in most of its runs moves both."""
    from stats import kind_medians, tail_mean

    secs = [o.seconds for o in ops]
    typical = kind_medians([o.name for o in ops], secs)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(secs),
        "op_tail_s": tail_mean(typical),
        "ops_per_s": len(ops) / sum(typical),
    }


def layer_metrics(tracer, ops, workload, space) -> tuple[dict, list[str]]:
    """Per-layer figures of a traced window (``space``: the MVCC store's
    log usage after it, None for other workloads), and any op whose
    summed span self times exceed its wall time."""
    from spans import self_times

    spans = [s for s in tracer.spans if s.op is not None]
    selfs = self_times(spans)
    by_sid = {s.sid: s for s in spans}
    n = len(ops)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def jobs(s, field="jobs", inclusive=True):
        own = getattr(s.attrs["jobs"], field)
        if not inclusive:
            return own
        return own + sum(jobs(c, field) for c in kids.get(s.sid, ()))

    def named(name):
        return [s for s in spans if s.name == name]

    def outermost(name):
        return [s for s in named(name) if by_sid.get(s.parent) is None
                or by_sid[s.parent].name != name]

    def layer_self(layer):
        return sum(selfs[s.sid] for s in spans if s.layer == layer) / n

    def layer_jobs(layer):
        return sum(jobs(s, inclusive=False) for s in spans if s.layer == layer) / n

    problems = []
    for op in ops:
        total = sum(selfs[s.sid] for s in spans if s.op == by_sid[op.span].op)
        if total > op.seconds + 1e-6:
            problems.append(f"op {op.name}: span self times {total:.6f}s > wall {op.seconds:.6f}s")

    q = [o for o in ops if o.kind == "query" and "noop_s" in o.attrs]
    exec_spans = named("exec")
    build_spans = named("build")
    scans = named("table.Collection.table_scan")
    hits = [s for s in scans if s.attrs.get("hit")]
    m = {
        "sources.read_table_s": _mean(s.duration for s in named("sources.read_table")),
        "sources.read_table_jobs": _mean(jobs(s) for s in named("sources.read_table")),
        "ops.self_s": layer_self("ops"),
        "conditions.to_column_s": sum(
            s.duration for s in outermost("conditions.Condition.to_column")) / n,
        "optimizer.optimize_s": sum(s.duration for s in outermost("optimizer.optimize")) / n,
        "build.s": _mean(s.duration for s in build_spans),
        "build.jobs": _mean(jobs(s) for s in build_spans),
        "llm.dedup.self_s": layer_self("llm.dedup"),
        "llm.dedup.jobs": layer_jobs("llm.dedup"),
        "llm.similarity.self_s": layer_self("llm.similarity"),
        "llm.similarity.jobs": layer_jobs("llm.similarity"),
        "llm.corpus.self_s": layer_self("llm.corpus"),
        "llm.text.self_s": layer_self("llm.text"),
        "exec.s": _mean(o.attrs["noop_s"] for o in q),
        "exec.jobs": _mean(jobs(s) for s in exec_spans),
        "exec.stages": _mean(jobs(s, "stages") for s in exec_spans),
        "exec.tasks": _mean(jobs(s, "tasks") for s in exec_spans),
        "exec.failed_tasks": sum(jobs(s, "failed_tasks", False) for s in spans) / n,
        "fetch.s": _mean(o.attrs["action_s"] - o.attrs["noop_s"] for o in q),
        "fetch.rows": _mean(o.attrs["fetch_rows"] for o in q),
        "fetch.bytes": _mean(o.attrs["fetch_bytes"] for o in q),
        "plans.exchanges": _mean(o.attrs["exchanges"] for o in q),
        "table.set_objects_s": _mean(s.duration for s in named("table.Collection.set_objects")),
        "table.delete_where_s": _mean(s.duration for s in named("table.Collection.delete_where")),
        "table.commit_s": _mean(s.duration for s in named("table.Collection.commit")),
        "table.table_scan_miss_s": _mean(s.duration for s in scans if not s.attrs.get("hit")),
        "table.table_scan_hit_s": _mean(s.duration for s in hits),
        "table.snapshot_hit_ratio": len(hits) / len(scans) if scans else 0.0,
        "table.scan_at_position_s": _mean(
            s.duration for s in named("table.Collection.scan_at_position")),
        "engine.maintain_s": _mean(s.duration for s in named("engine.Storage.maintain")),
        "engine.transaction_s": _mean(o.seconds for o in ops if o.attrs.get("storage_txn")),
        "matview.refresh_s": _mean(
            s.duration for s in named("matview.IncrementalAggView.refresh")),
    }
    mvcc = space is not None
    m.update({
        "table.log_files": space["log_files"] if mvcc else 0,
        "table.log_bytes": space["log_bytes"] if mvcc else 0,
        "table.bytes_written_per_user_byte":
            workload.bytes_written / workload.user_bytes if mvcc else 0.0,
        "engine.compactions": workload.compactions if mvcc else 0,
        "engine.bytes_rewritten": workload.bytes_rewritten if mvcc else 0,
    })
    return m, problems


def run(args, work: str, data_dir: str = DATA,
        spans_dir: str = SPANS_DIR) -> tuple[dict, list[str], bool]:
    """Run ``args.workload`` on the tables in ``data_dir`` with its
    scratch space under ``work`` (a traced run writes its spans to
    ``spans_dir``); returns (result object, human-readable lines,
    correct)."""
    import duckdb
    from spans import Tracer
    from stats import peak_rss_mb
    from workloads import WORKLOADS, Recorder

    spark, nproc, cpus, get_spark_s = _session(work)
    workload = WORKLOADS[args.workload](spark, data_dir, args.seed, os.path.join(work, "wl"))
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        workload.setup(rep)
        setups.append(time.perf_counter() - t0)
    setup_s = get_spark_s + statistics.median(setups)

    warm, untraced = Recorder(), Recorder()
    workload.warmup(warm)
    workload.run(untraced, args.seconds)
    problems = workload.final_checks()
    is_mvcc = args.workload == "mvcc_mixed"
    extra, space = {}, None
    if is_mvcc:
        space = workload.space()
        extra.update(mvcc_metrics(untraced.ops, space))
    probe_s = _calibration_probe(spark, PROBE_DATA)
    extra["peak_rss_mb"] = peak_rss_mb(
        [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()])

    n = len(untraced.ops)
    inputs_mb, storage_mb = _dir_bytes(data_dir) / 2**20, _storage_mb(spark)
    lines = [
        f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}",
        f"host nproc {nproc}, Spark {spark.version} on local[{cpus}], "
        f"DuckDB {duckdb.__version__}, "
        f"calibration probe {probe_s:.4f} s (quiet host ~0.01-0.05 s)",
        f"inputs {inputs_mb:.1f} MB parquet in {os.path.relpath(data_dir, REPO)}; "
        f"driver storage memory "
        f"{storage_mb:.0f} MB (inputs {'fit' if inputs_mb < storage_mb else 'do not fit'})",
        f"ops {n} in {untraced.busy:.2f} s busy after {len(warm.ops)} warm-up ops; "
        f"{len({o.name for o in untraced.ops})} op kinds; op_tail_s = mean of the slowest "
        f"{max(1, n // 5)}, and ops_per_s = ops / their summed time, each op taken at the "
        "median time of its kind"]
    if is_mvcc:
        lines.append(f"mvcc: {workload.txn} transactions, {workload.compactions} compactions, "
                     f"{space['log_files']} log files, {space['log_bytes']} log bytes, "
                     f"{space['live_bytes']} live bytes")
    ops = warm.ops + untraced.ops
    layer = None
    if args.trace:
        # The overhead compares the traced window with an untraced one
        # run just before it; both start from a fresh set-up, so they
        # see the same store state and the same (warmer) JIT.
        workload.setup(SETUP_REPS)
        baseline = Recorder()
        workload.run(baseline, args.seconds)
        problems += workload.final_checks()
        workload.setup(SETUP_REPS + 1)
        tracer = Tracer(spark)
        tracer.install(_layers())
        traced = Recorder(tracer)
        tracer.active = True
        workload.run(traced, args.seconds, traced=True)
        tracer.active = False
        problems += workload.final_checks()
        ops += baseline.ops + traced.ops
        if is_mvcc:
            space = workload.space()
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(spans_path)
        layer, span_problems = layer_metrics(tracer, traced.ops, workload, space)
        problems += span_problems
        layer["session.get_spark_s"] = get_spark_s
        layer["trace.overhead_s"] = (_mean(o.seconds for o in traced.ops)
                                     - _mean(o.seconds for o in baseline.ops))
        layer["host.probe_s"] = probe_s
        lines.append(f"spans written to {spans_path}")
        lines.append("trace coverage (wrapped names reached / wrapped): " + ", ".join(
            f"{k} {h}/{t}" for k, (h, t) in sorted(tracer.coverage().items())))
        lines.append(f"trace overhead {layer['trace.overhead_s']:.4f} s per op "
                     "(traced mean op minus the mean op of an untraced window just before)")

    failed = [o for o in ops if not o.ok]
    extra["error_rate"] = len(failed) / len(ops)
    metrics = end_to_end(untraced.ops, setup_s)
    for k, v in list(metrics.items()) + list(extra.items()):
        lines.append(f"  {k} = {v:.6g} {_unit(k)}")
    lines += [f"FAILED {o.kind} {o.name}: {o.attrs.get('error')}" for o in failed[:10]]
    lines += [f"FAILED check: {p}" for p in problems]
    if layer is not None:
        for k in MVCC_E2E:
            layer["mvcc." + k] = extra.get(k, 0.0)
        layer["error_rate"] = extra["error_rate"]
        layer["peak_rss_mb"] = extra["peak_rss_mb"]
        with open(os.path.join(HERE, "layer_map.json")) as fh:
            moves = json.load(fh)["moves"]
        lines.append("per-layer metrics (-> the end-to-end metric each should move, and where):")
        for k, v in sorted(layer.items()):
            target = moves.get(k)
            note = (f" -> {', '.join(target['end_to_end'])} on {', '.join(target['workloads'])}"
                    if target else "")
            lines.append(f"  {k} = {v:.6g} {_unit(k)}{note}")
        metrics = layer
    correct = not failed and not problems
    result = {
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed) + len(problems),
        "metrics": {k: {"value": float(v), "unit": _unit(k)} for k, v in sorted(metrics.items())},
    }
    workload.close()
    spark.stop()
    return result, lines, correct


MVCC_E2E = ("tx_p50_s", "tx_tail_s", "read_p50_s", "read_tail_s", "refresh_p50_s",
            "write_rows_per_s", "space_amp")
UNITS = {"ops_per_s": "ops/s", "peak_rss_mb": "MB", "write_rows_per_s": "rows/s",
         "space_amp": "ratio", "error_rate": "ratio", "snapshot_hit_ratio": "ratio",
         "bytes_written_per_user_byte": "ratio", "log_bytes": "bytes",
         "bytes_rewritten": "bytes", "bytes": "bytes"}


def _unit(name: str) -> str:
    """Unit of a metric, from the last part of its name."""
    last = name.rsplit(".", 1)[-1]
    if last in UNITS:
        return UNITS[last]
    return "s" if last == "s" or last.endswith("_s") else "count"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def _storage_mb(spark) -> float:
    """Storage memory of the (local-mode, single) block manager."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    return status.values().head()._1() / 2**20


def _stop_jvm() -> None:
    """Stop the JVM the session launched and wait until it has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        proc.wait(timeout=60)


def main(argv=None) -> int:
    if not all(os.path.exists(os.path.join(REPO, p)) for p in (
            "db_spark", "__spark_entry__.py", os.path.join("scripts", "check_oracle.py"))):
        print(f"perfbench: the db_spark program is not next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run, too, stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=REPO)
    # Python temp files and Spark's scratch space stay in the checkout
    # (the environment variable would override spark.local.dir).
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result, lines, correct = run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
