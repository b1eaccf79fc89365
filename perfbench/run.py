#!/usr/bin/env python3
"""Benchmark for duckdb_cluster_hash_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One run generates its inputs from
``--seed`` (nothing outside the checkout is read or written), starts one
``local[nproc]`` Spark session, runs the workload's untimed warm-up passes
(six for ``route_keys``, three for ``pipeline_concurrent``), then runs
timed passes until ``--seconds`` have elapsed (a pass that has started
always finishes).  Every pass first calls the program's
public memo hooks (``clear_shared_cache``, ``release_rank_pins``,
``clear_cut_memo``) so every pass does the same work.  Outputs are checked
against the DuckDB oracles after the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Lines before it print every
named metric of the workload with its unit.  A traced run first runs the
same workload untraced in a child process, to report the tracing overhead.
Details (samples, spans, host noise) go to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import host  # noqa: E402
from workloads import ROUTE_SQL, workloads  # noqa: E402

# Input sizes.  "tiny" is for the self-test only.
SIZES = {
    "full": {"sf": 0.01, "keys": 100_000, "distinct_keys": 8_000},
    "tiny": {"sf": 0.001, "keys": 4_000, "distinct_keys": 1_000},
}
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
# per-layer counts that must repeat exactly between runs of the same code
EXACT_COUNTS = ("plans.build_jobs", "plans.exec_jobs", "memo.entries", "rank.pins")


def load_program() -> SimpleNamespace:
    """Import the program from this checkout; ImportError if it is absent."""
    for path in (ROOT, os.path.join(ROOT, "scripts")):
        if path not in sys.path:
            sys.path.insert(0, path)
    import duckdb_cluster_hash_spark as dch

    if os.path.dirname(os.path.dirname(os.path.abspath(dch.__file__))) != ROOT:
        raise ImportError(f"duckdb_cluster_hash_spark resolved outside {ROOT}")
    import bench
    import check_oracle
    from duckdb_cluster_hash_spark import oracle
    from duckdb_cluster_hash_spark.functions import clusterhash
    from duckdb_cluster_hash_spark.operators import dedup, ranking
    from duckdb_cluster_hash_spark.plans.catalog import ORACLES, QUERIES

    return SimpleNamespace(
        dch=dch, bench=bench, check=check_oracle, oracle=oracle,
        clusterhash=clusterhash, dedup=dedup, ranking=ranking,
        QUERIES=QUERIES, ORACLES=ORACLES,
    )


@dataclass
class Sample:
    pass_id: int
    op: str
    build_s: float
    exec_s: float
    start_ms: float
    end_ms: float
    error: str | None
    result: tuple | None = None
    build_jobs: int = 0
    exec_jobs: int = 0


@dataclass
class Pass:
    pass_id: int
    wall_s: float
    memo_entries: int
    rank_pins: int
    samples: list[Sample]


@dataclass
class Run:
    prog: SimpleNamespace
    spark: object
    workload: object
    sf_dir: str
    keys_path: str
    traced: bool
    spans: list[dict] = field(default_factory=list)
    span_ids: itertools.count = field(default_factory=itertools.count)

    def span(self, name: str, start: float, end: float, parent: str | None, **ids) -> str:
        sid = f"{name}#{next(self.span_ids)}"
        if self.traced:
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "workload": self.workload.name, **ids})
        return sid

    def build(self, op: str):
        if op == "route":
            return self.spark.sql(ROUTE_SQL)
        return self.prog.QUERIES[op](self.spark, self.sf_dir)


def tag(sc, group: str, op: str) -> None:
    """Tag the jobs this thread starts next.  A streaming query started
    here inherits the op property, while Spark gives its micro-batch jobs
    the stream's run id as job group."""
    sc.setJobGroup(group, op)
    sc.setLocalProperty(eventlog.OP_PROPERTY, group)


def run_op(run: Run, pass_id: int, op: str, collect: bool, pass_span: str) -> Sample:
    sc = run.spark.sparkContext
    start_ms = time.time() * 1000
    t0 = t1 = time.perf_counter()
    error, result = None, None
    try:
        tag(sc, eventlog.group_tag(pass_id, op, "build"), op)
        df = run.build(op)
        t1 = time.perf_counter()
        tag(sc, eventlog.group_tag(pass_id, op, "exec"), op)
        if collect:
            rows = [tuple(r) for r in df.collect()]
            types = [f.dataType.simpleString() for f in df.schema.fields]
            result = (df.columns, types, rows)
        else:
            df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 -- a failing query is counted, the run goes on
        error = f"{type(exc).__name__}: {exc}"[:400]
        if t1 == t0:
            t1 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty(eventlog.OP_PROPERTY, None)
    t2 = time.perf_counter()
    op_span = run.span("op", t0, t2, pass_span, pass_id=pass_id, op=op)
    run.span("plans.build", t0, t1, op_span, pass_id=pass_id, op=op)
    run.span("plans.exec", t1, t2, op_span, pass_id=pass_id, op=op)
    return Sample(pass_id, op, t1 - t0, t2 - t1, start_ms, time.time() * 1000, error, result)


def run_pass(run: Run, pass_id: int, collect: bool) -> Pass:
    t0 = time.perf_counter()
    memo = run.prog.dedup.clear_shared_cache()
    pins = run.prog.ranking.release_rank_pins()
    run.prog.ranking.clear_cut_memo()
    pass_span = f"pass#{pass_id}"
    ops = run.workload.ops
    if run.workload.clients == 1:
        samples = [run_op(run, pass_id, op, collect, pass_span) for op in ops]
    else:
        with ThreadPoolExecutor(max_workers=run.workload.clients) as ex:
            samples = list(ex.map(lambda op: run_op(run, pass_id, op, collect, pass_span), ops))
    t1 = time.perf_counter()
    run.span("pass", t0, t1, None, pass_id=pass_id)
    return Pass(pass_id, t1 - t0, memo, pins, samples)


def session_conf(cpus: int, work: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "perfbench",
        # the bench.py settings, with a heap sized for the benchmark's inputs
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.scheduler.mode": "FAIR",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def wait_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def oracle_con(prog: SimpleNamespace, sf_dir: str, keys_path: str):
    import duckdb

    con = duckdb.connect()
    for t in prog.check.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{path}')")
    if os.path.exists(keys_path):
        con.execute(f"CREATE VIEW keys AS FROM read_parquet('{keys_path}/*.parquet')")
    return con


def route_oracle_sql(prog: SimpleNamespace) -> str:
    # slot per DISTINCT key, weighted by its row count: same totals, and the
    # byte-at-a-time SQL CRC runs once per distinct key
    node, slot = prog.oracle.node_sql("k"), prog.oracle.slot_sql("k")
    return (
        "SELECT node, CAST(sum(c) AS BIGINT) AS n, CAST(sum(c * slot) AS BIGINT) AS slot_sum "
        f"FROM (SELECT {node} AS node, {slot} AS slot, c "
        "FROM (SELECT k, count(*) AS c FROM keys GROUP BY k)) GROUP BY node"
    )


def oracle_rows(con, sql: str) -> tuple:
    rel = con.sql(sql)
    return [d[0] for d in rel.description], [str(t) for t in rel.types], rel.fetchall()


def mismatch(prog, expected: tuple, result: tuple, check_types: bool) -> str | None:
    """Why ``result`` differs from the oracle's, or None when it matches.

    The same comparison as ``scripts/check_oracle.py``: column names,
    declared types, row count, then order-insensitive normalized values.
    """
    cols, types, rows = result
    ocols, otypes, orows = expected
    if sorted(cols) != sorted(ocols):
        return f"schema: {sorted(cols)} vs oracle {sorted(ocols)}"
    if check_types:
        diffs = prog.check.type_problems(cols, types, ocols, otypes)
        if diffs:
            return "types differ: " + "; ".join(diffs)
    if len(rows) != len(orows):
        return f"rowcount: {len(rows)} vs oracle {len(orows)}"
    if prog.check.normalize(rows, cols) != prog.check.normalize(orows, ocols):
        return "values differ"
    return None


def check_outputs(run: Run, passes: list[Pass]) -> list[str]:
    """One line per failed operation: it raised, or its collected rows
    differ from the oracle's.  Noop-sink operations are checked only for
    raising; their queries' rows are checked in the first untimed pass."""
    prog = run.prog
    con = oracle_con(prog, run.sf_dir, run.keys_path)
    oracle_sql = {"route": route_oracle_sql(prog)}
    expected: dict[str, tuple] = {}
    failures: list[str] = []
    for p in passes:
        for s in p.samples:
            why = s.error
            if why is None and s.result is not None:
                try:
                    if s.op not in expected:
                        sql = oracle_sql.get(s.op) or prog.ORACLES[s.op]
                        expected[s.op] = oracle_rows(con, sql)
                    why = mismatch(prog, expected[s.op], s.result, check_types=s.op != "route")
                except Exception as exc:  # noqa: BLE001 -- an oracle failure fails the check
                    why = f"oracle raised {type(exc).__name__}: {exc}"[:300]
            if why:
                failures.append(f"pass {p.pass_id} {s.op}: {why}")
    con.close()
    return failures


def kernel_metrics(run: Run) -> tuple[dict[str, float], list[str]]:
    """Time the hashing kernel alone on the staged keys, driver-side and in Spark."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ch = run.prog.clusterhash
    keys = pq.read_table(run.keys_path).column("k").to_pandas()
    times, slots = [], None
    for _ in range(3):
        t0 = time.perf_counter()
        slots = ch.slot_batch(keys)
        times.append(time.perf_counter() - t0)
        run.span("clusterhash.slot_batch", t0, t0 + times[-1], None, op="kernel")
    batch_sum = int(slots.sum())
    frame = run.spark.read.parquet(run.keys_path).select(
        F.sum(ch.cluster_slot_col("k")).alias("s")
    )
    native, native_sum = [], None
    for _ in range(2):
        t0 = time.perf_counter()
        native_sum = frame.collect()[0]["s"]
        native.append(time.perf_counter() - t0)
        run.span("clusterhash.native_slot", t0, t0 + native[-1], None, op="kernel")
    failures = []
    if batch_sum != native_sum:
        failures.append(f"kernel: slot_batch sum {batch_sum} != native sum {native_sum}")
    return {
        "clusterhash.slot_batch.keys_per_s": len(keys) / statistics.median(times),
        "clusterhash.native_slot.keys_per_s": len(keys) / min(native),
    }, failures


def per_pass_median(values: list[float]) -> float:
    return statistics.median_low(values) if values else 0.0


def untraced_wall(args: argparse.Namespace) -> float:
    """wall_s of the same workload run untraced in a child process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--size", args.size]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
                         check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def measure(args: argparse.Namespace, prog: SimpleNamespace) -> dict:
    size = SIZES[args.size]
    cpus = len(os.sched_getaffinity(0))
    wl = workloads(cpus)[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=base)
    try:
        return measure_in(work, out_dir, args, prog, wl, size, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure_in(work: str, out_dir: str, args: argparse.Namespace, prog: SimpleNamespace,
               wl, size: dict, cpus: int) -> dict:
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub))
    # every temp file of this process, the JVM and its Python workers lands in work/
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    jiffies0, load_start = host.cpu_jiffies(), host.load1()
    probe_pre = prog.bench._cpu_probe_ms()
    spark = None
    try:
        t_setup = time.perf_counter()
        sf_dir = os.path.join(work, "data")
        keys_path = os.path.join(work, "keys")
        if wl.name == "route_keys":
            inputs = datagen.write_keys(keys_path, args.seed, size["keys"], size["distinct_keys"])
        else:
            inputs = datagen.write_corpus(sf_dir, args.seed, size["sf"])
        t_gen = time.perf_counter()
        event_dir = os.path.join(work, "events") if args.trace else None
        spark = start_session(session_conf(cpus, work, event_dir))
        t_session = time.perf_counter()
        run = Run(prog, spark, wl, sf_dir, keys_path, bool(args.trace))
        if wl.name == "route_keys":
            prog.dch.register_all(spark)
            spark.read.parquet(keys_path).createOrReplaceTempView("keys")
        # Untimed passes (pass ids 1 - warmups .. 0): the first, collected
        # for the output checks, runs 3-6x slower than later ones in a fresh
        # JVM, and the next few still run 10-30% slower than the passes after.
        first = 1 - wl.warmups
        untimed = [run_pass(run, first, collect=True)]
        untimed += [run_pass(run, i, collect=wl.sink == "collect") for i in range(first + 1, 1)]
        setup_s = time.perf_counter() - t_setup

        passes: list[Pass] = []
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            passes.append(run_pass(run, len(passes) + 1, collect=wl.sink == "collect"))

        wait_listener_bus(spark)
        for p in passes:
            for s in p.samples:
                s.build_jobs = jobs_in_group(spark, eventlog.group_tag(p.pass_id, s.op, "build"))
                s.exec_jobs = jobs_in_group(spark, eventlog.group_tag(p.pass_id, s.op, "exec"))
        failures = check_outputs(run, untimed + passes)
        layer: dict[str, float] = {}
        kernel_checks = 0
        if args.trace:
            if wl.name == "route_keys":
                kernel, kernel_failures = kernel_metrics(run)
                layer.update(kernel)
                failures += kernel_failures
                kernel_checks = 1
            layer["jvm.peak_rss_mb"] = host.vm_hwm_mb(
                spark.sparkContext._jvm.ProcessHandle.current().pid()
            )
    finally:
        if spark is not None:
            stop_session(spark)
    probe_post = prog.bench._cpu_probe_ms()
    jiffies1, load_end = host.cpu_jiffies(), host.load1()

    timed = [s for p in passes for s in p.samples]
    latencies = sorted(s.build_s + s.exec_s for s in timed)
    walls = [p.wall_s for p in passes]
    # one operation per op execution in any pass, plus the traced kernel check
    attempted = sum(len(p.samples) for p in untimed + passes) + kernel_checks
    failed = len(failures)
    metrics = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "query_p50_s": statistics.median(latencies),
    }
    extra = {"failed_frac": (failed / attempted, "ratio")}
    if wl.name == "route_keys":
        extra["keys_per_s"] = (size["keys"] * len(passes) / sum(walls), "keys/s")
    if len(latencies) >= 100:
        extra["query_p90_s"] = (statistics.quantiles(latencies, n=10)[-1], "s")

    if args.trace:
        layer.update(eventlog.fold(
            _event_log(work),
            [eventlog.OpWindow(s.pass_id, s.op, s.start_ms, s.end_ms)
             for p in untimed + passes for s in p.samples],
            len(passes),
        ))
        layer.update({
            "plans.build_s": per_pass_median([sum(s.build_s for s in p.samples) for p in passes]),
            "plans.exec_s": per_pass_median([sum(s.exec_s for s in p.samples) for p in passes]),
            "plans.build_jobs": per_pass_median([sum(s.build_jobs for s in p.samples) for p in passes]),
            "plans.exec_jobs": per_pass_median([sum(s.exec_jobs for s in p.samples) for p in passes]),
            "memo.entries": per_pass_median([p.memo_entries for p in passes]),
            "rank.pins": per_pass_median([p.rank_pins for p in passes]),
            "host.steal_frac": host.steal_frac(jiffies0, jiffies1),
            "host.load1": load_start,
            "trace.overhead_frac": metrics["wall_s"] / args.untraced_wall - 1.0,
        })
        for name in PER_LAYER:
            layer.setdefault(name, 0.0)

    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "cpus": cpus, "inputs": inputs,
        "passes": [{"pass": p.pass_id, "wall_s": p.wall_s, "memo_entries": p.memo_entries,
                    "rank_pins": p.rank_pins,
                    "samples": [{k: v for k, v in vars(s).items() if k != "result"}
                                for s in p.samples]} for p in untimed + passes],
        "failures": failures,
        "setup_parts": {"inputs_s": t_gen - t_setup, "session_s": t_session - t_gen,
                        "untimed_passes_s": [p.wall_s for p in untimed]},
        "host": {"load1_start": load_start, "load1_end": load_end,
                 "steal_frac": host.steal_frac(jiffies0, jiffies1),
                 "cpu_probe_ms_pre": probe_pre, "cpu_probe_ms_post": probe_post},
        "metrics": metrics, "extra": {k: v[0] for k, v in extra.items()}, "layer": layer,
        "spans": run.spans,
    }
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    return {
        "workload": wl, "inputs": inputs, "passes": passes, "samples": len(timed),
        "attempted": attempted, "failed": failed, "failures": failures,
        "metrics": metrics, "extra": extra, "layer": layer, "host": detail["host"],
    }


def _event_log(work: str) -> str:
    events = os.path.join(work, "events")
    (name,) = [n for n in os.listdir(events) if not n.startswith(".")]
    return os.path.join(events, name)


def main(argv: list[str] | None = None) -> int:
    names = list(workloads(1))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    try:
        prog = load_program()
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    args.untraced_wall = untraced_wall(args) if args.trace else None
    res = measure(args, prog)

    wl = res["workload"]
    print(f"# workload {wl.name}: clients={wl.clients} ops/pass={len(wl.ops)} "
          f"timed passes={len(res['passes'])} samples={res['samples']} "
          f"inputs={json.dumps(res['inputs'])}")
    print(f"# host: {json.dumps(res['host'])}")
    for failure in res["failures"]:
        print(f"# FAILED {failure}")
    for name, value in res["metrics"].items():
        print(f"# {name} = {value:.6g} {END_TO_END[name]}")
    for name, (value, unit) in res["extra"].items():
        print(f"# {name} = {value:.6g} {unit}")
    for name, value in res["layer"].items():
        print(f"# {name} = {value:.6g} {PER_LAYER[name]}")
    if args.trace:
        shown = {k: {"value": res["layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        shown = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": shown,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
