"""Benchmark for data_integration_project_spark.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Run from the repository root. One process drives one ``local[4]``
session through the package's public entry points, as one closed-loop
client: each operation starts when the previous one has finished.
Inputs are built from ``--seed`` under ``.perfbench/`` in the current
directory. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Workloads, metrics and layers are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # benchmark modules, then the repo

import procstat  # noqa: E402

STEAL_AT_START = procstat.steal_seconds()

import datagen  # noqa: E402
from tests.oracle_harness import _norm, duck_connection  # noqa: E402

#: fixture data for the catalog workloads does not depend on --seed (the
#: seed orders the queries), so it is built once per checkout and reused
TABLE_SEED = 20240101
GROUP_PREFIX = "perfbench-"
CPUS = "4"
DRIVER_MEM = "2g"

#: scan/shuffle/join queries with no Python stage
CATALOG_SQL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "orders_grouping_sets",
    "star_revenue_by_region",
]
#: queries whose cost sits in a Python/Arrow stage
CATALOG_PYTHON = [
    "multimodal_ppm_decode",
    "multimodal_tga_decode",
]
WORKLOADS = {
    # two passes at least, so that every run times the same mix of the
    # second (still warming) and later passes
    "catalog": {"scale": 1.0, "queries": CATALOG_SQL + CATALOG_PYTHON, "min_passes": 2},
    # one batch is the reference corpus (datagen.ETL_REF) times k
    "etl_pipeline": {"k": 1, "min_passes": 1},
}
ANCHOR = "q1_pricing_summary"


def log(msg: str) -> None:
    print(f"# {process_age_s():6.1f}s {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (/proc start time)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, Python and the package write under
    ``work``; size the session for a 4-core box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    args = [
        # the whole heap from the start: a heap that G1 grows puts the
        # JVM's peak RSS anywhere in a 1.5x range for the same code
        f"--driver-java-options='-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}'",
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def build_tables(root: str, scale: float) -> str:
    """Catalog tables for ``scale``, cached across runs in ``root``."""
    out = os.path.join(root, f"tables_s{scale}_seed{TABLE_SEED}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        staging = out + ".partial"
        shutil.rmtree(staging, ignore_errors=True)
        datagen.write_tables(staging, scale, TABLE_SEED)
        open(os.path.join(staging, "_SUCCESS"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(staging, out)
    return out


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        name[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, name)).metadata.num_rows
        for name in os.listdir(sf_dir)
        if name.endswith(".parquet")
    }


def spark_result(df) -> tuple[list[str], list]:
    """Columns and sorted normalized rows, as tests/oracle_harness.py
    compares them."""
    cols = sorted(df.columns)
    rows = [tuple(_norm(r[c]) for c in cols) for r in df.collect()]
    return cols, sorted(rows, key=repr)


def oracle_result(con, sql: str) -> tuple[list[str], list]:
    res = con.execute(sql)
    raw = [d[0] for d in res.description]
    cols = sorted(raw)
    idx = [raw.index(c) for c in cols]
    return cols, sorted((tuple(_norm(r[i]) for i in idx) for r in res.fetchall()), key=repr)


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------


class Run:
    """State of one benchmark invocation."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[dict] = []
        self.failed_names: set[str] = set()
        self._groups = itertools.count()  # never reused, even for untimed ops

    def timed(self, name: str, fn) -> dict:
        """Run one operation inside its own job group and record it."""
        op = {"name": name, "group": f"{GROUP_PREFIX}{next(self._groups)}"}
        self.spark.sparkContext.setJobGroup(op["group"], name)
        op["start_ms"] = time.time() * 1e3
        cpu0, steal0 = procstat.cpu_seconds(), procstat.steal_seconds()
        t0 = time.perf_counter()
        try:
            op.update(fn())
        except Exception as exc:  # an op failure is counted, the loop goes on
            log(f"{name} failed: {exc!r}"[:2000])
            op["error"] = repr(exc)[:500]
        op["raw_wall_s"] = time.perf_counter() - t0
        op["cpu_s"] = procstat.cpu_seconds() - cpu0
        op["steal_s"] = procstat.steal_seconds() - steal0
        op["wall_s"] = procstat.unstolen(op["raw_wall_s"], op["cpu_s"], op["steal_s"])
        op["end_ms"] = time.time() * 1e3
        log(f"{name}: {op['wall_s']:.3f}s ({op['raw_wall_s']:.3f}s with steal)")
        self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        self.ops.append(op)
        return op


def query_op(spark, fn, sf_dir: str):
    def run() -> dict:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        # noop write: every column is computed, unlike count()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        return {"plans.build_s": t1 - t0, "plans.exec_s": t2 - t1}

    return run


def etl_op(spark, batch_dir: str, out_root: str, run_id: str, expected: dict):
    from data_integration_project_spark import pipeline

    def run() -> dict:
        zones = pipeline.ZonePaths(os.path.join(out_root, f"run_{run_id}"))
        prun = pipeline.PipelineRun(run_id=run_id, zones=zones)
        t = [time.perf_counter()]
        prun.ingested = pipeline.ingest_csv_dir(spark, batch_dir, zones, run_id=run_id)
        t.append(time.perf_counter())
        entities = sorted(prun.ingested)
        prun.zone_counts = pipeline.drain_and_validate(spark, zones, entities)
        t.append(time.perf_counter())
        for df in pipeline.build_marts(spark, zones, entities).values():
            df.write.format("noop").mode("overwrite").save()
        t.append(time.perf_counter())
        pipeline.record_run_history(spark, out_root, prun)
        t.append(time.perf_counter())
        rows = {e: c["rows"] for e, c in expected.items()}
        got = {
            e: {
                "ingested": prun.ingested.get(e, 0),
                "clean": prun.zone_counts.get(e, {}).get("clean", 0),
                "error": prun.zone_counts.get(e, {}).get("error", 0),
                "poison": rows[e] - prun.ingested.get(e, 0),
            }
            for e in expected
        }
        want = {e: {k: c[k] for k in ("ingested", "clean", "error", "poison")} for e, c in expected.items()}
        if got != want:
            raise AssertionError(f"zone counts {got} != expected {want}")
        stages = ("ingest_s", "drain_validate_s", "marts_s", "history_s")
        out = {f"pipeline.{s}": b - a for s, a, b in zip(stages, t, t[1:])}
        out["pipeline.clean_rows"] = sum(g["clean"] for g in got.values())
        out["pipeline.error_rows"] = sum(g["error"] for g in got.values())
        out["pipeline.poison_rows"] = sum(g["poison"] for g in got.values())
        out["rows"] = sum(rows.values())
        return out

    return run


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    procstat.become_subreaper()
    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        result = measure(args)
    finally:
        stop_spark()
    print(json.dumps(result), flush=True)
    return 0


def stop_spark() -> None:
    """Stop the session if one is up, end the JVM and the Python workers
    it started, and wait until every one of them has exited."""
    from pyspark import SparkContext

    procstat.tree()  # record the workers alive now
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception as exc:  # the JVM may be gone already
                log(f"gateway shutdown: {exc!r}")
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                t0 = time.perf_counter()
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                log(f"JVM exited in {time.perf_counter() - t0:.2f}s")
            SparkContext._gateway = SparkContext._jvm = None
        left = procstat.end_descendants()
        if left:
            log(f"processes still running: {left}")
        else:
            log("all processes ended")


def measure(args) -> dict:
    trace = bool(args.trace)
    etl = args.workload == "etl_pipeline"
    cfg = WORKLOADS[args.workload]

    work = os.path.abspath(".perfbench")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, trace)

    # -- package import (operators wrapped first in the traced run)
    t_import = time.perf_counter()
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    from data_integration_project_spark import plans
    from data_integration_project_spark.session import get_spark

    import_s = time.perf_counter() - t_import

    # -- inputs (excluded from setup_s). ETL batch b comes from seed
    # (seed, b) and is made when it is needed.
    inputs_s = 0.0
    t_inputs = time.perf_counter()

    def etl_batch(b: int) -> tuple[str, dict]:
        bdir = os.path.join(run_dir, "etl_in", f"batch_{b}")
        return bdir, datagen.write_etl_batch(bdir, args.seed * 1000 + b, cfg["k"])

    names = []
    if not etl:
        sf_dir = build_tables(os.path.join(work, "data"), cfg["scale"])
        rows_by_table = table_rows(sf_dir)
        names = list(cfg["queries"])
        random.Random(args.seed).shuffle(names)
    inputs_s += time.perf_counter() - t_inputs

    log("starting the session")
    t_start = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t_start
    driver_heap = spark.sparkContext.getConf().get("spark.driver.memory")
    run = Run(spark)
    correct = True
    out_root = os.path.join(run_dir, "etl_out")

    # -- warm-up (catalog only): every query once. The results are
    # collected here and checked against DuckDB after the timed section.
    # The ETL workload has none: its first batch is timed cold, as the
    # one batch of a pipeline process is.
    t_warm = time.perf_counter()
    results, scanned_rows = {}, {}
    for name in names:
        log(f"warm-up {name}")
        df = plans.REGISTRY[name].fn(spark, sf_dir)
        scanned_rows[name] = sum(
            rows_by_table.get(os.path.basename(p).split(".")[0], 0) for p in df.inputFiles()
        )
        results[name] = spark_result(df)
        spark.catalog.clearCache()
    warmup_s = time.perf_counter() - t_warm
    raw_setup_s = process_age_s() - inputs_s
    setup_s = procstat.unstolen(
        raw_setup_s, procstat.cpu_seconds(), procstat.steal_seconds() - STEAL_AT_START
    )
    log(
        f"setup {setup_s:.1f}s, {raw_setup_s:.1f}s with steal "
        f"(import {import_s:.1f}s, session {start_s:.1f}s, warm-up {warmup_s:.1f}s)"
    )

    anchor = []
    if trace and not etl:
        anchor.append(run.timed(ANCHOR, query_op(spark, plans.REGISTRY[ANCHOR].fn, sf_dir))["wall_s"])
        run.ops.clear()

    # -- timed section: whole passes until --seconds have elapsed. A pass
    # is every query once, or one ETL batch.
    if tracer:
        tracer.active = True
    steal0 = procstat.steal_seconds()
    t0 = time.perf_counter()
    gen_s = 0.0  # making ETL batches is not part of the timed work
    passes = 0
    while passes < cfg["min_passes"] or time.perf_counter() - t0 - gen_s < args.seconds:
        if etl:
            t_gen = time.perf_counter()
            b = passes + 1
            bdir, expected = etl_batch(b)
            gen_s += time.perf_counter() - t_gen
            op = run.timed("etl_batch", etl_op(spark, bdir, out_root, f"b{b}", expected))
            op["pass"] = passes
        else:
            for name in names:
                op = run.timed(name, query_op(spark, plans.REGISTRY[name].fn, sf_dir))
                op["rows"] = scanned_rows[name]
                op["pass"] = passes
        passes += 1
    raw_wall = time.perf_counter() - t0 - gen_s
    steal = procstat.steal_seconds() - steal0
    by_pass = [[op for op in run.ops if op["pass"] == p] for p in range(passes)]
    pass_wall = [sum(op["wall_s"] for op in ops) for ops in by_pass]
    pass_cpu = [sum(op["cpu_s"] for op in ops) for ops in by_pass]
    pass_rows_per_s = [sum(op.get("rows", 0) for op in ops) / w for ops, w in zip(by_pass, pass_wall)]
    if tracer:
        tracer.active = False
    inputs_s += gen_s
    jvm = procstat.jvm_pid()
    driver_hwm_mb, jvm_hwm_mb = procstat.vm_hwm_mb(os.getpid()), procstat.vm_hwm_mb(jvm) if jvm else 0.0
    peak_rss_mb = driver_hwm_mb + jvm_hwm_mb

    # -- output checks (outside the timed section)
    log("checking outputs")
    if etl:
        want = {f"b{i + 1}" for i in range(len(run.ops))}
        hist = pipeline_history(spark, out_root)
        if set(hist) != want or any(n != len(datagen.ETL_REF) for n in hist.values()):
            log(f"run_history mismatch: {hist}")
            correct = False
    else:
        import duckdb

        con = duck_connection(sf_dir)
        con.execute("SET threads TO 2")
        con.execute("SET memory_limit = '1GB'")  # a runaway oracle fails, not the box
        con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb_tmp')}'")
        con.execute("SET max_temp_directory_size = '1GB'")
        for name in names:
            try:
                same = oracle_result(con, plans.REGISTRY[name].oracle) == results[name]
            except duckdb.Error as exc:
                log(f"{name}: oracle failed: {exc}"[:500])
                same = False
            if not same:
                log(f"{name}: result differs from its DuckDB oracle")
                run.failed_names.add(name)
        con.close()
    if trace and not etl:
        anchor.append(run.timed(ANCHOR, query_op(spark, plans.REGISTRY[ANCHOR].fn, sf_dir))["wall_s"])
        run.ops.pop()

    spark.stop()
    log("session stopped")

    ops = run.ops
    failed = sum(1 for op in ops if "error" in op or op["name"] in run.failed_names)
    correct = correct and failed == 0
    lat = [op["wall_s"] for op in ops]
    q = statistics.quantiles(lat, n=4, method="inclusive") if len(lat) > 1 else lat * 3
    env = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": driver_heap,
        "passes": passes,
        "ops": len(ops),
        "inputs_s": round(inputs_s, 3),
        # host CPU taken by other guests during the timed section: a wall
        # time that moved with it moved with the host, not the code
        "steal_s": round(steal, 2),
        "raw_setup_s": round(raw_setup_s, 3),
        "raw_wall_s": round(raw_wall, 3),
        "driver_hwm_mb": round(driver_hwm_mb, 1),
        "jvm_hwm_mb": round(jvm_hwm_mb, 1),
    }
    log(f"env {json.dumps(env)}")
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(pass_wall), "s"),
            "cpu_s": (statistics.median(pass_cpu), "s"),
            "op_p50_s": (q[1], "s"),
            "op_p75_s": (q[2], "s"),
            "rows_per_s": (statistics.median(pass_rows_per_s), "1/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        metrics = layer_metrics(run, tracer, passes, run_dir, out_root)
        metrics["session.import_s"] = (import_s, "s")
        metrics["session.start_s"] = (start_s, "s")
        metrics["setup.warmup_s"] = (warmup_s, "s")
        metrics["anchor.start_s"] = (anchor[0] if anchor else 0.0, "s")
        metrics["anchor.end_s"] = (anchor[-1] if anchor else 0.0, "s")
        metrics["trace.wall_s"] = (statistics.median(pass_wall), "s")
        metrics["raw.setup_s"] = (raw_setup_s, "s")
        metrics["raw.wall_s"] = (raw_wall / passes, "s")
        metrics["host.steal_s"] = (steal / passes, "s")
        metrics["error_rate"] = (failed / max(1, len(ops)), "ratio")
    sidecar = os.path.join(work, f"last_{args.workload}_trace{args.trace}.json")
    with open(sidecar, "w") as f:
        json.dump({"env": env, "ops": ops, "metrics": metrics}, f, indent=1, default=str)
    return {
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def pipeline_history(spark, out_root: str) -> dict[str, int]:
    from data_integration_project_spark.pipeline import run_history

    counts: dict[str, int] = {}
    for r in run_history(spark, out_root).select("run_id").collect():
        counts[r["run_id"]] = counts.get(r["run_id"], 0) + 1
    return counts


def layer_metrics(run: Run, tracer, passes: int, run_dir: str, out_root: str) -> dict:
    """Per-layer totals of the timed section, per pass."""
    from tracing import OPERATOR_MODULES, op_records, read_event_log

    records = op_records(read_event_log(os.path.join(run_dir, "eventlog")), run.ops, GROUP_PREFIX)
    run.ops[:] = records

    def total(key: str) -> float:
        return sum(float(r.get(key, 0.0)) for r in records) / passes

    m: dict[str, tuple[float, str]] = {}
    for key in ("plans.build_s", "plans.exec_s"):
        m[key] = (total(key), "s")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = (total(key), "count")
    for key in ("executor_run_s", "executor_cpu_s"):
        m[f"spark.{key}"] = (total(key), "s")
    for key in ("scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"spark.{key}"] = (total(key), "MB")
    m["spark.peak_exec_mem_mb"] = (max((r.get("peak_exec_mem_mb", 0.0) for r in records), default=0.0), "MB")
    m["python.rows_to_worker"] = (total("python.rows_to_worker"), "count")
    # the no-Python-stage queries must send no rows to Python workers
    m["python.rows_to_worker_sql_queries"] = (
        sum(r.get("python.rows_to_worker", 0.0) for r in records if r["name"] in CATALOG_SQL) / passes,
        "count",
    )
    m["python.mb_to_worker"] = (total("python.mb_to_worker"), "MB")
    m["python.mb_from_worker"] = (total("python.mb_from_worker"), "MB")
    for short in OPERATOR_MODULES:
        key = f"operators.{short}"
        m[f"{key}.calls"] = (tracer.calls.get(key, 0) / passes, "count")
        m[f"{key}.driver_s"] = (tracer.seconds.get(key, 0.0) / passes, "s")
    for short in ("local_checkpoint", "persist", "collect"):
        m[f"eager.{short}.calls"] = (tracer.calls.get(f"eager.{short}", 0) / passes, "count")
    m["eager.local_checkpoint_s"] = (tracer.seconds.get("eager.local_checkpoint", 0.0) / passes, "s")
    m["eager.collect_s"] = (tracer.seconds.get("eager.collect", 0.0) / passes, "s")
    m["sources.load_table.calls"] = (tracer.calls.get("sources.load_table", 0) / passes, "count")
    m["sources.load_table_s"] = (tracer.seconds.get("sources.load_table", 0.0) / passes, "s")
    for key in ("ingest_s", "drain_validate_s", "marts_s", "history_s"):
        m[f"pipeline.{key}"] = (total(f"pipeline.{key}"), "s")
    for key in ("clean_rows", "error_rows", "poison_rows"):
        m[f"pipeline.{key}"] = (total(f"pipeline.{key}"), "count")
    written = 0.0
    if os.path.isdir(out_root):
        csv_bytes = sum(
            dir_bytes(os.path.join(run_dir, "etl_in", f"batch_{i + 1}")) for i in range(len(records))
        )
        for base in os.listdir(out_root):
            if base.startswith("run_"):
                for zone in ("inbox", "clean", "error", "_checkpoints"):
                    written += dir_bytes(os.path.join(out_root, base, zone))
        written /= max(1, csv_bytes)
    m["pipeline.write_amp"] = (written, "ratio")
    m["streaming.batches"] = (total("streaming.batches"), "count")
    for key in ("trigger_s", "add_batch_s", "commit_s"):
        m[f"streaming.{key}"] = (total(f"streaming.{key}"), "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
