"""Closed-loop benchmark of the engine: one client, one process, local[nproc].

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Builds its inputs under ``perfbench/.cache`` on first use (synthetic tables
from ``gen.py`` and the DuckDB oracle answers), sets up once (JVM launch
through ``session.get_session``, warm-up, fixture build), then runs whole
cycles of the workload's ops for at least ``--seconds`` and checks every
answer. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The line before it is the full record, also written to
``perfbench/.cache/records``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

import gen
from lakehouse import INGEST_VERBS, PYDS_VERBS, Lakehouse, Model
from metrics import failed_ratio, median, percentile
from oracle import expected_answers
from tracing import SparkCounters, StreamProgress, Tracer
from workloads import WORKLOADS, QueryDriver, stream_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
PACKAGE = "project2_bigdata_spark"

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result lines."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(scratch: str) -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine importable by the Python workers Spark starts."""
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={scratch} -XX:-UsePerfData' "
        f"pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def data_dir(sf: float) -> str:
    """Generated tables for ``sf``, built once per checkout."""
    d = os.path.join(CACHE, "data", f"sf{sf}-seed{gen.DATA_SEED}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(prefix="gen-", dir=os.path.join(CACHE, "data"))
        gen.write(tmp, sf, gen.DATA_SEED)
        os.replace(tmp, d)
    return d


def data_fingerprint(sf_dir: str) -> str:
    """The ``bench.py`` scheme: per parquet file its name, size and the
    first and last 4 KiB."""
    h = hashlib.md5()
    for f in sorted(os.listdir(sf_dir)):
        if not f.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, f)
        size = os.path.getsize(p)
        h.update(f.encode())
        h.update(str(size).encode())
        with open(p, "rb") as fh:
            h.update(fh.read(4096))
            if size > 4096:
                fh.seek(-4096, os.SEEK_END)
                h.update(fh.read(4096))
    return h.hexdigest()[:12]


def source_fingerprint() -> str:
    h = hashlib.md5()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_facts() -> dict:
    cpu = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"nproc": nproc(), "cpu_model": cpu, "mem_total_mb": mem_kb // 1024,
            "python": platform.python_version()}


# -- setup ---------------------------------------------------------------

def warm_up(spark, sf_dir: str) -> None:
    """Touch the machinery every op shares: a scan, broadcast join,
    aggregate and window on the small tables, every table's schema
    through the catalog, and the Python worker pool. First uses of the
    stream runner and the Python data source stay in the ops that make
    them, as they would in production."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType
    from pyspark.sql.window import Window

    from project2_bigdata_spark.catalog import TABLES, table

    nation, region = table(spark, sf_dir, "nation"), table(spark, sf_dir, "region")
    (nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
     .groupBy("r_name").agg(F.count("*").alias("n"))
     .withColumn("rn", F.row_number().over(Window.orderBy("r_name")))
     .write.mode("overwrite").format("noop").save())
    for t in TABLES:
        table(spark, sf_dir, t)

    @F.pandas_udf(LongType())
    def _len(s):
        return s.str.len().astype("int64")

    par = spark.sparkContext.defaultParallelism
    (spark.range(0, par * 4, 1, par).select(_len(F.col("id").cast("string")))
     .write.mode("overwrite").format("noop").save())


def start_session(app: str):
    from project2_bigdata_spark.session import get_session

    spark = get_session(app, cores=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop the session and the JVM, if the run started them, waiting
    until the JVM exits."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


# -- per-layer aggregation -------------------------------------------------

def op_layers(traced: list[dict], cores: int, tracer) -> dict[str, float]:
    ids = {o["id"] for o in traced}
    n = len(traced)
    incl = tracer.inclusive_by_name(ids)
    selft = tracer.self_time_by_name(ids)
    tot = {k: sum(o["spark"][k] for o in traced) for k in traced[0]["spark"]}
    exec_wall = incl.get("spark.exec", (0, 0.0))[1]
    exec_run = sum(o["spark_exec_run_s"] for o in traced)
    out = {
        "catalog.table_calls": incl.get("catalog.table", (0, 0.0))[0] / n,
        "catalog.table_s": incl.get("catalog.table", (0, 0.0))[1] / n,
        "plans.build_s": selft.get("plans.fn", 0.0) / n,
        "plans.py4j_calls": sum(o["py4j_calls"] for o in traced) / n,
        "plans.eager_jobs": sum(o["eager_jobs"] for o in traced) / n,
        "spark.plan_s": incl.get("spark.plan", (0, 0.0))[1] / n,
        "spark.exec_s": exec_wall / n,
        "spark.core_util": exec_run / (exec_wall * cores) if exec_wall else 0.0,
    }
    for k, v in tot.items():
        out[f"spark.{k}"] = v / n
    streams = [o for o in traced if o["name"].startswith("stream_")]
    ns = len(streams) or 1
    batches = [b for o in streams for b in o["batches"]]
    sids = {o["id"] for o in streams}
    out["streaming.run_to_batch_s"] = tracer.inclusive_by_name(sids).get(
        "streaming.run_to_batch", (0, 0.0))[1] / ns
    out["streaming.batches"] = len(batches) / ns
    out["streaming.input_rows"] = sum(b["input_rows"] for b in batches) / ns
    out["streaming.state_rows"] = (
        sum(b["state_rows"] for b in batches) / len(batches) if batches else 0.0)
    for part in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
        vals = [b["duration_ms"].get(part, 0) / 1e3 for b in batches]
        out[f"streaming.{part}_s"] = median(vals) if vals else 0.0
    return out


def lakehouse_layers(traced: list[dict], tracer, lake) -> dict[str, float]:
    traced = [o for o in traced if o["kind"] != "query"]
    ids = {o["id"] for o in traced}
    incl = tracer.inclusive_by_name(ids)
    out = {"ingest.jobs": sum(o["spark"]["jobs"] for o in traced) / len(traced)}
    for verb in INGEST_VERBS:
        calls, secs = incl.get(f"ingest.{verb}", (0, 0.0))
        out[f"ingest.{verb}.calls"] = float(calls)
        out[f"ingest.{verb}.s"] = secs / calls if calls else 0.0
    amp = lake.amplification()
    out["ingest.bytes_written"] = amp["bytes_written"]
    out["ingest.files_written"] = amp["files_written"]
    out["ingest.files_hardlinked"] = amp["files_hardlinked"]
    for verb, key in (("read_jsonl_sales", "pyds.read_s"),
                      ("write_jsonl_sales", "pyds.write_s")):
        ts = [o["s"] for o in traced if o["name"] == verb]
        out[key] = sum(ts) / len(ts) if ts else 0.0
    return out


def trace_overhead(ops: list[dict]) -> float:
    """Geometric mean over ops of traced time over untraced time. Each op
    position runs traced in one cycle of a pair and untraced in the
    other, so the first, colder run of half the pairs is traced and of
    the other half untraced."""
    pairs: dict[tuple, dict[bool, float]] = {}
    for o in ops:
        pairs.setdefault((o["name"], o["slot"]), {})[o["traced"]] = o["s"]
    logs = [math.log(p[True] / p[False]) for p in pairs.values() if len(p) == 2]
    return math.exp(sum(logs) / len(logs))


def ml_layers(spark, sf_dir: str, traced: list[dict]) -> dict[str, float]:
    """Attribution probe: train alone, then forecast = op time - train."""
    from project2_bigdata_spark.ml.forecast import train_best_models

    ml = [o["s"] for o in traced if o["name"] == "ml_forecast_14d"]
    if not ml:
        return {"ml.train_s": 0.0, "ml.forecast_s": 0.0}
    t0 = time.perf_counter()
    train_best_models(spark, sf_dir).write.mode("overwrite").format("noop").save()
    train = time.perf_counter() - t0
    return {"ml.train_s": train, "ml.forecast_s": max(0.0, sum(ml) / len(ml) - train)}


# -- the run -------------------------------------------------------------

def run(args, scratch: str) -> dict:
    wl = WORKLOADS[args.workload]
    traced_run = bool(args.trace)
    sf_dir = data_dir(wl.sf)
    lake_dir = data_dir(wl.lake_sf) if wl.lake_sf else None

    from project2_bigdata_spark.plans import REGISTRY

    log("registry imported")
    expected = expected_answers(REGISTRY, wl.ops, sf_dir)  # before the setup clock
    log("oracle answers ready")
    tracer = Tracer(traced_run)
    if traced_run:
        from project2_bigdata_spark import catalog
        from project2_bigdata_spark.sources import ingest, pyds
        from project2_bigdata_spark.streaming import runner

        targets = {"catalog.table": (catalog, "table"),
                   "streaming.run_to_batch": (runner, "run_to_batch")}
        targets.update({f"ingest.{v}": (ingest, v) for v in INGEST_VERBS})
        targets.update({f"pyds.{v}": (pyds, v) for v in PYDS_VERBS})
        tracer.install(targets, PACKAGE)
        tracer.install_py4j_counter()

    # Setup, timed once: JVM launch and session start, warm-up, fixture
    # build. The DuckDB model of the lakehouse is the check's, built first.
    rng = np.random.default_rng(args.seed)
    streams = any(n.startswith("stream_") for n in wl.ops)
    model = Model(os.path.join(lake_dir, "orders.parquet")) if lake_dir else None
    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    warm_up(spark, sf_dir)
    lake = None
    if lake_dir:
        lake = Lakehouse(spark, lake_dir, os.path.join(scratch, "table"),
                         scratch, rng, tracer, model)
        lake.seed(lake_dir)
    setup_s = time.perf_counter() - t0
    log(f"setup {setup_s:.2f}s (session start {session_s:.2f}s)")

    # Closed loop: whole cycles until --seconds passed and min_cycles are
    # done; a traced run makes an even number of cycles (QueryDriver.cycle).
    counters = SparkCounters(spark) if traced_run else None
    progress = StreamProgress(spark) if streams else None
    drv = QueryDriver(spark, REGISTRY, sf_dir, expected, tracer, counters, progress)
    if lake is not None:
        lake.counters, lake.traced_run = counters, traced_run
    t_measure = time.perf_counter()
    cycles = 0
    while cycles < wl.min_cycles or time.perf_counter() - t_measure < args.seconds \
            or (traced_run and cycles % 2):
        drv.cycle(wl.ops, cycles, traced_run)
        if lake is not None:
            lake.cycle()
        cycles += 1
    ops = drv.ops + (lake.ops if lake is not None else [])
    measure_wall = time.perf_counter() - t_measure
    log(f"measured {cycles} cycles")

    measured = [o for o in ops if o["traced"] == traced_run]
    times = [o["s"] for o in measured]
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    rec = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": wl.sf, "lake_sf": wl.lake_sf,
        "cycles": cycles, "n_ops": len(ops),
        "n_measured": len(measured), "tail_pct": wl.tail_pct,
        "ops_beyond_tail": sum(1 for t in times if t > percentile(times, wl.tail_pct)),
        "measure_wall_s": measure_wall, "session_start_s": session_s,
        "failed_ratio": failed_ratio(ops),
        "n_failed": sum(1 for o in ops if not o["ok"]),
        "failing_ops": sorted({o["name"] + ": " + o["error"] for o in ops if not o["ok"]}),
        "check_s": sum(o["check_s"] for o in ops),
        "ops": [[o["name"], round(o["s"], 4), o["traced"], round(o["check_s"], 4)]
                for o in ops],
    }
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(times),
        "op_tail_s": percentile(times, wl.tail_pct),
        "ops_per_s": len(times) / sum(times),
        "correct_ratio": 1.0 - failed_ratio(ops),
    }
    extra = {"peak_rss_mb": vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)}
    if lake is not None:
        w = [o["s"] for o in measured if o["kind"] == "write"]
        r = [o["s"] for o in measured if o["kind"] == "read"]
        extra.update(write_p50_s=median(w), read_p50_s=median(r))
        amp = lake.amplification()
        extra.update(write_amp=amp["write_amp"], space_amp=amp["space_amp"])
    if progress is not None:
        extra.update(stream_metrics(measured))
    rec["end_to_end"] = e2e
    rec["workload_metrics"] = extra

    if traced_run:
        layers = {"session.start_s": session_s}
        layers.update(op_layers([o for o in measured if o["kind"] == "query"],
                                nproc(), tracer))
        if lake is not None:
            layers.update(lakehouse_layers(measured, tracer, lake))
        layers.update(ml_layers(spark, sf_dir, measured))
        layers["trace.overhead"] = trace_overhead(ops)
        rec["per_layer"] = layers
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(CACHE, "traces", f"{wl.name}-seed{args.seed}-{os.getpid()}.json"))

    from pyspark import __version__ as pyspark_version

    rec["provenance"] = {
        **host_facts(), "pyspark": pyspark_version,
        "java": spark._jvm.System.getProperty("java.version"),
        "git_commit": git_commit(), "source_fp": source_fingerprint(),
        "data_fp": data_fingerprint(sf_dir),
        "lake_data_fp": data_fingerprint(lake_dir) if lake_dir else None,
        "spark_conf": dict(spark.sparkContext.getConf().getAll()),
        "runtime_conf": {k: spark.conf.get(k, None) for k in (
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.session.timeZone", "spark.sql.files.minPartitionNum",
            "spark.sql.files.openCostInBytes",
            "spark.sql.streaming.stateStore.providerClass")},
    }
    return rec


def emit(rec: dict, declared: list[dict]) -> str:
    """The result line: exactly the metrics ``BENCHMARK.json`` declares
    for this mode; a per-layer metric of a layer the workload does not
    use reads 0."""
    vals = {**rec["end_to_end"], **rec["workload_metrics"], **rec.get("per_layer", {})}
    metrics = {m["name"]: {"value": float(vals.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    return json.dumps({
        "correct": rec["n_failed"] == 0,
        "attempted": rec["n_ops"], "failed": rec["n_failed"], "metrics": metrics})


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py")):
        print(f"perfbench: {PACKAGE}/ and tests/oracle_harness.py must sit "
              f"beside perfbench/ (looked in {ROOT})", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(CACHE, "data"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        prepare_env(scratch)
        rec = run(args, scratch)
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        stop_session()
        shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(CACHE, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(CACHE, "records", f"{rec['workload']}-seed{rec['seed']}"
                        f"-trace{rec['trace']}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1)
    with open(BENCHMARK_JSON) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({k: v for k, v in rec.items() if k not in ("provenance", "ops")}))
    print(emit(rec, declared), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
