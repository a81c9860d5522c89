"""Workload definitions and the closed-loop driver for query ops.

One client, closed loop: the next op starts only when the previous one
finished. A query op is ``REGISTRY[name].fn(spark, sf_dir)`` followed by
a full execution that collects the answer with ``toPandas()``, as the
reference dashboard does to render it, timed from outside the package.
The check then compares that same answer with the oracle, outside the
timed op, without running the query again.
Ops run in whole cycles over the workload's op list until ``--seconds``
have passed and the workload's ``min_cycles`` are done, always in the
listed order: a run is short, so its first cycle is each query's first
execution in the process, and a
seed-permuted order moved ``op_p50_s`` by 13% between seeds where the
fixed order moved it by 6%. The lakehouse cycle that ``driver_bound``
runs after its queries is in ``lakehouse.py``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from lakehouse import OPS_PER_CYCLE
from metrics import median, tail_percentile
from oracle import check
from tracing import OpRun

DASHBOARD = [
    "ep1_sales_overview", "ep2_clients_by_store", "ep2_customer_drill",
    "ep3_forecast_series", "revenue_checksum", "sales_daily", "kpi_global",
    "customer_rollup", "ticket_totals", "volatility_cv", "monthly_rollup",
    "pair_counts", "top_pairs_per_product", "lag_features",
    "wape_seasonal_naive", "ml_forecast_14d",
]

#: Fixpoints: a driver-controlled loop of Spark jobs per iteration.
FIXPOINTS = ["dedup_keep_best", "dedup_clusters", "pagerank_2iter",
             "kcore_2round", "kmeans_lloyd_2iter"]

#: Bounded stream replays: the whole replay runs inside ``fn()``, so
#: their cost is micro-batch overhead on the Spark driver, not data.
STREAM_REPLAYS = ["stream_tumbling_hourly", "stream_scd1_user_last_event"]

#: Cheap queries whose driver build plus planning was at least half of
#: their op time at sf0.001 on 4 cores (README.md has the selection run).
SMALL_DRIVER_BOUND = ["lang_id_ngram", "length_decile_thresholds",
                      "ks_exponential_gaps", "eb_shrunk_return_rates",
                      "ivf_ann_topk", "split_divergence", "cusum_changepoints"]

DRIVER_BOUND = FIXPOINTS + STREAM_REPLAYS + SMALL_DRIVER_BOUND


#: ``op_tail_s`` is the highest of ``metrics.TAIL_CANDIDATES`` with at least
#: this many ops of a run beyond it. Ten would need 40 ops per run for p75,
#: which the run-time budget of the whole benchmark does not allow; with
#: fewer than five, p90 of 32 ops fell between two ops of different kinds
#: and moved by a quarter between runs.
MIN_BEYOND = 5


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale of the tables the query ops read
    ops: tuple[str, ...]  # query names, run in this order
    lake_sf: float | None = None  # scale of the lakehouse table, if any
    min_cycles: int = 1  # a run makes at least this many cycles

    @property
    def tail_pct(self) -> float:
        """The ``op_tail_s`` percentile, fixed by the ops of the shortest run."""
        n = len(self.ops) + (OPS_PER_CYCLE if self.lake_sf else 0)
        return tail_percentile(n * self.min_cycles, MIN_BEYOND)


WORKLOADS = {
    # A second cycle of short ops steadies the median for about 15 s a run.
    "dashboard": Workload("dashboard", 0.001, tuple(DASHBOARD), min_cycles=2),
    "driver_bound": Workload("driver_bound", 0.001, tuple(DRIVER_BOUND), lake_sf=0.01),
}


class QueryDriver:
    """Runs query ops against one session; traced or not."""

    def __init__(self, spark, registry, sf_dir, expected, tracer, counters,
                 stream_progress=None):
        self.spark = spark
        self.registry = registry
        self.sf_dir = sf_dir
        self.expected = expected
        self.tracer = tracer
        self.counters = counters  # None unless traced
        self.stream = stream_progress
        self.ops: list[dict] = []
        self.n = 0

    def run_op(self, name: str, traced: bool) -> dict:
        self.n += 1
        op = {"id": f"{name}#{self.n}", "name": name, "kind": "query",
              "traced": traced, "error": None}
        fn = self.registry[name].fn
        run = OpRun(op, self.tracer, self.counters)

        def body():
            with run.span("plans.fn"), run.py4j():
                df = fn(self.spark, self.sf_dir)
            run.exec_phase()
            if run.traced:
                with run.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with run.span("spark.exec"):
                return df, df.toPandas()

        df, answer = run(body) or (None, None)
        if self.stream is not None:
            op["batches"] = self.stream.take()
        t0 = time.perf_counter()
        if op["error"] is None:
            # every op's answer, outside the timed op
            try:
                wrong = check(df.schema, answer, self.expected[name])
            except Exception as e:  # noqa: BLE001
                wrong = f"check raised {type(e).__name__}: {e}"
            if wrong is not None:
                op["error"] = f"wrong result: {wrong}"[:300]
        op["check_s"] = time.perf_counter() - t0
        op["ok"] = op["error"] is None
        return op

    def cycle(self, names, cycle_no: int, traced_run: bool) -> None:
        """One pass over ``names`` in order. In a traced run every other
        op is traced, alternating between cycles, so each query runs
        traced in one cycle of a pair and untraced in the other: the
        untraced ops are the overhead baseline for the same work."""
        for i, name in enumerate(names):
            op = self.run_op(name, traced_run and (i + cycle_no) % 2 == 0)
            op["slot"] = (i, cycle_no // 2)
            self.ops.append(op)


def stream_metrics(ops: list[dict]) -> dict[str, float]:
    """events_per_s and stream_batch_p50_s from listener progress."""
    ops = [o for o in ops if o["name"].startswith("stream_")]
    batches = [b for o in ops for b in o["batches"]]
    rows = sum(b["input_rows"] for b in batches)
    wall = sum(o["s"] for o in ops)
    durs = [b["duration_ms"].get("triggerExecution", 0) / 1e3 for b in batches]
    return {
        "events_per_s": rows / wall if wall else 0.0,
        "stream_batch_p50_s": median(durs) if durs else 0.0,
    }
