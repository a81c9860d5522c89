"""The ``lakehouse_rw`` workload: a seeded read/write sequence on one table.

Setup seeds a versioned table from ``orders``. Each cycle then runs, in
this order: a MERGE batch mixing updates and inserts, a stats-pruned
latest read, a DELETE, a change-feed read, an UPDATE, a time-travel
read, a JSONL write and read back through the Python data source, the
table history, OPTIMIZE with Z-order and VACUUM. Every op calls one
public verb of ``sources.ingest`` or ``sources.pyds``.

A DuckDB model applies the same seeded sequence next to the engine,
outside the timed ops. After every write the engine's latest snapshot
is compared with the model's, row for row; every read's row count and
the versions VACUUM drops are checked against it too.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from metrics import StorageMeter
from oracle import compare_frames
from tracing import OpRun

KEYS = ["o_orderkey"]
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
NON_KEYS = COLS[1:]
MERGE_UPDATES = 300
MERGE_INSERTS = 300
RANGE_ROWS = 100  # keys touched by one DELETE or UPDATE
KEEP_VERSIONS = 3
OPS_PER_CYCLE = 9  # untraced; a traced cycle adds the JSONL round trip

#: The verbs the cycle calls; the tracer wraps each one.
INGEST_VERBS = ("merge_upsert", "delete_where",
                "update_where", "optimize_version", "vacuum_versions",
                "read_version", "read_change_feed", "table_history")
PYDS_VERBS = ("write_jsonl_sales", "read_jsonl_sales")
WRITE_OPS = ("merge_upsert", "delete_where", "update_where",
             "write_jsonl_sales", "optimize_version", "vacuum_versions")
#: Writes whose new version is compared with the model, row for row.
SNAPSHOT_CHECKED = ("merge_upsert", "delete_where", "update_where",
                    "optimize_version")


class Model:
    """DuckDB recompute of the table, one snapshot per engine version."""

    def __init__(self, orders_parquet: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE t AS SELECT {', '.join(COLS)} "
            f"FROM read_parquet('{orders_parquet}')")
        self.versions: list[int] = []
        self.next_key = int(self.keys().max()) + 1  # first key a MERGE inserts

    def commit(self, version: int) -> None:
        if self.versions and version == self.versions[-1]:
            return  # the verb committed nothing
        self.con.execute(f"CREATE TABLE v{version} AS SELECT * FROM t")
        self.versions.append(version)

    def keys(self) -> np.ndarray:
        return self.con.execute(
            "SELECT o_orderkey FROM t ORDER BY 1").fetchnumpy()["o_orderkey"]

    def rows(self, where: str) -> pa.Table:
        return self.con.execute(f"SELECT * FROM t WHERE {where}").arrow()

    def merge(self, delta: pd.DataFrame) -> None:
        self.con.register("delta", delta)
        self.con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM delta)")
        self.con.execute(f"INSERT INTO t SELECT {', '.join(COLS)} FROM delta")
        self.con.unregister("delta")

    def count(self, table: str = "t", where: str = "TRUE") -> int:
        return self.con.execute(f"SELECT count(*) FROM {table} WHERE {where}").fetchone()[0]

    def feed_count(self, v_from: int) -> int:
        chain = [v for v in self.versions if v >= v_from]
        differs = " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in NON_KEYS)
        return sum(self.con.execute(
            f"SELECT count(*) FROM v{a} a FULL OUTER JOIN v{b} b "
            f"ON a.o_orderkey = b.o_orderkey WHERE a.o_orderkey IS NULL "
            f"OR b.o_orderkey IS NULL OR {differs}").fetchone()[0]
            for a, b in zip(chain, chain[1:]))

    def vacuum(self, keep: int) -> list[int]:
        dropped, self.versions = self.versions[:-keep], self.versions[-keep:]
        for v in dropped:
            self.con.execute(f"DROP TABLE v{v}")
        return dropped

    def snapshot(self) -> pd.DataFrame:
        return self.con.execute("SELECT * FROM t").fetchdf()


def between(lo: int, hi: int) -> tuple[list, str]:
    return ([("o_orderkey", "between", (int(lo), int(hi)))],
            f"o_orderkey BETWEEN {int(lo)} AND {int(hi)}")


class Lakehouse:
    """Drives the op sequence; ``ops`` collects one record per op."""

    def __init__(self, spark, sf_dir: str, table_dir: str, scratch: str,
                 rng: np.random.Generator, tracer, model: Model):
        from project2_bigdata_spark.catalog import table

        self.spark = spark
        self.path = table_dir
        self.scratch = scratch
        self.rng = rng
        self.tracer = tracer
        self.counters = None  # set with traced_run once the loop starts
        self.model = model
        self.schema = table(spark, sf_dir, "orders").select(*COLS).schema
        self.next_key = model.next_key
        self.ops: list[dict] = []
        self.n = 0
        self.k = 0  # position within the current cycle
        self.cycles = 0
        self.traced_run = False
        self.meter: StorageMeter | None = None

    # -- setup -------------------------------------------------------
    def seed(self, sf_dir: str) -> None:
        """Fixture build: the orders table as version 1."""
        from project2_bigdata_spark.catalog import table
        from project2_bigdata_spark.sources.ingest import write_versioned

        v = write_versioned(table(self.spark, sf_dir, "orders").select(*COLS), self.path)
        self.model.commit(v)
        self.meter = StorageMeter(self.path)

    # -- op plumbing ---------------------------------------------------
    def _op(self, verb: str, body, expect=None, delta_bytes=0):
        """Run one op. ``body(run)`` returns the engine's answer;
        ``expect(answer)`` returns None or a reason it is wrong. A write
        that commits is also checked by comparing the latest snapshot
        with the model's. In a traced run every other op is traced,
        alternating between cycles as in ``QueryDriver.cycle``."""
        traced = self.traced_run and (self.k + self.cycles) % 2 == 0
        self.n += 1
        op = {"id": f"{verb}#{self.n}", "name": verb, "traced": traced,
              "slot": (self.k, self.cycles // 2),
              "kind": "write" if verb in WRITE_OPS else "read", "error": None}
        run = OpRun(op, self.tracer, self.counters)
        v_before = self.model.versions[-1]
        ans = run(lambda: body(run))
        t0 = time.perf_counter()
        if op["error"] is None and expect is not None:
            try:
                wrong = expect(ans)
            except Exception as e:  # noqa: BLE001
                wrong = f"check raised {type(e).__name__}: {e}"
            if not wrong and verb in SNAPSHOT_CHECKED:
                wrong = self.snapshot_diff()
            if wrong:
                op["error"] = f"wrong result: {wrong}"[:300]
        op["check_s"] = time.perf_counter() - t0
        if op["kind"] == "write":
            v = self.model.versions[-1]
            self.meter.observe(delta_bytes, None if v == v_before
                               else os.path.join(self.path, f"v={v}"))
        op["ok"] = op["error"] is None
        self.ops.append(op)
        self.k += 1
        return ans

    def _count(self, run, df) -> int:
        run.exec_phase()
        with run.span("spark.exec"):
            return df.count()

    def _committed(self, v) -> None:
        self.model.commit(int(v))

    # -- one cycle -----------------------------------------------------
    def cycle(self) -> None:
        from project2_bigdata_spark.sources import ingest

        spark, path, rng, m = self.spark, self.path, self.rng, self.model
        self.k = 0

        # MERGE: updates of existing keys plus inserts of new ones
        keys = m.keys()
        upd = m.con.execute(
            "SELECT * FROM t WHERE o_orderkey IN (SELECT unnest(?))",
            [rng.choice(keys, MERGE_UPDATES, replace=False).tolist()]).fetchdf()
        upd["o_totalprice"] = rng.integers(100_000, 50_000_000, len(upd)) / 100.0
        upd["o_orderstatus"] = np.array(["F", "O", "P"])[rng.integers(0, 3, len(upd))]
        ins = pd.DataFrame({
            "o_orderkey": np.arange(self.next_key, self.next_key + MERGE_INSERTS),
            "o_custkey": rng.integers(0, 1000, MERGE_INSERTS),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, MERGE_INSERTS)],
            "o_totalprice": rng.integers(100_000, 50_000_000, MERGE_INSERTS) / 100.0,
            "o_orderdate": (np.datetime64("2001-08-02", "us")
                            + rng.integers(0, 365, MERGE_INSERTS).astype("timedelta64[D]")),
            "o_orderpriority": np.array(["1-URGENT", "5-LOW"])[rng.integers(0, 2, MERGE_INSERTS)],
        })
        self.next_key += MERGE_INSERTS
        delta = pd.concat([upd, ins[upd.columns]], ignore_index=True)
        delta["o_orderdate"] = delta["o_orderdate"].astype("datetime64[us]")
        nbytes = pa.Table.from_pandas(delta, preserve_index=False).nbytes

        def merge(run):
            ddf = spark.createDataFrame(delta, schema=self.schema)
            return ingest.merge_upsert(spark, path, ddf, keys=KEYS)

        def merge_expect(v):
            m.merge(delta)
            self._committed(v)

        self._op("merge_upsert", merge, expect=merge_expect,
                 delta_bytes=nbytes)

        # stats-pruned read of a key range of the latest snapshot
        keys = m.keys()
        lo = int(rng.choice(keys))
        where, sql = between(lo, lo + 5 * RANGE_ROWS)
        self._op("read_version",
                 lambda run: self._count(run, ingest.read_version(spark, path, where=where)),
                 expect=lambda n: _diff(n, m.count(where=sql)))

        # DELETE a key range
        lo = int(rng.choice(keys))
        where, sql = between(lo, lo + RANGE_ROWS)
        gone = m.rows(sql)

        def delete_expect(v):
            m.con.execute(f"DELETE FROM t WHERE {sql}")
            self._committed(v)

        v_before = m.versions[-1]
        self._op("delete_where",
                 lambda run: ingest.delete_where(spark, path, where),
                 expect=delete_expect, delta_bytes=gone.nbytes)

        # change feed since the version before the DELETE
        self._op("read_change_feed",
                 lambda run: self._count(run, ingest.read_change_feed(
                     spark, path, KEYS, from_version=v_before)),
                 expect=lambda n: _diff(n, m.feed_count(v_before)))

        # UPDATE a key range
        lo = int(rng.choice(m.keys()))
        where, sql = between(lo, lo + RANGE_ROWS)
        touched = m.rows(sql)

        def update_expect(v):
            m.con.execute(f"UPDATE t SET o_orderstatus = 'U' WHERE {sql}")
            self._committed(v)

        self._op("update_where",
                 lambda run: ingest.update_where(spark, path, where,
                                                 {"o_orderstatus": "'U'"}),
                 expect=update_expect, delta_bytes=touched.nbytes)

        # time travel to the oldest retained version
        v_old = m.versions[0]
        self._op("read_version",
                 lambda run: self._count(run, ingest.read_version(spark, path, version=v_old)),
                 expect=lambda n: _diff(n, m.count(f"v{v_old}")))

        if self.traced_run:
            self._jsonl_round_trip()

        self._op("table_history",
                 lambda run: self._count(run, ingest.table_history(spark, path)),
                 expect=lambda n: _diff(n, len(m.versions)))

        self._op("optimize_version",
                 lambda run: ingest.optimize_version(
                     spark, path, zorder_by=["o_custkey", "o_totalprice"]),
                 expect=self._committed)

        self._op("vacuum_versions",
                 lambda run: ingest.vacuum_versions(path, keep=KEEP_VERSIONS),
                 expect=lambda dropped: _diff(sorted(dropped), m.vacuum(KEEP_VERSIONS)))
        self.cycles += 1

    def _jsonl_round_trip(self) -> None:
        """Write a key range of the latest snapshot as JSONL through the
        Python data source and read it back. Traced runs only: the data
        source's first use in a process costs about 13 s, more than the
        rest of the cycle, so the untraced runs leave it out."""
        from pyspark.sql import functions as F

        from project2_bigdata_spark.sources import ingest, pyds

        spark, path, m = self.spark, self.path, self.model
        lo = int(self.rng.choice(m.keys()))
        where, sql = between(lo, lo + 5 * RANGE_ROWS)
        out = os.path.join(self.scratch, f"jsonl-{self.n}")
        n_rows = m.count(where=sql)

        def write(run):
            src = ingest.read_version(spark, path, where=where).select(
                F.col("o_orderkey").cast("string").alias("sale_id"),
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("sale_ts"),
                F.col("o_totalprice").alias("total_price"),
                F.col("o_orderpriority").alias("purchase_method"))
            os.makedirs(out, exist_ok=True)
            pyds.write_jsonl_sales(src, out)

        self._op("write_jsonl_sales", write)
        self._op("read_jsonl_sales",
                 lambda run: self._count(run, pyds.read_jsonl_sales(spark, out)),
                 expect=lambda n: _diff(n, n_rows))

    def snapshot_diff(self) -> str | None:
        """Compare the latest snapshot with the model's, outside timing."""
        from project2_bigdata_spark.sources.ingest import read_version
        from tests.oracle_harness import canon

        got = canon(read_version(self.spark, self.path).select(*COLS).toPandas())
        return compare_frames(got, canon(self.model.snapshot()))

    def amplification(self) -> dict[str, float]:
        v = self.model.versions[-1]
        snap = os.path.join(self.path, f"v={v}")
        files = [os.path.join(d, f) for d, _, fs in os.walk(snap) for f in fs
                 if f.endswith(".parquet")]
        return {
            "write_amp": self.meter.write_amp(),
            "space_amp": self.meter.space_amp(files),
            "bytes_written": float(self.meter.bytes_written),
            "files_written": float(self.meter.files_written),
            "files_hardlinked": float(self.meter.files_hardlinked),
        }


def _diff(got, want) -> str | None:
    return None if got == want else f"got {got}, expected {want}"
