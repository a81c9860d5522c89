"""Compare the generated tables with a reference copy of the same scale.

    python3 perfbench/datacheck.py REF_DIR --sf 0.01

``REF_DIR`` holds the reference parquet files (``<table>.parquet``) at scale
``--sf``. The tables ``gen.py`` writes for that scale are compared with them
on what the workloads' queries depend on: per column the figures of
``column_stats``, and per workload query the rows of its DuckDB oracle's
answer and their distinct values summed over columns. Prints one
line per figure that differs by more than ``--tol`` (relative) and a
summary; exits 1 when a query's figures or a column's type differ.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def column_stats(con, path: str) -> dict[str, dict[str, object]]:
    """Per column: type, rows, distinct and null values, and by type the
    min/max/mean (numbers), min/max as epoch seconds and distinct days
    (timestamps), mean length and, for up to 100 distinct values, the
    value set (strings), or the mean length (lists)."""
    out = {}
    cols = con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
    for name, typ, *_ in cols:
        if typ.endswith("[]"):
            r = con.execute(f"SELECT count(*), avg(len({name})) FROM '{path}'").fetchone()
            out[name] = {"type": typ, "rows": r[0], "mean_len": r[1]}
            continue
        q = f"count(*), count(DISTINCT {name}), count(*) - count({name})"
        if typ == "VARCHAR":
            q += f", avg(length({name}))"
        elif typ.startswith("TIMESTAMP"):
            q += f", epoch(min({name})), epoch(max({name})), count(DISTINCT {name}::DATE)"
        else:
            q += f", min({name}), max({name}), avg({name})"
        r = con.execute(f"SELECT {q} FROM '{path}'").fetchone()
        s = {"type": typ, "rows": r[0], "distinct": r[1], "nulls": r[2]}
        if typ == "VARCHAR":
            s["mean_len"] = r[3]
            if r[1] <= 100:
                s["values"] = sorted(v for (v,) in con.execute(
                    f"SELECT DISTINCT {name} FROM '{path}' WHERE {name} IS NOT NULL").fetchall())
        elif typ.startswith("TIMESTAMP"):
            s.update(min_epoch_s=r[3], max_epoch_s=r[4], days=r[5])
        else:
            s.update(min=r[3], max=r[4], mean=r[5])
        out[name] = s
    return out


def result_stats(con, sql: str) -> tuple[int, int]:
    """Rows of a query's answer, and its distinct values summed over columns."""
    cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()]
    distinct = ", ".join(f'count(DISTINCT "{c}")' for c in cols)
    r = con.execute(f"SELECT count(*), {distinct} FROM ({sql})").fetchone()
    return r[0], sum(r[1:])


def rel(a, b) -> float:
    """Relative difference of two figures; inf for unequal non-numbers."""
    if a == b:
        return 0.0
    try:
        a, b = float(a), float(b)
    except (TypeError, ValueError):
        return float("inf")
    return abs(a - b) / max(abs(a), abs(b), 1e-12)


def compare(ref_dir: str, gen_dir: str, sf: float, tol: float) -> int:
    from project2_bigdata_spark.plans import REGISTRY
    from tests.oracle_harness import duck_con

    con = duckdb.connect()
    hard, soft, n = 0, 0, 0
    for t in gen.TABLES:
        a = column_stats(con, os.path.join(ref_dir, f"{t}.parquet"))
        b = column_stats(con, os.path.join(gen_dir, f"{t}.parquet"))
        if list(a) != list(b):
            print(f"TABLE {t}: columns {list(a)} vs {list(b)}")
            hard += 1
            continue
        for c in a:
            for k in a[c]:
                n += 1
                d = rel(a[c][k], b[c][k])
                if k == "type" and d:
                    hard += 1
                if d > tol:
                    soft += k != "type"
                    print(f"  {t}.{c} {k}: ref {a[c][k]} gen {b[c][k]} ({d:.1%})")
    ref, mine = duck_con(ref_dir), duck_con(gen_dir)
    names = sorted({q for w in WORKLOADS.values() for q in w.ops
                    if REGISTRY[q].oracle is not None})
    off = 0
    for q in names:
        (ra, da), (rb, db) = (result_stats(c, REGISTRY[q].oracle) for c in (ref, mine))
        bad = rel(ra, rb) > tol or rel(da, db) > tol
        off += bad
        print(f"  oracle {q:30} rows ref {ra:6} gen {rb:6}   distinct ref {da:7} "
              f"gen {db:7}{'   <- differs' if bad else ''}")
    print(f"sf{sf}: {n} column figures, {soft} differ by more than {tol:.0%}; "
          f"{len(names)} query oracles, {off} differ by more than {tol:.0%} in rows "
          f"or distinct values; {hard} type or column mismatches")
    return 1 if hard or off else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref_dir")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--tol", type=float, default=0.1)
    a = ap.parse_args(argv)
    with tempfile.TemporaryDirectory() as d:
        gen.write(d, a.sf, gen.DATA_SEED)
        return compare(a.ref_dir, d, a.sf, a.tol)


if __name__ == "__main__":
    sys.exit(main())
