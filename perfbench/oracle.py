"""Expected answers for query ops, and the order-insensitive check.

Expected answers come from each query's DuckDB oracle (``Query.oracle``)
over the same parquet files Spark reads, canonicalised with
``tests/oracle_harness.canon``. They are computed once per data
directory, before any timing, and cached next to the data.
"""

from __future__ import annotations

import math
import os
import pickle

import pandas as pd

#: Marker for a query without an oracle: only a non-empty result is checked.
ROWS_ONLY = "rows-only"


def expected_answers(registry, names, data_dir: str) -> dict[str, object]:
    from tests.oracle_harness import canon, duck_con

    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    out: dict[str, object] = {}
    con = None
    for name in names:
        q = registry[name]
        if q.oracle is None:
            out[name] = ROWS_ONLY
            continue
        path = os.path.join(cache, f"{name}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                out[name] = pickle.load(fh)
            continue
        con = con or duck_con(data_dir)
        out[name] = canon(con.execute(q.oracle).fetchdf())
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(out[name], fh)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


def check(schema, answer: pd.DataFrame, expected) -> str | None:
    """None when ``answer`` (a Spark result of ``schema`` collected with
    ``toPandas()``) matches ``expected``, else a one-line reason. Same
    rules as ``tests/oracle_harness``: atomic column types, equal column
    sets and row counts, exact values (floats bit-equal, NaN equal to NaN)
    after canonicalisation."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from tests.oracle_harness import canon

    if isinstance(expected, str):  # ROWS_ONLY
        return None if len(answer) > 0 else "rows-only: empty result"
    cplx = [f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    if cplx:
        return f"complex-typed columns {cplx}"
    return compare_frames(canon(answer), expected)


def compare_frames(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    if list(actual.columns) != list(expected.columns):
        return f"columns differ: {list(actual.columns)} vs {list(expected.columns)}"
    if len(actual) != len(expected):
        return f"row count differs: {len(actual)} vs {len(expected)}"
    for c in actual.columns:
        a, e = actual[c], expected[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(e):
            for i, (x, y) in enumerate(zip(a.astype(float), e.astype(float))):
                if not (x == y or (math.isnan(x) and math.isnan(y))):
                    return f"col {c} row {i}: {x!r} vs {y!r}"
        else:
            bad = (a != e) & ~(a.isna() & e.isna())
            if bad.any():
                i = int(bad.to_numpy().nonzero()[0][0])
                return f"col {c} row {i}: {a.iloc[i]!r} vs {e.iloc[i]!r}"
    return None
