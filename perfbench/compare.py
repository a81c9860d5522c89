"""Compare two sets of run records, metric by metric.

    python3 perfbench/compare.py BASE.json... -- NEW.json...

Records are the JSON files ``run.py`` writes under ``perfbench/.cache/records``.
Prints, per workload and metric, the median and quartile spread of each
side and the ratio of the medians. Refuses (exit 2) when the records were
not measured on the same inputs and host: data fingerprints, nproc or CPU
model differ.
"""

from __future__ import annotations

import json
import statistics
import sys

IDENTITY = ("data_fp", "lake_data_fp", "nproc", "cpu_model")


def load(paths):
    recs = []
    for p in paths:
        with open(p) as fh:
            recs.append(json.load(fh))
    return recs


def summary(values):
    if len(values) < 2:
        return values[0], 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else 0.0


def main(argv) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        print(__doc__, file=sys.stderr)
        return 2
    ids = {tuple(r["provenance"].get(k) for k in IDENTITY) for r in base + new}
    if len(ids) != 1:
        print(f"refusing to compare: records differ in {IDENTITY}: {sorted(map(str, ids))}",
              file=sys.stderr)
        return 2
    for wl in sorted({r["workload"] for r in base + new}):
        for section in ("end_to_end", "workload_metrics", "per_layer"):
            b = [r[section] for r in base if r["workload"] == wl and section in r]
            n = [r[section] for r in new if r["workload"] == wl and section in r]
            if not b or not n:
                continue
            for metric in sorted(set(b[0]) & set(n[0])):
                bm, bs = summary([x[metric] for x in b])
                nm, ns = summary([x[metric] for x in n])
                ratio = nm / bm if bm else float("nan")
                print(f"{wl:13s} {metric:32s} base {bm:12.4f} ±{bs:5.1%}  "
                      f"new {nm:12.4f} ±{ns:5.1%}  new/base {ratio:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
