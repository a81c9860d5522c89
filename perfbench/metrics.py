"""Pure metric arithmetic: percentiles, span self time, storage amplification.

Nothing here touches Spark, so the tests in ``test_perfbench.py`` exercise
it directly.
"""

from __future__ import annotations

import math
import os
import stat
from collections.abc import Iterable

#: Candidate percentiles for ``op_tail_s``, highest first.
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n_ops: int, beyond: int = 10) -> float | None:
    """Highest candidate percentile with at least ``beyond`` of ``n_ops``
    samples above it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if n_ops * (100.0 - p) / 100.0 >= beyond:
            return p
    return None


def percentile(values: Iterable[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' rule of
    ``statistics.quantiles`` and NumPy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return percentile(values, 50.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once). ``spans`` are dicts with ``id``, ``parent``,
    ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def failed_ratio(ops: list[dict]) -> float:
    """Ops that raised or returned a wrong result, over ops attempted."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def file_inodes(root: str) -> dict[tuple[int, int], int]:
    """``(st_dev, st_ino) -> size`` of every regular file under ``root``.
    Keying on the inode makes a hardlinked file count once."""
    out: dict[tuple[int, int], int] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if stat.S_ISREG(st.st_mode):
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out


class StorageMeter:
    """Tracks bytes written under a table directory across commits.

    ``observe()`` after each write charges the bytes of inodes not seen
    before; a hardlink to an existing file adds no bytes. ``write_amp``
    is bytes written per byte of user delta; ``space_amp`` is bytes on
    disk per byte of the latest snapshot.
    """

    def __init__(self, root: str):
        self.root = root
        self.seen = file_inodes(root)
        self.bytes_written = 0
        self.files_written = 0
        self.files_hardlinked = 0
        self.delta_bytes = 0

    def observe(self, delta_bytes: int, new_dir: str | None = None) -> None:
        """Charge one commit: ``delta_bytes`` of user change, and every
        file under the root whose inode was not there before. Files of
        the committed version ``new_dir`` whose inode was already known
        were hardlinked rather than rewritten."""
        now = file_inodes(self.root)
        fresh = {k: v for k, v in now.items() if k not in self.seen}
        self.bytes_written += sum(fresh.values())
        self.files_written += len(fresh)
        if new_dir is not None:
            self.files_hardlinked += sum(
                1 for k in file_inodes(new_dir) if k in self.seen)
        self.seen = now
        self.delta_bytes += delta_bytes

    def write_amp(self) -> float:
        return self.bytes_written / self.delta_bytes if self.delta_bytes else 0.0

    def space_amp(self, snapshot_files: Iterable[str]) -> float:
        snap = {}
        for p in snapshot_files:
            st = os.stat(p)
            snap[(st.st_dev, st.st_ino)] = st.st_size
        total = sum(file_inodes(self.root).values())
        return total / sum(snap.values()) if snap else 0.0
