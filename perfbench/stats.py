"""Summary statistics and storage arithmetic used by every workload."""

from __future__ import annotations

import os
import statistics

# a tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> dict:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    above it: with ``n`` sorted samples that is the ``n - 10``-th
    smallest, reported with its percentile ``100 * (n - 10) / n`` and
    the sample count.  Fewer than ``TAIL_BEYOND + 1`` samples have no
    such percentile; the value is then ``None``."""
    s = sorted(xs)
    n = len(s)
    k = n - TAIL_BEYOND
    if k < 1:
        return {"value": None, "percentile": None, "samples": n}
    return {"value": s[k - 1], "percentile": 100.0 * k / n, "samples": n}


def summary(xs) -> dict:
    """Median, tail and count of one latency sample set (seconds)."""
    t = tail(xs)
    return {
        "p50_s": median(xs) if xs else None,
        "tail_s": t["value"],
        "tail_percentile": t["percentile"],
        "samples": t["samples"],
    }


def dir_files(root: str) -> dict[str, int]:
    """``{relative path: size}`` of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


class WriteCounter:
    """Bytes ever written under a directory, from successive listings.

    A file counts once, at the first listing that shows it; a file that
    is removed (vacuum) keeps counting, and a path that reappears with
    a different size counts again.
    """

    def __init__(self, root: str):
        self.root = root
        self.seen: dict[str, int] = {}
        self.written = 0

    def poll(self) -> int:
        """Count new files; return the bytes they added."""
        added = 0
        for p, size in dir_files(self.root).items():
            if self.seen.get(p) != size:
                self.seen[p] = size
                added += size
        self.written += added
        return added


def amplification(bytes_on_disk: int, bytes_logical: int) -> float:
    """Physical bytes per logical byte."""
    if bytes_logical <= 0:
        raise ValueError("logical size must be positive")
    return bytes_on_disk / bytes_logical


def parquet_bytes(df, path: str) -> int:
    """Size of ``df`` (pandas) written once as one snappy parquet file,
    the codec the engine's writers use."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path,
        compression="snappy",
    )
    size = os.path.getsize(path)
    os.remove(path)
    return size
