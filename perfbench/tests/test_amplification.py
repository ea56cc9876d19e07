"""Write/space amplification arithmetic on a toy table directory."""

import os

import pandas as pd
import pytest

from perfbench import stats


def _write(path, n):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * n)


def test_write_counter_counts_each_file_once_and_keeps_removed_ones(tmp_path):
    root = str(tmp_path)
    _write(f"{root}/data/a.parquet", 100)
    _write(f"{root}/_txn_log/0.json", 10)
    wc = stats.WriteCounter(root)
    assert wc.poll() == 110
    assert wc.poll() == 0  # nothing new
    os.remove(f"{root}/data/a.parquet")  # vacuumed: stays counted
    _write(f"{root}/data/b.parquet", 50)
    assert wc.poll() == 50
    assert wc.written == 160
    assert sum(stats.dir_files(root).values()) == 60


def test_rewritten_path_counts_again(tmp_path):
    root = str(tmp_path)
    _write(f"{root}/f", 10)
    wc = stats.WriteCounter(root)
    wc.poll()
    _write(f"{root}/f", 30)
    assert wc.poll() == 30
    assert wc.written == 40


def test_amplification_is_physical_over_logical():
    assert stats.amplification(300, 100) == 3.0
    with pytest.raises(ValueError):
        stats.amplification(1, 0)


def test_parquet_bytes_writes_once_and_cleans_up(tmp_path):
    df = pd.DataFrame({"k": range(1000), "v": [1.5] * 1000})
    path = str(tmp_path / "x.parquet")
    n = stats.parquet_bytes(df, path)
    assert n > 0 and not os.path.exists(path)
    assert stats.parquet_bytes(df, path) == n  # deterministic
