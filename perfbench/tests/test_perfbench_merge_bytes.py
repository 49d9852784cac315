"""merge.bytes_written counts the files a merge wrote, not the table."""

from __future__ import annotations

import os

import daemon


def _write(path, n: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * n)


def test_counts_new_and_rewritten_files_only(tmp_path):
    table = str(tmp_path / "table")
    for b in range(4):
        _write(os.path.join(table, "current", f"bucket={b}", "part-0.parquet"), 100)
    before = daemon.file_versions(table)
    # a partial merge: bucket 1 rewritten through a scratch dir and
    # renamed into place, bucket 2 deleted, a new bucket 4 written
    _write(os.path.join(table, "next", "bucket=1", "part-0.parquet"), 120)
    os.replace(os.path.join(table, "next", "bucket=1", "part-0.parquet"),
               os.path.join(table, "current", "bucket=1", "part-0.parquet"))
    os.remove(os.path.join(table, "current", "bucket=2", "part-0.parquet"))
    _write(os.path.join(table, "current", "bucket=4", "part-0.parquet"), 30)
    # a file moved without being rewritten is not written
    os.rename(os.path.join(table, "current", "bucket=3"), os.path.join(table, "current", "bucket=5"))
    assert daemon.bytes_written(before, daemon.file_versions(table)) == 150
