"""The window closer's file-reading helpers (streaming/job.py), without
Spark: `_batch_files` reads a micro-batch's raw files from the file source's
log in the checkpoint, and `_footer_range` reads a column's range from the
parquet footers. Either returns None when it cannot answer, which sends the
closer to its aggregate fallback."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from topk_spark.streaming.job import _batch_files, _footer_range


def _write_log(checkpoint: str, name: str, lines: list[str]) -> None:
    log = os.path.join(checkpoint, "sources", "0")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, name), "w") as f:
        f.write("v1\n" + "".join(line + "\n" for line in lines))


def _entry(url: str, batch_id: int) -> str:
    return json.dumps({"path": url, "timestamp": 1_700_000_000_000, "batchId": batch_id})


def test_batch_files_reads_a_plain_batch_log(tmp_path):
    ck = str(tmp_path)
    _write_log(ck, "3", [
        _entry("file:///data/raw/event_date=2024-01-01/part-0.parquet", 3),
        _entry("file:///data/raw/event%20date/part-1.parquet", 3),
    ])
    assert _batch_files(ck, 3) == [
        "/data/raw/event_date=2024-01-01/part-0.parquet",
        "/data/raw/event date/part-1.parquet",
    ]


def test_batch_files_takes_only_its_batch_from_a_compact_file(tmp_path):
    # Spark compacts the source log every 10th batch: batch 9 is only in
    # `9.compact`, next to the files of batches 0-8.
    ck = str(tmp_path)
    _write_log(ck, "9.compact", [
        _entry(f"file:///raw/b{b}-{i}.parquet", b) for b in range(10) for i in range(2)
    ])
    assert _batch_files(ck, 9) == ["/raw/b9-0.parquet", "/raw/b9-1.parquet"]


def test_batch_files_is_none_when_the_log_cannot_be_read(tmp_path):
    ck = str(tmp_path)
    assert _batch_files(ck, 0) is None  # no log
    _write_log(ck, "0", [_entry("hdfs://nn/raw/part-0.parquet", 0)])
    assert _batch_files(ck, 0) is None  # not a local file
    _write_log(ck, "1", [_entry("file:///raw/part-0.parquet", 1), "{not json"])
    assert _batch_files(ck, 1) is None  # malformed line


def test_footer_range_reads_min_max_from_footers(tmp_path):
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"timestamp": pa.array([5, 3, None], pa.int64())}), a)
    pq.write_table(pa.table({"timestamp": pa.array([9, 7], pa.int64())}), b)
    assert _footer_range([a, b], "timestamp") == (3, 9)


def test_footer_range_is_none_without_statistics(tmp_path):
    path = str(tmp_path / "nostats.parquet")
    pq.write_table(pa.table({"timestamp": pa.array([1, 2], pa.int64())}), path,
                   write_statistics=False)
    assert _footer_range([path], "timestamp") is None
