"""The bucket-layout invariant the sink's data writes rely on.

Ingest, compaction and rebucket all write through one shuffle on
``_bucket`` whose width is the session's shuffle partitions (8 in the
test session), not the bucket count. Hashing on ``_bucket`` must still
put every bucket in exactly one write task, whatever the ratio of
buckets to partitions: one file per bucket dir, and with
``target_file_rows`` the split files of a sorted rewrite cover disjoint
key ranges in file-name order."""

import glob
import os

import numpy as np
import pytest

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources.readers import read_wal, wal_files
from beehive_data_etl_spark.verify import oracle_final_duckdb

OTHER = {2: 16, 16: 64, 64: 2}


def _batches(spark, log_dir):
    """One batch per WAL file (8 for the smoke log)."""
    return [read_wal(spark, [f]) for f in wal_files(log_dir)]


def _bucket_dirs(root):
    return glob.glob(os.path.join(root, "data", "ingest=*", "bucket=*"))


def _assert_one_file_per_bucket_dir(root, step):
    dirs = _bucket_dirs(root)
    assert dirs, step
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, f"{step}: {d} holds {len(files)} files"


def _assert_matches_oracle(sink, log_dir):
    state = sink.read_state()
    engine = (
        state.filter(~state.deleted)
        .select("doc_id", "op_sequence", "tokens")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    oracle = oracle_final_duckdb(log_dir).sort_values("doc_id").reset_index(drop=True)
    assert list(engine.doc_id) == list(oracle.doc_id)
    assert list(engine.op_sequence) == list(oracle.op_sequence)
    for e, o in zip(engine.tokens, oracle.tokens):
        assert np.array_equal(np.asarray(e), np.asarray(o))


def _assert_split_ranges_disjoint_sorted(sink, step):
    snap = sink.current_snapshot()
    split = 0
    for b, ents in snap["buckets"].items():
        for e in ents:
            if not e.get("compacted"):
                continue
            spans = [rng for _, rng in sorted(e["file_ranges"].items())]
            split += len(spans) > 1
            for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]):
                assert a_hi < b_lo, f"{step}: bucket {b} ranges {spans}"
    assert split, f"{step}: target_file_rows split no bucket"


@pytest.mark.parametrize("n_buckets", [2, 16, 64])
def test_one_file_per_bucket_on_every_write_path(spark, smoke_log, tmp_path, n_buckets):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 8
    batches = _batches(spark, smoke_log)
    sink = SnapshotSink(spark, str(tmp_path / "t"), n_buckets=n_buckets, compact_threshold=2)
    sink.apply_batch(batches[0], "b0")
    m = sink.apply_batch(batches[1], "b1")
    assert m["appended_buckets"] and not m["compacted_buckets"]
    _assert_one_file_per_bucket_dir(sink.root, "append")
    m = sink.apply_batch(batches[2], "b2")
    assert m["compacted_buckets"]  # inline fold of the 2-delta buckets
    _assert_one_file_per_bucket_dir(sink.root, "inline compaction")
    sink.apply_batch(batches[3], "b3")
    assert sink.compact()["compacted"]
    _assert_one_file_per_bucket_dir(sink.root, "compact")
    assert sink.compact(cluster_by=["source"])["compacted"]
    _assert_one_file_per_bucket_dir(sink.root, "compact cluster_by")
    assert sink.compact(cluster_by=["n_tok", "source"], zorder=True)["compacted"]
    _assert_one_file_per_bucket_dir(sink.root, "compact zorder")
    sink.rebucket(OTHER[n_buckets])
    _assert_one_file_per_bucket_dir(sink.root, "rebucket")
    for i, b in enumerate(batches[4:], start=4):
        sink.apply_batch(b, f"b{i}")
    _assert_one_file_per_bucket_dir(sink.root, "ingest after rebucket")
    _assert_matches_oracle(sink, smoke_log)


@pytest.mark.parametrize("n_buckets", [2, 16, 64])
def test_split_files_cover_disjoint_sorted_ranges(spark, smoke_log, tmp_path, n_buckets):
    # splits every bucket of the 300-doc table in both bucket counts
    rows = max(2, 300 // max(n_buckets, OTHER[n_buckets]) // 2)
    sink = SnapshotSink(
        spark, str(tmp_path / "t"), n_buckets=n_buckets, compact_threshold=100,
        target_file_rows=rows,
    )
    for i, b in enumerate(_batches(spark, smoke_log)):
        sink.apply_batch(b, f"b{i}")
    sink.compact()
    _assert_split_ranges_disjoint_sorted(sink, "compact")
    sink.rebucket(OTHER[n_buckets])
    _assert_split_ranges_disjoint_sorted(sink, "rebucket")
    _assert_matches_oracle(sink, smoke_log)
