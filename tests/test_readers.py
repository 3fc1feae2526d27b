"""read_wal reads each footer-schema group under the schema the footers
already gave it: the result must equal Spark's own per-file inference
aligned to the evolved schema, and building the DataFrame must launch
no Spark job (no per-batch schema-inference job)."""

import os
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from beehive_data_etl_spark.operators.schema_evolution import align_to_schema
from beehive_data_etl_spark.sources.eventlog import generate_txn_log
from beehive_data_etl_spark.sources.readers import read_wal, schema_groups, wal_files

FIXTURE_ROOT = "/tmp/beehive_fixtures"


@pytest.fixture(scope="module")
def tz_naive_log(tmp_path_factory):
    """Two hand-written files: tz-naive and tz-aware event_ts, plus a
    legacy INT96 timestamp file (Spark's historical default)."""
    d = tmp_path_factory.mktemp("naive")
    base = {
        "op": pa.array(["I", "U"]),
        "op_sequence": pa.array([1, 2], type=pa.int64()),
        "doc_id": pa.array(["a", "a"]),
    }
    ts = pa.array([1_700_000_000_000_000, 1_700_000_001_000_000], type=pa.int64())
    pq.write_table(
        pa.table({**base, "event_ts": ts.cast(pa.timestamp("us"))}),
        os.path.join(d, "part-00000.parquet"),
    )
    pq.write_table(
        pa.table({**base, "event_ts": ts.cast(pa.timestamp("us", tz="UTC"))}),
        os.path.join(d, "part-00001.parquet"),
    )
    pq.write_table(
        pa.table({**base, "event_ts": ts.cast(pa.timestamp("us"))}),
        os.path.join(d, "part-00002.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    return str(d)


def _spark_inferred(spark, log_dir):
    paths = wal_files(log_dir)
    evolved, _ = schema_groups(paths)
    parts = [align_to_schema(spark.read.parquet(f), evolved) for f in paths]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("log", ["smoke", "evolution", "patch", "txn", "tz_naive"])
def test_read_wal_matches_spark_inference(spark, request, log):
    log_dir = {
        "smoke": lambda: request.getfixturevalue("smoke_log"),
        "evolution": lambda: request.getfixturevalue("evolution_log"),
        "patch": lambda: request.getfixturevalue("patch_log"),
        "txn": lambda: generate_txn_log(os.path.join(FIXTURE_ROOT, "f_txn")),
        "tz_naive": lambda: request.getfixturevalue("tz_naive_log"),
    }[log]()
    got = read_wal(spark, log_dir)
    want = _spark_inferred(spark, log_dir)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_read_wal_launches_no_job(spark, evolution_log, tz_naive_log):
    sc = spark.sparkContext
    group = "read-wal-no-job"
    sc.setJobGroup(group, "read_wal planning")
    try:
        read_wal(spark, evolution_log)
        read_wal(spark, wal_files(tz_naive_log)[:2])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
