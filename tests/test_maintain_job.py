"""The maintenance entry point (scripts/maintain_job.py): compaction +
tombstone GC + vacuum (+ opt-in rebucket) as one schedulable job over
an existing table, each pass its own crash-safe commit."""

import json
import os
import sys

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.streaming.replay import replay_incremental
from beehive_data_etl_spark.verify import compare_final, oracle_final_spark


def test_maintain_job_end_to_end(spark, smoke_log, tmp_path, monkeypatch, capsys):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import maintain_job

    root = str(tmp_path / "t")
    sink = SnapshotSink(spark, root, n_buckets=8, compact_threshold=100)
    replay_incremental(spark, smoke_log, sink, files_per_batch=1)  # many deltas
    max_seq = sink.read_state().agg({"op_sequence": "max"}).collect()[0][0]
    tombs_before = sink.read_state().filter("deleted").count()
    assert tombs_before > 0

    monkeypatch.setattr(sys, "argv", ["maintain_job.py", root])
    monkeypatch.setenv("MAINTAIN_TOMBSTONE_FLOOR", str(int(max_seq) + 1))
    monkeypatch.setenv("MAINTAIN_VACUUM_AGE_S", "0")
    monkeypatch.setenv("MAINTAIN_REBUCKET_TO", "12")
    monkeypatch.setenv("MAINTAIN_SECTIONS", "compact,tombstones,vacuum,fsck")
    monkeypatch.setenv("MAINTAIN_FSCK_DEEP", "1")
    maintain_job.main()
    line = next(
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("MAINTAIN_METRICS ")
    )
    metrics = json.loads(line.split(" ", 1)[1])
    assert metrics["compact"]["compacted"]
    assert metrics["vacuum"]["removed"] >= 0
    # the integrity audit ran clean over the just-maintained table
    # (pre-rebucket head: fsck runs before the opt-in rebucket pass)
    assert metrics["fsck"]["ok"] and metrics["fsck"]["files_checked"] > 0
    assert metrics["rebucket"]["to"] == 12

    # table state is intact and fully maintained
    after = SnapshotSink(spark, root, n_buckets=12)
    state = after.read_state()
    assert state.filter("deleted").count() == 0  # floor above max seq
    assert compare_final(
        state.filter(~state.deleted), oracle_final_spark(spark, smoke_log)
    )["ok"]
    # every bucket is a single compacted file after rebucket
    snap = after.current_snapshot()
    assert all(len(ents) <= 1 for ents in snap["buckets"].values())


def test_maintain_job_no_snapshot_is_noop(spark, tmp_path, monkeypatch, capsys):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import maintain_job

    root = str(tmp_path / "empty")
    os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)
    monkeypatch.setattr(sys, "argv", ["maintain_job.py", root])
    maintain_job.main()
    assert "no snapshot" in capsys.readouterr().out


def test_maintain_sections_strict(spark, smoke_log, tmp_path, monkeypatch):
    """Whitespace tolerated; unknown section names fail loudly instead
    of silently skipping maintenance."""
    import pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import maintain_job

    root = str(tmp_path / "t")
    sink = SnapshotSink(spark, root, n_buckets=4)
    replay_incremental(spark, smoke_log, sink, files_per_batch=4, max_batches=1)
    monkeypatch.setattr(sys, "argv", ["maintain_job.py", root])

    monkeypatch.setenv("MAINTAIN_SECTIONS", "compact, vacuumm")
    with pytest.raises(ValueError, match="vacuumm"):
        maintain_job.main()

    monkeypatch.setenv("MAINTAIN_SECTIONS", " compact , vacuum ")
    monkeypatch.setenv("MAINTAIN_VACUUM_AGE_S", "0")
    maintain_job.main()  # stripped tokens accepted


def test_maintain_sections_run_in_list_order(
    spark, smoke_log, tmp_path, monkeypatch, capsys
):
    """'report,compact' captures the PRE-maintenance state (dirty
    buckets visible in the report even though the same run compacts
    them) — the old hard-coded order made that unobtainable
    (review-found)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import maintain_job

    root = str(tmp_path / "o")
    sink = SnapshotSink(spark, root, n_buckets=4, compact_threshold=100)
    replay_incremental(spark, smoke_log, sink, files_per_batch=1)  # deltas
    monkeypatch.setattr(sys, "argv", ["maintain_job.py", root])
    monkeypatch.setenv("MAINTAIN_SECTIONS", "report,compact")
    maintain_job.main()
    line = next(
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("MAINTAIN_METRICS ")
    )
    metrics = json.loads(line.split(" ", 1)[1])
    # the report saw the dirty pre-compaction buckets...
    assert any(
        r["action"] == "compact" for r in metrics["report"]["recommendations"]
    )
    # ...and the same run then compacted them
    assert metrics["compact"]["compacted"]


def test_maintain_retention_section(spark, tmp_path, monkeypatch, capsys):
    """'retention' sweeps MAINTAIN_DELETE_WHERE (scan_where-grammar
    JSON conjuncts) as an ordinary tombstone batch, then the same run's
    compact folds it — one cron cadence for TTL + layout."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import maintain_job

    root = str(tmp_path / "t")
    sink = SnapshotSink(spark, root, n_buckets=4, compact_threshold=100)
    sink.apply_batch(
        spark.createDataFrame(
            [
                ("I", 100 + i, f"d-{i}", [i], i, "old" if i < 4 else "new")
                for i in range(10)
            ],
            "op string, op_sequence long, doc_id string, tokens array<int>, "
            "n_tok int, source string",
        ),
        "b1",
    )
    monkeypatch.setattr(sys, "argv", ["maintain_job.py", root])
    monkeypatch.setenv("MAINTAIN_SECTIONS", "retention,compact")
    monkeypatch.setenv(
        "MAINTAIN_DELETE_WHERE", json.dumps([["source", "=", "old"]])
    )
    maintain_job.main()
    line = next(
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("MAINTAIN_METRICS ")
    )
    metrics = json.loads(line.split(" ", 1)[1])
    assert metrics["retention"]["deleted"] == 4
    live = {r["doc_id"] for r in sink.read_final().collect()}
    assert live == {f"d-{i}" for i in range(4, 10)}
    # unset env -> section is an explicit skip, not an error
    monkeypatch.delenv("MAINTAIN_DELETE_WHERE")
    monkeypatch.setenv("MAINTAIN_SECTIONS", "retention")
    maintain_job.main()
    line = next(
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("MAINTAIN_METRICS ")
    )
    assert "skipped" in json.loads(line.split(" ", 1)[1])["retention"]


def test_maintain_views_section(spark, tmp_path, monkeypatch, capsys):
    """MAINTAIN_SECTIONS=views folds the delta dirs of the view
    structures under <root>/_views/ (token index + ANN index here):
    each refresh appends a dir, the pass folds them to one and the
    views stay exact."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import maintain_job

    from beehive_data_etl_spark.sinks.ann_index import AnnIndex
    from beehive_data_etl_spark.sinks.token_index import TokenIndex

    root = str(tmp_path / "t")
    schema = (
        "op string, op_sequence long, doc_id string, tokens array<int>, "
        "n_tok int, source string, embedding array<float>"
    )

    def ev(op, seq, doc, toks, vec):
        return (op, seq, doc, toks, len(toks or []), "s", vec)

    sink = SnapshotSink(spark, root, n_buckets=4)
    ix = TokenIndex(
        spark, sink, os.path.join(root, "_views", "token_index"), n_buckets=4
    )
    ann = AnnIndex(
        spark, sink, os.path.join(root, "_views", "ann"), n_cells=2
    )
    vecs = [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5], [0.9, 0.1]]
    for i in range(4):
        sink.apply_batch(
            spark.createDataFrame(
                [ev("I", i + 1, f"d{i}", [i, i + 1], vecs[i])], schema
            ),
            f"b{i}",
        )
        ix.refresh()
        ann.refresh()
    assert len(ix.current()["files"]) > 1
    assert len(ann.current()["files"]) > 1

    monkeypatch.setattr(sys, "argv", ["maintain_job.py", root])
    monkeypatch.setenv("MAINTAIN_SECTIONS", "views")
    monkeypatch.setenv("MAINTAIN_VIEWS_AGE_S", "0")
    maintain_job.main()
    line = next(
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("MAINTAIN_METRICS ")
    )
    metrics = json.loads(line.split(" ", 1)[1])
    assert metrics["views"]["token_index"]["files_folded"] > 1
    assert metrics["views"]["ann"]["files_folded"] > 1
    assert len(ix.current()["files"]) == 1
    assert len(ann.current()["files"]) == 1
    assert ix.verify()["ok"]
    assert ann.verify()["ok"]


def test_maintain_job_compacts_patch_table(
    spark, patch_log, tmp_path, monkeypatch, capsys
):
    """A per-cell (patch=True) table is compacted with the per-cell
    fold: the job opens the table in the mode its head records rather
    than as a row-LWW table (whose max(struct) fold cannot even order
    the _cell_seq map)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import maintain_job

    from beehive_data_etl_spark.verify import oracle_patch_final_spark

    root = str(tmp_path / "t")
    sink = SnapshotSink(spark, root, n_buckets=4, compact_threshold=100, patch=True)
    replay_incremental(spark, patch_log, sink, files_per_batch=1)

    monkeypatch.setattr(sys, "argv", ["maintain_job.py", root])
    monkeypatch.setenv("MAINTAIN_SECTIONS", "compact")
    maintain_job.main()
    line = next(
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("MAINTAIN_METRICS ")
    )
    assert json.loads(line.split(" ", 1)[1])["compact"]["compacted"]

    snap = sink.current_snapshot()
    assert all(len(ents) <= 1 for ents in snap["buckets"].values())
    state = sink.read_state()
    report = compare_final(
        state.filter(~state.deleted), oracle_patch_final_spark(spark, patch_log)
    )
    assert report["ok"], report


def test_rewrite_refuses_fold_mode_mismatch(spark, patch_log, tmp_path):
    """A handle whose fold mode differs from the table's is refused by
    compaction exactly as apply_batch refuses it."""
    import pytest

    root = str(tmp_path / "t")
    sink = SnapshotSink(spark, root, n_buckets=2, compact_threshold=100, patch=True)
    replay_incremental(spark, patch_log, sink, files_per_batch=4, max_batches=2)
    row_handle = SnapshotSink(spark, root, n_buckets=2)
    with pytest.raises(RuntimeError, match="written with patch=True"):
        row_handle.compact()
