"""The table metadata protocol (sources/table_meta.py) without Spark:
the atomic file commit every metadata writer goes through, and the
changelog window check the Replicator, Outbox and Data Source stream
share."""

import functools
import json
import os
import sys
import threading

import pytest

from beehive_data_etl_spark.sources import table_meta as tm


def test_write_json_keeps_old_file_when_replace_fails(tmp_path, monkeypatch):
    path = str(tmp_path / "CURRENT")
    tm.write_json(path, {"version": 1})

    def boom(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(tm.os, "replace", boom)
    with pytest.raises(OSError, match="disk full"):
        tm.write_json(path, {"version": 2})
    monkeypatch.undo()
    assert tm.read_json(path) == {"version": 1}
    assert os.listdir(tmp_path) == ["CURRENT"]  # no tmp file left behind


def test_read_json_missing_is_none(tmp_path):
    assert tm.read_json(str(tmp_path / "nope.json")) is None
    assert tm.current_snapshot(str(tmp_path)) is None


def _run_threads(targets, timeout=60):
    """Start every target under a short switch interval (more thread
    interleavings per write), join each with a timeout, and assert all
    finished."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=t) for t in targets]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)


def test_concurrent_writers_never_tear_a_read(tmp_path):
    """Writers (more than cores) racing on one path while a reader
    polls: every writer succeeds, and every read parses and is one
    writer's whole payload."""
    path = str(tmp_path / "ptr.json")
    n_writers = (os.cpu_count() or 1) + 2
    payloads = [
        {"writer": w, "files": [f"{w}-{i}" for i in range(2000)]}
        for w in range(n_writers)
    ]
    tm.write_json(path, payloads[0])
    done = threading.Event()
    errors = []

    def writer(w):
        try:
            for _ in range(50):
                tm.write_json(path, payloads[w])
        except OSError as e:  # e.g. a shared tmp name moved away
            errors.append(repr(e))

    def writers():
        _run_threads([functools.partial(writer, w) for w in range(n_writers)])
        done.set()

    def reader():
        reads = 0
        while not done.is_set() or reads == 0:
            reads += 1
            try:
                got = tm.read_json(path)
            except ValueError as e:  # a torn file fails to parse
                errors.append(repr(e))
                return
            if got not in payloads:
                errors.append(f"unexpected read {str(got)[:80]}")
                return

    _run_threads([writers, reader], timeout=120)
    assert errors == []
    assert os.listdir(tmp_path) == ["ptr.json"]


def test_pin_tag_loses_no_update_under_contention(tmp_path):
    """Each thread pins its own tag: the read-modify-write of TAGS.json
    runs under table_lock, so no thread's tag is lost."""
    root = str(tmp_path)
    _chain(root, {1: {}})
    names = [f"cursor-{i}" for i in range((os.cpu_count() or 1) * 3)]
    _run_threads([functools.partial(tm.pin_tag, root, n, 1) for n in names])
    assert tm.load_tags(root) == {n: 1 for n in names}


def _chain(root, metrics_by_version):
    os.makedirs(tm.snapshots_dir(root), exist_ok=True)
    for v, m in metrics_by_version.items():
        tm.put_snapshot(root, {"version": v, "metrics": m})


@pytest.mark.parametrize("op", tm.UNSTREAMABLE_OPS)
def test_window_check_finds_first_offending_version(tmp_path, op):
    root = str(tmp_path)
    marker = {op: 1 if op == "rollback_to" else True}
    _chain(root, {1: {}, 2: {}, 3: marker, 4: {}, 5: marker})
    load = functools.partial(tm.load_snapshot, root)
    assert tm.first_unstreamable(load, 0, 5) == (3, op)
    assert tm.first_unstreamable(load, 3, 5) == (5, op)
    assert tm.first_unstreamable(load, 0, 2) is None
    assert tm.first_unstreamable(load, 3, 4) is None


def test_window_check_clean_window(tmp_path):
    root = str(tmp_path)
    _chain(root, {v: {"rows": v, "commit_ts": 1.0} for v in range(1, 6)})
    assert tm.first_unstreamable(
        functools.partial(tm.load_snapshot, root), 0, 5
    ) is None
    tm.refuse_unstreamable_window(root, 0, 5)


def test_head_swap_and_tags(tmp_path):
    root = str(tmp_path)
    _chain(root, {1: {}, 2: {}})
    tm.set_head(root, tm.snap_name(2))
    assert tm.current_snapshot(root)["version"] == 2
    with open(os.path.join(tm.snapshots_dir(root), "CURRENT")) as fh:
        assert fh.read() == "v000002.json"  # plain text, as ever
    tm.pin_tag(root, "cursor", 2)
    tm.pin_tag(root, "cursor", 1, monotonic=True)  # never moves back
    assert tm.resolve_ref(root, "cursor") == 2
    assert tm.resolve_ref(root, "1") == 1
    with pytest.raises(KeyError):
        tm.resolve_ref(root, "nope")
    with open(os.path.join(tm.snapshots_dir(root), "TAGS.json")) as fh:
        assert json.load(fh) == {"cursor": 2}
