"""Deterministic synthetic change-event log (binlog/WAL) generator.

Implements FIXTURES.md F2/F3: a parquet directory of sequentially
numbered files that a file-tail source replays in order. Every value is
a pure function of ``(doc_id, op_sequence, seed)`` so any independent
oracle can regenerate the payload of any event without reading the log.

The reference pipeline's "change feed" is a re-run of its fetchers
overwriting MongoDB documents keyed by a record identifier (SURVEY.md
§1.1); this generator produces the explicit CDC lift of that behavior:
ordered I/U/D events keyed by ``doc_id`` with last-writer-wins
semantics over ``op_sequence``.

Generation is fully numpy-vectorized (no per-row Python) and writes
via pyarrow — this is a *fixture tool*, deliberately driver-side; the
engine itself never generates data.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .table_meta import read_json, write_json

VOCAB = 50257  # GPT-2-ish vocab size for synthetic token ids
MAX_LEN = 512
_PRIME1 = np.uint64(0x9E3779B97F4A7C15)
_PRIME2 = np.uint64(0xBF58476D1CE4E5B9)
_PRIME3 = np.uint64(0x94D049BB133111EB)

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

BASE_ENVELOPE_DDL = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string, event_ts timestamp, batch_hint int"
)
EVOLVED_ENVELOPE_DDL = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok long, source string, event_ts timestamp, batch_hint int, "
    "lang string"
)
BASE_ENVELOPE_SCHEMA = BASE_ENVELOPE_DDL
EVOLVED_ENVELOPE_SCHEMA = EVOLVED_ENVELOPE_DDL

_SOURCES = np.array(["grants_360giving", "charity_register", "companies_house", "manual"])
_LANGS = np.array(["en", "cy", "gd", "fr"])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant mixer)."""
    with np.errstate(over="ignore"):
        x = (x + _PRIME1).astype(np.uint64)
        x = ((x ^ (x >> np.uint64(30))) * _PRIME2).astype(np.uint64)
        x = ((x ^ (x >> np.uint64(27))) * _PRIME3).astype(np.uint64)
        return x ^ (x >> np.uint64(31))


def _event_keys(doc_idx: np.ndarray, op_seq: np.ndarray, seed: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return _splitmix64(
            doc_idx.astype(np.uint64) * _PRIME2
            ^ op_seq.astype(np.uint64) * _PRIME3
            ^ np.uint64(seed)
        )


def _lengths(keys: np.ndarray) -> np.ndarray:
    return (1 + (_splitmix64(keys ^ _PRIME1) % np.uint64(MAX_LEN))).astype(np.int64)


def _ragged_tokens(keys: np.ndarray, lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Ragged token payloads: returns (offsets[int64, n+1], values[int32])."""
    offsets = np.zeros(len(keys) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    total = int(offsets[-1])
    per_tok_event = np.repeat(np.arange(len(keys), dtype=np.int64), lengths)
    j = np.arange(total, dtype=np.uint64) - np.repeat(
        offsets[:-1].astype(np.uint64), lengths
    )
    with np.errstate(over="ignore"):
        vals = (
            _splitmix64(keys[per_tok_event] ^ (j + np.uint64(1)) * _PRIME3)
            % np.uint64(VOCAB)
        ).astype(np.int32)
    return offsets, vals


def _ragged_gather(
    offsets: np.ndarray, values: np.ndarray, sel: np.ndarray, lengths: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized gather of selected ragged rows → (new_offsets, new_values)."""
    lens = lengths[sel]
    new_off = np.zeros(len(sel) + 1, dtype=np.int64)
    np.cumsum(lens, out=new_off[1:])
    total = int(new_off[-1])
    if total == 0:
        return new_off, np.array([], dtype=values.dtype)
    starts = offsets[sel]
    idx = np.repeat(starts - new_off[:-1], lens) + np.arange(total, dtype=np.int64)
    return new_off, values[idx]


def tokens_for(doc_idx: int, op_seq: int, seed: int = 42) -> np.ndarray:
    """Oracle-side regeneration of one event's token payload."""
    key = _event_keys(np.array([doc_idx]), np.array([op_seq]), seed)
    n = _lengths(key)
    _, vals = _ragged_tokens(key, n)
    return vals


def _zipf_probs(n: int, s: float = 1.2) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks**-s
    return p / p.sum()


def generate_event_log(
    out_dir: str,
    n_docs: int = 500,
    n_events: int = 5000,
    n_files: int = 10,
    seed: int = 42,
    p_ops: tuple[float, float, float] = (0.2, 0.7, 0.1),
    p_duplicate: float = 0.02,
    p_out_of_order: float = 0.05,
    zipf_s: float = 1.2,
    evolution_split: int | None = None,
    n_jobs: int | None = None,
    doc_id_offset: int = 0,
) -> str:
    """Write a deterministic CDC event log to ``out_dir``.

    Files ``part-00000.parquet`` … replay in lexical order. Doc ids are
    Zipf(s)-distributed (hot keys for the skew path, SURVEY.md §2 A8).
    ``p_duplicate`` re-emits events verbatim in a later file
    (exactly-once check); ``p_out_of_order`` displaces events 1-3 files
    late (LWW/late-data check). With ``evolution_split``, events with
    ``op_sequence > split`` carry the evolved envelope: added ``lang``
    column and ``n_tok`` widened int32→int64 (FIXTURES.md F3).

    Returns ``out_dir``. Idempotent: skips generation when a matching
    ``_meta.json`` already exists.
    """
    meta = {
        "n_docs": n_docs,
        "n_events": n_events,
        "n_files": n_files,
        "seed": seed,
        "p_ops": list(p_ops),
        "p_duplicate": p_duplicate,
        "p_out_of_order": p_out_of_order,
        "zipf_s": zipf_s,
        "evolution_split": evolution_split,
        "doc_id_offset": doc_id_offset,
        "version": 6,
    }
    meta_path = os.path.join(out_dir, "_meta.json")
    if read_json(meta_path) == meta:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    doc_idx = rng.choice(n_docs, size=n_events, p=_zipf_probs(n_docs, zipf_s))
    op_seq = np.arange(1, n_events + 1, dtype=np.int64)
    roll = rng.random(n_events)
    op = np.where(roll < p_ops[0], "I", np.where(roll < p_ops[0] + p_ops[1], "U", "D"))
    # first occurrence per doc forced to 'I': reverse-order scatter keeps
    # the earliest event index per doc
    order_of_first = np.full(n_docs, -1, dtype=np.int64)
    rev = np.arange(n_events - 1, -1, -1)
    order_of_first[doc_idx[rev]] = rev
    first_mask = np.zeros(n_events, dtype=bool)
    first_mask[order_of_first[order_of_first >= 0]] = True
    op = np.where(first_mask, "I", op)
    is_del = op == "D"

    keys = _event_keys(doc_idx, op_seq, seed)
    lengths = _lengths(keys)
    lengths_eff = np.where(is_del, 0, lengths)
    n_tok_vals = lengths.astype(np.int64)

    # doc_id_offset shifts the printed key range (shard i of a
    # key-partitioned deployment owns [offset, offset + n_docs)) without
    # touching payload derivation, which keys off the local doc_idx
    # np.char.zfill TRUNCATES to its width (output dtype is U<width>),
    # so ids >= 1e8 would silently collide with lower shards' "disjoint"
    # ranges under a fixed width 8 — size the width to the largest id
    # of this generation instead (>= 8 keeps legacy ids byte-identical)
    id_width = max(8, len(str(n_docs - 1 + doc_id_offset)))
    doc_ids = np.char.add(
        "doc-", np.char.zfill((doc_idx + doc_id_offset).astype(f"U{id_width}"), id_width)
    )
    source = _SOURCES[_splitmix64(doc_idx.astype(np.uint64)) % np.uint64(len(_SOURCES))]
    event_ts = (
        np.int64(BASE_TS.timestamp() * 1_000_000) + op_seq * np.int64(1_000_000)
    )

    events_per_file = max(1, (n_events + n_files - 1) // n_files)
    file_idx = (np.arange(n_events) // events_per_file).astype(np.int32)
    ooo = rng.random(n_events) < p_out_of_order
    file_idx = np.where(
        ooo,
        np.minimum(file_idx + rng.integers(1, 4, size=n_events), n_files - 1),
        file_idx,
    ).astype(np.int32)

    dup_sel = np.flatnonzero(rng.random(n_events) < p_duplicate)
    dup_file_idx = np.minimum(
        file_idx[dup_sel] + rng.integers(1, 4, size=len(dup_sel)), n_files - 1
    ).astype(np.int32)

    evolved = (
        np.zeros(n_events, dtype=bool)
        if evolution_split is None
        else (op_seq > evolution_split)
    )
    lang = _LANGS[
        _splitmix64(doc_idx.astype(np.uint64) ^ _PRIME2) % np.uint64(len(_LANGS))
    ]

    def _build_table(sel: np.ndarray, f: int, want_evolved: bool) -> pa.Table:
        # token payloads are pure functions of (doc, seq) — computed
        # here per file so generation parallelizes across files
        new_off, new_vals = _ragged_tokens(keys[sel], lengths_eff[sel])
        del_mask = is_del[sel]
        toks = pa.ListArray.from_arrays(
            pa.array(new_off.astype(np.int32), type=pa.int32()),
            pa.array(new_vals, type=pa.int32()),
        )
        if del_mask.any():
            # null-out deleted payloads (tokens/n_tok are null on 'D'):
            # take() with a null index yields a null list entry
            indices = pa.array(np.arange(len(sel), dtype=np.int64), mask=del_mask)
            toks = toks.take(indices)
        nt = n_tok_vals[sel].copy()
        if want_evolved and evolution_split is not None:
            # one deliberate >2^31 value proves the int64 widening (F3)
            big = np.flatnonzero(op_seq[sel] == evolution_split + 1)
            if len(big):
                nt[big[0]] = np.int64(2**31) + 7
        nt_type = pa.int64() if want_evolved else pa.int32()
        cols = {
            "op": pa.array(op[sel]),
            "op_sequence": pa.array(op_seq[sel], type=pa.int64()),
            "doc_id": pa.array(doc_ids[sel]),
            "tokens": toks,
            "n_tok": pa.array(nt, type=nt_type, mask=del_mask),
            "source": pa.array(source[sel]),
            "event_ts": pa.array(event_ts[sel], type=pa.timestamp("us", tz="UTC")),
            "batch_hint": pa.array(np.full(len(sel), f, dtype=np.int32)),
        }
        if want_evolved:
            cols["lang"] = pa.array(lang[sel])
        return pa.table(cols)

    all_idx = np.concatenate([np.arange(n_events), dup_sel]).astype(np.int64)
    all_file = np.concatenate([file_idx, dup_file_idx])

    def _write_file(f: int) -> None:
        sel = all_idx[all_file == f]
        sel = sel[np.argsort(op_seq[sel], kind="stable")]
        if evolution_split is None:
            tbl = _build_table(sel, f, False)
        else:
            ev = evolved[sel]
            if not ev.any():
                tbl = _build_table(sel, f, False)
            elif ev.all():
                tbl = _build_table(sel, f, True)
            else:
                # mixed file: promote pre-split rows to the evolved schema
                base = _build_table(sel[~ev], f, False)
                base = base.set_column(
                    base.schema.get_field_index("n_tok"),
                    "n_tok",
                    base["n_tok"].cast(pa.int64()),
                ).append_column("lang", pa.nulls(base.num_rows, type=pa.string()))
                tbl = pa.concat_tables([base, _build_table(sel[ev], f, True)]).sort_by(
                    "op_sequence"
                )
        # modest row groups: the row group is the parquet scan's unit of
        # parallelism — one giant group per file would cap a replay
        # batch's scan at files_per_batch tasks
        pq.write_table(
            tbl, os.path.join(out_dir, f"part-{f:05d}.parquet"),
            row_group_size=20000,
        )

    n_jobs = n_jobs or 1
    if n_jobs > 1 and n_events >= 100_000 and hasattr(os, "fork"):
        # fork-based fan-out: workers inherit the (copy-on-write) event
        # arrays and each materializes + writes its own files
        global _FORK_WRITE
        _FORK_WRITE = _write_file
        import multiprocessing as _mp

        with _mp.get_context("fork").Pool(min(n_jobs, n_files)) as pool:
            pool.map(_fork_entry, range(n_files))
    else:
        for f in range(n_files):
            _write_file(f)
    write_json(meta_path, meta)
    return out_dir


_FORK_WRITE = None


def _fork_entry(f: int) -> None:
    _FORK_WRITE(f)


PATCH_ENVELOPE_DDL = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string, patch_cols array<string>, "
    "event_ts timestamp, batch_hint int"
)


def generate_patch_log(
    out_dir: str,
    n_docs: int = 500,
    n_events: int = 5000,
    n_files: int = 10,
    seed: int = 43,
    p_ops: tuple[float, float, float, float] = (0.1, 0.2, 0.05, 0.65),
    p_duplicate: float = 0.02,
    p_out_of_order: float = 0.05,
    zipf_s: float = 1.2,
) -> str:
    """Patch-envelope variant of ``generate_event_log``: ops are
    I/U/D/P (``p_ops`` in that order; first event per doc forced 'I'),
    and 'P' events carry ``patch_cols`` — alternating deterministically
    between ``["tokens","n_tok"]`` (a re-tokenization patch) and
    ``["source"]`` (a metadata patch) — with the UNMASKED payload
    columns NULL on the wire. Same determinism contract as the main
    generator: every value is a pure function of (doc, seq, seed), so
    ``verify.oracle_patch_final_spark`` can re-derive the final state
    independently. Duplicates re-emit verbatim in later files and
    ``p_out_of_order`` displaces events across files, exercising the
    per-cell fold's order-insensitivity end-to-end."""
    meta = {
        "kind": "patch",
        "n_docs": n_docs,
        "n_events": n_events,
        "n_files": n_files,
        "seed": seed,
        "p_ops": list(p_ops),
        "p_duplicate": p_duplicate,
        "p_out_of_order": p_out_of_order,
        "zipf_s": zipf_s,
        "version": 2,  # v2: source varies by (doc, seq)
    }
    meta_path = os.path.join(out_dir, "_meta.json")
    if read_json(meta_path) == meta:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    doc_idx = rng.choice(n_docs, size=n_events, p=_zipf_probs(n_docs, zipf_s))
    op_seq = np.arange(1, n_events + 1, dtype=np.int64)
    roll = rng.random(n_events)
    c = np.cumsum(p_ops)
    op = np.where(
        roll < c[0], "I",
        np.where(roll < c[1], "U", np.where(roll < c[2], "D", "P")),
    )
    order_of_first = np.full(n_docs, -1, dtype=np.int64)
    rev = np.arange(n_events - 1, -1, -1)
    order_of_first[doc_idx[rev]] = rev
    first_mask = np.zeros(n_events, dtype=bool)
    first_mask[order_of_first[order_of_first >= 0]] = True
    op = np.where(first_mask, "I", op)
    is_del = op == "D"
    is_patch = op == "P"

    keys = _event_keys(doc_idx, op_seq, seed)
    # mask kind for P rows: even key → tokens+n_tok, odd key → source
    mask_tok = is_patch & ((keys % np.uint64(2)) == 0)
    mask_src = is_patch & ~mask_tok
    # a cell's value is NULL when the event does not set it
    tok_null = is_del | mask_src
    src_null = is_del | mask_tok

    lengths = _lengths(keys)
    lengths_eff = np.where(tok_null, 0, lengths)
    n_tok_vals = lengths.astype(np.int64)
    doc_ids = np.char.add("doc-", np.char.zfill(doc_idx.astype("U8"), 8))
    # source varies by (doc, seq) — NOT per doc like the main
    # generator: 'source' is the only solo-mask cell, so a constant
    # per-doc value would make every setter identical and a wrong
    # cell-LWW winner undetectable (review-found test blind spot)
    source = _SOURCES[keys % np.uint64(len(_SOURCES))]
    event_ts = (
        np.int64(BASE_TS.timestamp() * 1_000_000) + op_seq * np.int64(1_000_000)
    )

    events_per_file = max(1, (n_events + n_files - 1) // n_files)
    file_idx = (np.arange(n_events) // events_per_file).astype(np.int32)
    ooo = rng.random(n_events) < p_out_of_order
    file_idx = np.where(
        ooo,
        np.minimum(file_idx + rng.integers(1, 4, size=n_events), n_files - 1),
        file_idx,
    ).astype(np.int32)
    dup_sel = np.flatnonzero(rng.random(n_events) < p_duplicate)
    dup_file_idx = np.minimum(
        file_idx[dup_sel] + rng.integers(1, 4, size=len(dup_sel)), n_files - 1
    ).astype(np.int32)

    def _build_table(sel: np.ndarray, f: int) -> pa.Table:
        new_off, new_vals = _ragged_tokens(keys[sel], lengths_eff[sel])
        toks = pa.ListArray.from_arrays(
            pa.array(new_off.astype(np.int32), type=pa.int32()),
            pa.array(new_vals, type=pa.int32()),
        )
        tnull = tok_null[sel]
        if tnull.any():
            toks = toks.take(
                pa.array(np.arange(len(sel), dtype=np.int64), mask=tnull)
            )
        # patch_cols: ragged list<string>, NULL for full events
        pc_lens = np.where(mask_tok[sel], 2, np.where(mask_src[sel], 1, 0))
        pc_off = np.zeros(len(sel) + 1, dtype=np.int32)
        np.cumsum(pc_lens, out=pc_off[1:])
        pc_flat: list[str] = []
        for i in np.flatnonzero(pc_lens):  # patch rows only — test-scale
            pc_flat.extend(
                ["tokens", "n_tok"] if mask_tok[sel][i] else ["source"]
            )
        pc = pa.ListArray.from_arrays(
            pa.array(pc_off, type=pa.int32()), pa.array(pc_flat, type=pa.string())
        )
        full_mask = ~is_patch[sel]
        if full_mask.any():
            pc = pc.take(
                pa.array(np.arange(len(sel), dtype=np.int64), mask=full_mask)
            )
        return pa.table(
            {
                "op": pa.array(op[sel]),
                "op_sequence": pa.array(op_seq[sel], type=pa.int64()),
                "doc_id": pa.array(doc_ids[sel]),
                "tokens": toks,
                "n_tok": pa.array(n_tok_vals[sel], type=pa.int32(), mask=tnull),
                "source": pa.array(source[sel], mask=src_null[sel]),
                "patch_cols": pc,
                "event_ts": pa.array(event_ts[sel], type=pa.timestamp("us", tz="UTC")),
                "batch_hint": pa.array(np.full(len(sel), f, dtype=np.int32)),
            }
        )

    all_idx = np.concatenate([np.arange(n_events), dup_sel]).astype(np.int64)
    all_file = np.concatenate([file_idx, dup_file_idx])
    for f in range(n_files):
        sel = all_idx[all_file == f]
        sel = sel[np.argsort(op_seq[sel], kind="stable")]
        pq.write_table(
            _build_table(sel, f),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
            row_group_size=20000,
        )
    write_json(meta_path, meta)
    return out_dir


TXN_ENVELOPE_DDL = (
    "op string, op_sequence long, doc_id string, tokens array<int>, "
    "n_tok int, source string, event_ts timestamp, batch_hint int, "
    "table_name string, txn_id long, txn_events long"
)


def generate_txn_log(
    out_dir: str,
    tables: tuple[str, ...] = ("docs", "meta"),
    n_docs: int = 200,
    n_txns: int = 400,
    n_files: int = 10,
    seed: int = 42,
    max_txn_events: int = 6,
    p_abort: float = 0.06,
    p_unterminated: float = 0.03,
    p_late_marker: float = 0.25,
    p_out_of_order: float = 0.05,
    p_duplicate: float = 0.02,
) -> str:
    """Multi-table TRANSACTIONAL CDC log (the Debezium shape: data
    events tagged ``(table_name, txn_id)`` interleaved with per-txn
    commit/rollback markers).

    Stream layout: data events of concurrent transactions fully
    interleave (a random permutation assigns each stream slot to a
    txn); each committed txn emits exactly one marker row ``op='C'``
    with ``txn_events`` = its data-event count (the transaction-metadata
    record), placed in the file of the txn's LAST event — or 1-2 files
    later with ``p_late_marker`` (txns spanning micro-batches).
    ``p_abort`` txns emit ``op='R'`` instead (their events must never
    apply); ``p_unterminated`` txns emit NO marker (stay pending
    forever — the stuck-txn report's food). ``p_out_of_order``
    displaces data events 1-3 files late, so a marker can precede some
    of its own events in replay order; ``p_duplicate`` re-emits events
    verbatim in a later file. Marker rows carry null doc_id/payload and
    a distinct op_sequence range (markers never participate in LWW).

    Every payload is a pure function of (table, doc, op_sequence, seed)
    — see ``oracle_txn_final_duckdb`` for the independent replay.
    """
    meta = {
        "tables": list(tables),
        "n_docs": n_docs,
        "n_txns": n_txns,
        "n_files": n_files,
        "seed": seed,
        "max_txn_events": max_txn_events,
        "p_abort": p_abort,
        "p_unterminated": p_unterminated,
        "p_late_marker": p_late_marker,
        "p_out_of_order": p_out_of_order,
        "p_duplicate": p_duplicate,
        "version": 2,
    }
    meta_path = os.path.join(out_dir, "_meta.json")
    if read_json(meta_path) == meta:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    txn_sizes = rng.integers(1, max_txn_events + 1, size=n_txns)
    n_events = int(txn_sizes.sum())
    # full interleave: slot i belongs to txn txn_of[i]
    txn_of = rng.permutation(np.repeat(np.arange(n_txns, dtype=np.int64), txn_sizes))
    op_seq = np.arange(1, n_events + 1, dtype=np.int64)

    table_idx = rng.integers(0, len(tables), size=n_events)
    doc_idx = rng.integers(0, n_docs, size=n_events)
    roll = rng.random(n_events)
    op = np.where(roll < 0.75, "U", np.where(roll < 0.9, "I", "D"))
    # first occurrence per (table, doc) forced to 'I'
    flat = table_idx * n_docs + doc_idx
    order_of_first = np.full(len(tables) * n_docs, -1, dtype=np.int64)
    rev = np.arange(n_events - 1, -1, -1)
    order_of_first[flat[rev]] = rev
    first_mask = np.zeros(n_events, dtype=bool)
    first_mask[order_of_first[order_of_first >= 0]] = True
    op = np.where(first_mask, "I", op)
    is_del = op == "D"

    # payloads keyed off a per-table doc namespace so identical doc ids
    # in different tables carry independent token streams
    keys = _event_keys(doc_idx + table_idx * np.int64(1_000_003), op_seq, seed)
    lengths = _lengths(keys)
    lengths_eff = np.where(is_del, 0, lengths)
    n_tok_vals = lengths.astype(np.int64)
    doc_ids = np.char.add("doc-", np.char.zfill(doc_idx.astype("U8"), 8))
    source = _SOURCES[_splitmix64(doc_idx.astype(np.uint64)) % np.uint64(len(_SOURCES))]
    event_ts = (
        np.int64(BASE_TS.timestamp() * 1_000_000) + op_seq * np.int64(1_000_000)
    )
    table_names = np.asarray(tables)[table_idx]

    events_per_file = max(1, (n_events + n_files - 1) // n_files)
    file_idx = (np.arange(n_events) // events_per_file).astype(np.int32)
    ooo = rng.random(n_events) < p_out_of_order
    file_idx = np.where(
        ooo,
        np.minimum(file_idx + rng.integers(1, 4, size=n_events), n_files - 1),
        file_idx,
    ).astype(np.int32)
    dup_sel = np.flatnonzero(rng.random(n_events) < p_duplicate)
    dup_file_idx = np.minimum(
        file_idx[dup_sel] + rng.integers(1, 4, size=len(dup_sel)), n_files - 1
    ).astype(np.int32)

    # markers: fate per txn, file = last data-event file (+0..2 if
    # late). last_file is computed from the UNDISPLACED slot positions
    # on purpose: an out-of-order event displaced past its txn's marker
    # file produces the marker-BEFORE-events arrival the release
    # protocol must hold for (computing it from the displaced files
    # would guarantee markers always arrive last and never exercise
    # that path — review-found fixture gap)
    fate_roll = rng.random(n_txns)
    aborted = fate_roll < p_abort
    unterminated = (fate_roll >= p_abort) & (fate_roll < p_abort + p_unterminated)
    base_file = (np.arange(n_events) // events_per_file).astype(np.int32)
    last_file = np.zeros(n_txns, dtype=np.int32)
    np.maximum.at(last_file, txn_of, base_file)
    late = rng.random(n_txns) < p_late_marker
    marker_file = np.minimum(
        last_file + np.where(late, rng.integers(1, 3, size=n_txns), 0), n_files - 1
    ).astype(np.int32)
    marker_seq = np.int64(n_events) + 1 + np.arange(n_txns, dtype=np.int64)

    def _data_table(sel: np.ndarray, f: int) -> pa.Table:
        new_off, new_vals = _ragged_tokens(keys[sel], lengths_eff[sel])
        del_mask = is_del[sel]
        toks = pa.ListArray.from_arrays(
            pa.array(new_off.astype(np.int32), type=pa.int32()),
            pa.array(new_vals, type=pa.int32()),
        )
        if del_mask.any():
            indices = pa.array(np.arange(len(sel), dtype=np.int64), mask=del_mask)
            toks = toks.take(indices)
        return pa.table(
            {
                "op": pa.array(op[sel]),
                "op_sequence": pa.array(op_seq[sel], type=pa.int64()),
                "doc_id": pa.array(doc_ids[sel]),
                "tokens": toks,
                "n_tok": pa.array(n_tok_vals[sel], type=pa.int32(), mask=del_mask),
                "source": pa.array(source[sel]),
                "event_ts": pa.array(event_ts[sel], type=pa.timestamp("us", tz="UTC")),
                "batch_hint": pa.array(np.full(len(sel), f, dtype=np.int32)),
                "table_name": pa.array(table_names[sel]),
                "txn_id": pa.array(txn_of[sel], type=pa.int64()),
                "txn_events": pa.array(
                    np.zeros(len(sel), dtype=np.int64), type=pa.int64(),
                    mask=np.ones(len(sel), dtype=bool),
                ),
            }
        )

    def _marker_table(msel: np.ndarray, f: int) -> pa.Table:
        n = len(msel)
        all_null = np.ones(n, dtype=bool)
        return pa.table(
            {
                "op": pa.array(np.where(aborted[msel], "R", "C")),
                "op_sequence": pa.array(marker_seq[msel], type=pa.int64()),
                "doc_id": pa.array([None] * n, type=pa.string()),
                "tokens": pa.array([None] * n, type=pa.list_(pa.int32())),
                "n_tok": pa.array(np.zeros(n, dtype=np.int32), mask=all_null),
                "source": pa.array([None] * n, type=pa.string()),
                "event_ts": pa.array(
                    np.full(n, np.int64(BASE_TS.timestamp() * 1_000_000)),
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "batch_hint": pa.array(np.full(n, f, dtype=np.int32)),
                "table_name": pa.array([None] * n, type=pa.string()),
                "txn_id": pa.array(msel.astype(np.int64), type=pa.int64()),
                "txn_events": pa.array(txn_sizes[msel].astype(np.int64), type=pa.int64()),
            }
        )

    all_idx = np.concatenate([np.arange(n_events), dup_sel]).astype(np.int64)
    all_file = np.concatenate([file_idx, dup_file_idx])
    for f in range(n_files):
        sel = all_idx[all_file == f]
        sel = sel[np.argsort(op_seq[sel], kind="stable")]
        tbl = _data_table(sel, f)
        msel = np.flatnonzero((marker_file == f) & ~unterminated)
        if len(msel):
            tbl = pa.concat_tables([tbl, _marker_table(msel, f)])
        pq.write_table(
            tbl, os.path.join(out_dir, f"part-{f:05d}.parquet"), row_group_size=20000
        )
    write_json(meta_path, meta)
    return out_dir
