"""Seeded input generators for the benchmark, independent of the program.

Everything here is numpy + pyarrow + json: the program under test only
ever receives the files written below, never its own generators, so a
change to the program cannot change the inputs.

Token payloads are a pure function of (seed, change_lsn): the oracle
re-derives the winning row's tokens from its lsn instead of storing the
whole log.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
EMITTED_BASE_MS = 1_700_000_000_000
SOURCES = np.array(["web", "books", "code", "wiki"])

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= _M1
        x ^= x >> np.uint64(27)
        x *= _M2
        x ^= x >> np.uint64(31)
    return x


def _lsn_hash(seed: int, lsn: np.ndarray, salt: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return mix64(
            lsn.astype(np.uint64) * _GOLD
            + np.uint64((seed * 1_000_003 + salt) & 0xFFFFFFFFFFFFFFFF)
        )


def tokens_for(seed: int, lsn: np.ndarray, max_tokens: int):
    """(n_tok int32[len], offsets int32[len+1], values int32[sum n_tok])
    of the token arrays carried by the events with these lsns."""
    lsn = np.asarray(lsn, dtype=np.int64)
    n_tok = (_lsn_hash(seed, lsn, 1) % np.uint64(max_tokens)).astype(np.int32) + 1
    offsets = np.zeros(len(lsn) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    pos = np.arange(offsets[-1], dtype=np.uint64) - np.repeat(
        offsets[:-1].astype(np.uint64), n_tok
    )
    owner = np.repeat(lsn.astype(np.uint64), n_tok)
    with np.errstate(over="ignore"):
        values = (
            mix64(owner * _GOLD + pos * _M1 + np.uint64(seed + 7)) % np.uint64(VOCAB)
        ).astype(np.int32)
    return n_tok, offsets, values


def doc_id_strings(idx: np.ndarray) -> np.ndarray:
    return np.char.add("doc-", np.char.zfill(idx.astype(np.int64).astype(str), 9))


# ------------------------------------------------------------- CDC log


def cdc_epoch_events(
    seed: int, epoch: int, lsn0: int, n_events: int, n_docs: int,
    skew: float, delete_frac: float,
):
    """One epoch's events: (doc_idx int64, lsn int64, is_delete bool).
    Keys follow u**skew over [0, n_docs) — skew 1 is uniform, skew 2
    concentrates updates on low ids (power-law hot keys)."""
    rng = np.random.default_rng([seed, epoch])
    u = rng.random(n_events)
    doc = np.minimum((u**skew * n_docs).astype(np.int64), n_docs - 1)
    lsn = lsn0 + np.arange(n_events, dtype=np.int64)
    is_del = rng.random(n_events) < delete_frac
    return doc, lsn, is_del


def cdc_table(seed: int, doc, lsn, is_del, max_tokens: int) -> pa.Table:
    """Airbyte-envelope change-log rows (the schema the program's parquet
    change-log reader expects)."""
    n = len(lsn)
    live = ~is_del
    n_live, _, values = tokens_for(seed, lsn[live], max_tokens)
    n_tok = np.zeros(n, dtype=np.int32)
    n_tok[live] = n_live
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values, type=pa.int32()),
        mask=pa.array(is_del),
    )
    n_tok_arr = pa.array(n_tok, mask=is_del)
    op = np.where(is_del, "D", np.where((lsn % 10) < 3, "I", "U"))
    data = pa.StructArray.from_arrays(
        [
            pa.array(doc_id_strings(doc)),
            tokens,
            n_tok_arr,
            pa.array(SOURCES[doc % len(SOURCES)]),
        ],
        names=["doc_id", "tokens", "n_tok", "source"],
    )
    return pa.table(
        {
            "type": pa.array(np.full(n, "RECORD")),
            "stream": pa.array(np.full(n, "sequences")),
            "namespace": pa.array(np.full(n, "train")),
            "op": pa.array(op),
            "change_lsn": pa.array(lsn),
            "emitted_at": pa.array(EMITTED_BASE_MS + lsn),
            "data": data,
            "state": pa.nulls(n, pa.string()),
        }
    )


def write_parquet_dir(table: pa.Table, path: str, n_files: int) -> int:
    """Write `table` as `n_files` snappy parquet files; returns bytes."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // n_files)
    total = 0
    for i in range(n_files):
        part = table.slice(i * per, per)
        if part.num_rows == 0:
            break
        f = os.path.join(path, f"part-{i:04d}.parquet")
        pq.write_table(part, f, compression="snappy", row_group_size=max(per // 4, 1))
        total += os.path.getsize(f)
    return total


# ----------------------------------------------------- Airbyte NDJSON

CATALOG = {
    "streams": [
        {
            "sync_mode": "incremental",
            "cursor_field": ["updated_at"],
            "primary_key": [["id"]],
            "destination_sync_mode": "append_dedup",
            "stream": {
                "name": "docs_dedup",
                "json_schema": {
                    "type": "object",
                    "properties": {
                        "id": {"type": "integer"},
                        "updated_at": {"type": "integer"},
                        "tokens": {"type": "array", "items": {"type": "integer"}},
                        "source": {"type": ["null", "string"]},
                    },
                },
            },
        },
        {
            "sync_mode": "incremental",
            "destination_sync_mode": "append",
            "stream": {
                "name": "events_append",
                "json_schema": {
                    "type": "object",
                    "properties": {
                        "id": {"type": "integer"},
                        "kind": {"type": "string"},
                        "amount": {"type": "integer"},
                    },
                },
            },
        },
        {
            "sync_mode": "full_refresh",
            "destination_sync_mode": "overwrite",
            "stream": {
                "name": "dims_overwrite",
                "json_schema": {
                    "type": "object",
                    "properties": {
                        "id": {"type": "integer"},
                        "name": {"type": "string"},
                    },
                },
            },
        },
    ]
}

SYNC_SPACING_S = 1_000  # emitted_at seconds between consecutive syncs
EMITTED_BASE_S = 1_700_000_000
KINDS = ["click", "view", "buy", "share"]


def sync_emitted_s(sync: int) -> int:
    return EMITTED_BASE_S + sync * SYNC_SPACING_S


CURSOR_STRIDE = 10_000_000  # append_dedup cursors of sync s start at s * this


def sync_lines(
    seed: int, sync: int, n_records: int, n_dedup_keys: int, state_every: int,
    max_tokens: int, render: bool = True,
):
    """One sync's NDJSON lines (empty unless `render`) plus the facts
    the oracle needs.

    Stream mix per record: 50% append_dedup, 35% append, 15% overwrite.
    append_dedup cursors are unique and increase across syncs, so the
    winner per key is unambiguous. One append payload in eight repeats
    the previous append payload verbatim (same emitted_at too): both
    must land as rows with distinct raw ids."""
    rng = np.random.default_rng([seed, 1_000_003, sync])
    stream = rng.choice(3, size=n_records, p=[0.5, 0.35, 0.15])
    emitted = sync_emitted_s(sync)
    cursor0 = sync * CURSOR_STRIDE
    lines: list[str] = []
    dedup_ids, dedup_cursors = [], []
    app_ids, app_kinds, app_amounts = [], [], []
    n_overwrite = 0
    prev_append = None
    n_states = 0
    since_state = 0
    dedup_keys = rng.integers(0, n_dedup_keys, size=n_records)
    append_ids = rng.integers(0, 1 << 40, size=n_records)
    amounts = rng.integers(0, 10_000, size=n_records)
    dedup_lsn = cursor0 + np.arange(n_records, dtype=np.int64)
    _, offs, vals = tokens_for(seed, dedup_lsn, max_tokens)
    for i in range(n_records):
        s = stream[i]
        if s == 0:
            k, cur = int(dedup_keys[i]), int(dedup_lsn[i])
            toks = vals[offs[i]:offs[i + 1]].tolist()
            rec = {
                "stream": "docs_dedup", "emitted_at": emitted,
                "data": {"id": k, "updated_at": cur, "tokens": toks,
                         "source": str(SOURCES[k % 4])},
            }
            dedup_ids.append(k)
            dedup_cursors.append(cur)
        elif s == 1:
            if prev_append is not None and i % 8 == 0:
                rec = prev_append
            else:
                rec = {
                    "stream": "events_append", "emitted_at": emitted,
                    "data": {"id": int(append_ids[i]), "kind": KINDS[i % 4],
                             "amount": int(amounts[i])},
                }
            prev_append = rec
            app_ids.append(rec["data"]["id"])
            app_kinds.append(rec["data"]["kind"])
            app_amounts.append(rec["data"]["amount"])
        else:
            rec = {
                "stream": "dims_overwrite", "emitted_at": emitted,
                "data": {"id": n_overwrite, "name": f"s{sync}-n{n_overwrite}"},
            }
            n_overwrite += 1
        if render:
            lines.append(json.dumps({"type": "RECORD", "record": rec}))
        since_state += 1
        if since_state >= state_every:
            n_states += 1
            if render:
                lines.append(
                    json.dumps(
                        {"type": "STATE", "state": {
                            "type": "STREAM", "id": f"{sync}-{n_states}",
                            "sourceStats": {"recordCount": since_state}}}
                    )
                )
            since_state = 0
    facts = {
        "dedup_ids": np.array(dedup_ids, dtype=np.int64),
        "dedup_cursors": np.array(dedup_cursors, dtype=np.int64),
        "append_ids": np.array(app_ids, dtype=np.int64),
        "append_kinds": np.array(app_kinds),
        "append_amounts": np.array(app_amounts, dtype=np.int64),
        "n_overwrite": n_overwrite,
        "n_records": n_records,
        "n_states": n_states,
    }
    return lines, facts


def write_lines(lines: list[str], path: str, n_files: int) -> int:
    """NDJSON across `n_files` files (order preserved by file name)."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(lines) // n_files)
    total = 0
    for i in range(n_files):
        chunk = lines[i * per:(i + 1) * per]
        if not chunk:
            break
        f = os.path.join(path, f"part-{i:04d}.json")
        with open(f, "w") as fh:
            fh.write("\n".join(chunk) + "\n")
        total += os.path.getsize(f)
    return total
