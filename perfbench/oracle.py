"""Independent oracles: numpy folds of the generated inputs.

Nothing here imports the program. The CDC oracle is a last-writer-wins
fold (greatest change_lsn per doc_id; a winning delete removes the row);
the sync oracle keeps, per stream, what the Airbyte sync modes promise.
Checks return a list of human-readable mismatches (empty = correct).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen


def _doc_index(doc_ids: pa.Array) -> np.ndarray:
    return pc.cast(pc.utf8_slice_codeunits(doc_ids, 4), pa.int64()).to_numpy()


def _list_parts(arr: pa.Array):
    """(lengths, flat values) of a list array without nulls."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    lengths = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    return lengths.astype(np.int64), pc.list_flatten(arr).to_numpy(zero_copy_only=False)


def _tokens_match(seed: int, versions: np.ndarray, tokens: pa.Array, max_tokens: int) -> np.ndarray:
    """Per-row token-array equality against the arrays the generator
    derived from each row's version; returns a bool mask of bad rows."""
    n_exp, offs, vals = gen.tokens_for(seed, versions, max_tokens)
    n_got, flat = _list_parts(tokens)
    bad = n_got != n_exp
    if bad.any():
        return bad
    row = np.repeat(np.arange(len(versions)), n_got)
    diff = np.zeros(len(versions), dtype=bool)
    diff[row[flat != vals]] = True
    return diff


def _first(msgs: list[str], label: str, mask: np.ndarray, ids) -> None:
    n = int(mask.sum())
    if n:
        msgs.append(f"{label}: {n} rows, e.g. {list(np.asarray(ids)[mask][:3])}")


class CdcOracle:
    def __init__(self, seed: int, n_docs: int, max_tokens: int):
        self.seed, self.max_tokens = seed, max_tokens
        self.lsn = np.full(n_docs, -1, dtype=np.int64)  # -1: never written
        self.deleted = np.zeros(n_docs, dtype=bool)

    def apply(self, doc: np.ndarray, lsn: np.ndarray, is_del: np.ndarray) -> None:
        """Fold one epoch; lsns grow across epochs, so within the epoch
        the last event per doc is the winner."""
        rev = doc[::-1]
        keys, first = np.unique(rev, return_index=True)
        last = len(doc) - 1 - first
        self.lsn[keys] = lsn[last]
        self.deleted[keys] = is_del[last]

    def live(self) -> np.ndarray:
        return np.flatnonzero((self.lsn >= 0) & ~self.deleted)

    def check_rows(self, table: pa.Table, expect_docs: np.ndarray) -> list[str]:
        """Rows (doc_id, change_lsn, tokens, n_tok) must be exactly the
        oracle's live rows among `expect_docs`."""
        msgs: list[str] = []
        got = _doc_index(table.column("doc_id"))
        order = np.argsort(got, kind="stable")
        got = got[order]
        if len(np.unique(got)) != len(got):
            msgs.append(f"duplicate keys: {len(got) - len(np.unique(got))}")
            return msgs
        want = np.intersect1d(expect_docs, self.live())
        if not np.array_equal(got, want):
            extra = np.setdiff1d(got, want)
            missing = np.setdiff1d(want, got)
            msgs.append(
                f"key set: {len(extra)} unexpected (e.g. {extra[:3].tolist()}), "
                f"{len(missing)} missing (e.g. {missing[:3].tolist()})"
            )
            return msgs
        lsn = table.column("change_lsn").to_numpy()[order]
        _first(msgs, "wrong change_lsn", lsn != self.lsn[got], got)
        if msgs:
            return msgs
        toks = table.column("tokens").take(pa.array(order))
        _first(msgs, "wrong tokens", _tokens_match(self.seed, lsn, toks, self.max_tokens), got)
        n_tok = table.column("n_tok").to_numpy()[order]
        _first(msgs, "wrong n_tok", n_tok != pc.list_value_length(toks).to_numpy(), got)
        return msgs

    def state_bytes(self, path: str) -> int:
        """Bytes of the oracle's live state written once as snappy parquet."""
        docs = self.live()
        lsn = self.lsn[docs]
        n_tok, offs, vals = gen.tokens_for(self.seed, lsn, self.max_tokens)
        t = pa.table(
            {
                "doc_id": pa.array(gen.doc_id_strings(docs)),
                "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(vals)),
                "n_tok": pa.array(n_tok),
                "source": pa.array(gen.SOURCES[docs % len(gen.SOURCES)]),
                "change_lsn": pa.array(lsn),
                "emitted_at": pa.array(
                    (gen.EMITTED_BASE_MS + lsn).astype("datetime64[ms]")
                ),
            }
        )
        pq.write_table(t, path, compression="snappy")
        return os.path.getsize(path)


class SyncOracle:
    """What repeated syncs of gen.CATALOG must leave in the warehouse."""

    def __init__(self, seed: int, n_keys: int, max_tokens: int):
        self.seed, self.max_tokens = seed, max_tokens
        self.cursor = np.full(n_keys, -1, dtype=np.int64)
        self.append: list[dict] = []  # per sync: ids, kinds, amounts
        self.n_overwrite = 0
        self.last_sync = -1

    def apply(self, sync: int, facts: dict) -> None:
        ids, cur = facts["dedup_ids"], facts["dedup_cursors"]
        np.maximum.at(self.cursor, ids, cur)
        self.append.append(
            {k: facts[f"append_{k}"] for k in ("ids", "kinds", "amounts")}
        )
        self.n_overwrite = facts["n_overwrite"]
        self.last_sync = sync

    def check_dedup(self, table: pa.Table, expect_ids: np.ndarray | None = None) -> list[str]:
        """append_dedup: one row per key, the one with the latest cursor."""
        msgs: list[str] = []
        got = table.column("id").to_numpy()
        order = np.argsort(got, kind="stable")
        got = got[order]
        live = np.flatnonzero(self.cursor >= 0)
        want = live if expect_ids is None else np.intersect1d(expect_ids, live)
        if not np.array_equal(got, want):
            msgs.append(f"dedup key set: got {len(got)} rows, want {len(want)}")
            return msgs
        cur = table.column("updated_at").to_numpy()[order]
        _first(msgs, "dedup winner is not the latest cursor", cur != self.cursor[got], got)
        if msgs:
            return msgs
        toks = table.column("tokens").take(pa.array(order))
        _first(msgs, "dedup tokens", _tokens_match(self.seed, cur, toks, self.max_tokens), got)
        return msgs

    def _append_rows(self, col: str) -> np.ndarray:
        parts = [a[col] for a in self.append]
        return np.concatenate(parts) if parts else np.array([], dtype=np.int64)

    def check_append(self, table: pa.Table) -> list[str]:
        """append: every record is a row (duplicate payloads included),
        each with its own raw id."""
        msgs: list[str] = []
        want = np.sort(self._append_rows("ids") * 10_000 + self._append_rows("amounts"))
        got = np.sort(
            table.column("id").to_numpy() * 10_000 + table.column("amount").to_numpy()
        )
        if not np.array_equal(got, want):
            msgs.append(f"append rows: got {len(got)}, want {len(want)}")
        if len(pc.unique(table.column("_airbyte_raw_id"))) != table.num_rows:
            msgs.append("append raw ids are not distinct")
        return msgs

    def check_overwrite(self, table: pa.Table) -> list[str]:
        """overwrite: only the latest sync's rows survive."""
        got = sorted(zip(table.column("id").to_pylist(), table.column("name").to_pylist()))
        want = [(i, f"s{self.last_sync}-n{i}") for i in range(self.n_overwrite)]
        return [] if got == want else [f"overwrite rows: got {len(got)}, want {len(want)}"]

    def state_bytes(self, path: str) -> int:
        """Bytes of the three streams' expected rows written once as
        snappy parquet (raw ids and extracted_at included: every stream
        stores them)."""
        live = np.flatnonzero(self.cursor >= 0)
        cur = self.cursor[live]
        n_tok, offs, vals = gen.tokens_for(self.seed, cur, self.max_tokens)
        app_ids = self._append_rows("ids")
        rng = np.random.default_rng(0)

        def raw(n):  # sha256-derived ids: 36 incompressible characters
            return pa.array([rng.bytes(18).hex() for _ in range(n)])

        def ts(n):
            return pa.array(np.full(n, gen.EMITTED_BASE_S, dtype="datetime64[s]"))

        tables = {
            "dedup": pa.table({
                "id": pa.array(live), "updated_at": pa.array(cur),
                "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(vals)),
                "source": pa.array(gen.SOURCES[live % 4]),
                "_airbyte_raw_id": raw(len(live)), "_airbyte_extracted_at": ts(len(live)),
            }),
            "append": pa.table({
                "id": pa.array(app_ids), "kind": pa.array(self._append_rows("kinds")),
                "amount": pa.array(self._append_rows("amounts")),
                "_airbyte_raw_id": raw(len(app_ids)),
                "_airbyte_extracted_at": ts(len(app_ids)),
            }),
            "overwrite": pa.table({
                "id": pa.array(np.arange(self.n_overwrite)),
                "name": pa.array([f"s{self.last_sync}-n{i}" for i in range(self.n_overwrite)]),
                "_airbyte_raw_id": raw(self.n_overwrite),
                "_airbyte_extracted_at": ts(self.n_overwrite),
            }),
        }
        total = 0
        for name, t in tables.items():
            p = f"{path}.{name}.parquet"
            pq.write_table(t, p, compression="snappy")
            total += os.path.getsize(p)
        return total
