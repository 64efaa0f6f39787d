"""Independent oracles for the workloads.

Every generated lineitem input and DML predicate the library receives is
applied to an in-memory DuckDB table as well (outside the timed region).
Read results are checked against it op by op, and the final table is
compared by row count plus an order-insensitive hash of every value.

For documents, ``SimhashOracle`` recomputes 64-bit simhash fingerprints
in numpy (token XXH64 with Spark's seed 42, one vote per token
occurrence) and counts the pairs within a Hamming distance.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

KEY = ("l_orderkey", "l_linenumber")


class GateError(AssertionError):
    """A library result disagrees with the oracle."""


def fingerprint(table: pa.Table, columns: "list[str]") -> "tuple[int, int]":
    """(rows, order-insensitive 64-bit hash of every value)."""
    df = table.select(columns).to_pandas()
    for c in columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(np.int64)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype(np.int64)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64)
        else:
            df[c] = df[c].astype(object)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


class LineitemMirror:
    """DuckDB copy of a lineitem table, driven op by op."""

    def __init__(self, seed: pa.Table):
        self.db = duckdb.connect(config={"threads": 1})
        self.columns = seed.column_names
        self.db.register("seed_in", seed)
        self.db.execute("CREATE TABLE li AS SELECT * FROM seed_in")
        self.db.unregister("seed_in")

    def close(self) -> None:
        self.db.close()

    def append(self, rows: pa.Table) -> None:
        self.db.register("rows_in", rows)
        self.db.execute(f"INSERT INTO li SELECT {', '.join(self.columns)} "
                        "FROM rows_in")
        self.db.unregister("rows_in")

    def delete(self, where: str) -> None:
        self.db.execute(f"DELETE FROM li WHERE {where}")

    def update(self, assignments: "dict[str, str]", where: str) -> None:
        sets = ", ".join(f"{c} = {e}" for c, e in assignments.items())
        self.db.execute(f"UPDATE li SET {sets} WHERE {where}")

    def merge(self, src: pa.Table, update_cols: "list[str]") -> None:
        """Upsert on (l_orderkey, l_linenumber)."""
        self.db.register("src_in", src)
        on = " AND ".join(f"li.{k} = s.{k}" for k in KEY)
        sets = ", ".join(f"{c} = s.{c}" for c in update_cols)
        self.db.execute(f"UPDATE li SET {sets} FROM src_in s WHERE {on}")
        on_t = " AND ".join(f"t.{k} = s.{k}" for k in KEY)
        self.db.execute(
            f"INSERT INTO li SELECT {', '.join('s.' + c for c in self.columns)}"
            f" FROM src_in s WHERE NOT EXISTS "
            f"(SELECT 1 FROM li t WHERE {on_t})")
        self.db.unregister("src_in")

    def count(self, where: "str | None" = None) -> int:
        sql = "SELECT count(*) FROM li" + (f" WHERE {where}" if where else "")
        return int(self.db.execute(sql).fetchone()[0])

    def keys(self) -> "dict[str, np.ndarray]":
        """Live (orderkey, linenumber) pairs in key order, by column."""
        return self.db.execute(
            "SELECT l_orderkey, l_linenumber FROM li "
            "ORDER BY l_orderkey, l_linenumber").fetchnumpy()

    def fingerprint(self) -> "tuple[int, int]":
        return fingerprint(self.db.execute("SELECT * FROM li").arrow(),
                           self.columns)


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int (Spark's ``xxhash64``
    uses seed 42). Only the short-input path: the generated tokens are
    6 bytes."""
    n, i = len(data), 0
    if n >= 32:
        raise ValueError(f"xxh64 oracle: {n}-byte input, at most 31")
    h = (seed + _P5 + n) & _M64
    while i + 8 <= n:
        w = int.from_bytes(data[i:i + 8], "little")
        k = (_rotl((w * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        w = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl(h ^ ((w * _P1) & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


class SimhashOracle:
    """Simhash of whitespace-tokenised lower-cased text: bit ``b`` is set
    when more than half of the token occurrences have bit ``b`` set in
    their XXH64. Fingerprints are cached by document id."""

    def __init__(self):
        self._token_bits: "dict[str, np.ndarray]" = {}
        self._doc: "dict[int, int]" = {}

    def _bits(self, token: str) -> np.ndarray:
        b = self._token_bits.get(token)
        if b is None:
            h = xxh64(token.encode("utf-8"))
            b = np.unpackbits(np.frombuffer(h.to_bytes(8, "little"),
                                            np.uint8), bitorder="little")
            self._token_bits[token] = b
        return b

    def fingerprint(self, doc_id: int, text: str) -> int:
        fp = self._doc.get(doc_id)
        if fp is None:
            toks = text.strip().lower().split()
            votes = np.sum([self._bits(t) for t in toks], axis=0,
                           dtype=np.int64) if toks else np.zeros(64)
            fp = int.from_bytes(np.packbits(
                votes * 2 > len(toks), bitorder="little").tobytes(),
                "little")
            self._doc[doc_id] = fp
        return fp

    def forget(self, doc_id: int) -> None:
        self._doc.pop(doc_id, None)

    def pair_count(self, docs: "dict[int, str]", max_hamming: int) -> int:
        """Unordered pairs of ``docs`` within ``max_hamming`` bits."""
        fps = np.array([self.fingerprint(i, t) for i, t in docs.items()],
                       dtype=np.uint64)
        x = (fps[:, None] ^ fps[None, :]).view(np.uint8)
        ham = _POPCOUNT[x].reshape(len(fps), len(fps), 8).sum(
            axis=2, dtype=np.uint8)
        return int((np.triu(ham <= max_hamming, k=1)).sum())


_POPCOUNT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                          axis=1).sum(axis=1).astype(np.uint8)


def check(what: str, got, want) -> None:
    if got != want:
        raise GateError(f"{what}: library gave {got!r}, oracle {want!r}")
