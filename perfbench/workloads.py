"""The stateful workloads.

Each workload owns one table for the whole run and yields a fixed cycle
of operations. An operation is ``Op(cls, name, act, after)``: ``act``
is the timed call into the library; ``after`` (untimed) replays the same
input on the oracle and checks any result the library returned.

Op classes, which the end-to-end metrics group by:

``write``     ingest: append (commit_churn) or batch admission = dedup
              + append of the keepers (dedup_ingest)
``dml``       delete / update / merge (commit_churn); expiry of the
              oldest documents (dedup_ingest)
``read``      fresh-handle predicate scan (commit_churn); full-corpus
              dedup pass (dedup_ingest)
``travel``    open the cycle's first version with a fresh handle and
              count it
``maintain``  optimize + vacuum (timed into ``ops_per_s`` only)
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .oracle import (GateError, LineitemMirror, SimhashOracle, check,
                     fingerprint)


@dataclass
class Op:
    cls: str
    name: str
    act: Callable[[], Any]
    after: Callable[[Any], None]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    """The Spark session, a scratch directory, the seeded generator and
    the live table handle. ``tiny`` shrinks the inputs (self-test)."""

    name = ""
    #: mixed into the seed so workloads draw independent streams
    seed_salt = 0
    #: nominal cycle length on a 4-core host; a run measures
    #: max(1, round(seconds / cycle_seconds)) whole cycles
    cycle_seconds = 1.0

    def __init__(self, spark, work: str, seed: int, tiny: bool):
        from xdlake_spark import DeltaTable
        self.DeltaTable = DeltaTable
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.rng = np.random.default_rng([seed, self.seed_salt])
        self.t = None
        self.path = ""
        self.cycle_no = 0
        self.cycle_version = 0
        self.cycle_count = 0

    def table_path(self, i: int) -> str:
        return os.path.join(self.work, f"table{i}")

    def setup(self, i: int) -> None:
        """Build a fresh seed table (timed into ``setup_s``)."""
        raise NotImplementedError

    def keep(self, i: int) -> None:
        """Keep set-up ``i``'s table for the run; drop the others."""
        for j in range(i):
            shutil.rmtree(self.table_path(j), ignore_errors=True)
        self.path = self.table_path(i)
        self.t = self.fresh()

    def begin_cycle(self, live_count: int) -> None:
        """Version and row count that this cycle's travel ops open."""
        self.cycle_no += 1
        self.cycle_version = self.t.version
        self.cycle_count = live_count

    def cycle(self) -> "Iterator[Op]":
        """One fixed cycle of ops; inputs are drawn lazily, so each op
        sees the state its predecessors left."""
        raise NotImplementedError

    def gate(self) -> str:
        """Final correctness check; raises GateError."""
        raise NotImplementedError

    def admit_ratio(self) -> float:
        """Share of offered documents admitted (dedup_ingest only)."""
        return 0.0

    def space_amplification(self) -> float:
        live = sum(a.size for a in self.t.adds.values())
        return dir_bytes(self.path) / max(1, live)

    def close(self) -> None:
        pass

    def fresh(self, version: "int | None" = None):
        return self.DeltaTable(self.spark, self.path, version=version)

    def checksum_clean(self) -> None:
        bad = self.fresh().verify_checksum()
        if bad:
            raise GateError(f"verify_checksum: {bad[:3]}")

    # -- ops common to both workloads -----------------------------------

    def op_travel(self) -> Op:
        """Fresh handle pinned to the cycle's first version (newer than
        the last vacuum, so all its files exist), counted."""
        v, want = self.cycle_version, self.cycle_count
        return Op("travel", "travel",
                  lambda: self.fresh(version=v).to_df().count(),
                  lambda n: check(f"travel to v{v}", n, want))

    def op_maintain(self, target_file_size: int) -> Op:
        def act():
            self.t = self.t.optimize(target_file_size=target_file_size)
            self.t.vacuum(retention_hours=0)

        return Op("maintain", "optimize+vacuum", act, lambda _: None)


class CommitChurn(Workload):
    """Driver/log-heavy: a few hundred rows per commit on a Hive-
    partitioned sf0.01 lineitem table, default checkpoint interval.

    Every input and DML predicate is replayed on a DuckDB mirror
    (oracle.py); scans and time travel are checked against it.

    The cycle commits exactly ten times (five appends, two deletes,
    update, merge, optimize), so with the default ``checkpointInterval``
    of 10 every cycle writes one checkpoint, always on its last append.
    """

    name = "commit_churn"
    seed_salt = 1
    cycle_seconds = 9.0
    seed_orders = 15_000  # ~60k rows = sf0.01
    partition_by = ["l_returnflag"]
    update_cols = ["l_quantity", "l_comment"]

    def __init__(self, spark, work, seed, tiny):
        super().__init__(spark, work, seed, tiny)
        n = self.seed_orders // (20 if tiny else 1)
        seed_tbl = gen.lineitem(self.rng, n, 1)
        self.next_key = n + 1
        self.seed_file = os.path.join(work, "seed.parquet")
        pq.write_table(seed_tbl, self.seed_file)
        self.mirror = LineitemMirror(seed_tbl)
        self.columns = seed_tbl.column_names

    def setup(self, i):
        self.DeltaTable(self.spark, self.table_path(i)).write(
            self.seed_file, partition_by=self.partition_by)

    def close(self):
        self.mirror.close()

    # -- inputs ------------------------------------------------------------

    def new_rows(self, orders: int) -> pa.Table:
        tbl = gen.lineitem(self.rng, orders, self.next_key)
        self.next_key += orders
        return tbl

    def live_orderkeys(self, k: int) -> "list[int]":
        keys = np.unique(self.mirror.keys()["l_orderkey"])
        return sorted(int(x) for x in
                      self.rng.choice(keys, min(k, len(keys)),
                                      replace=False))

    def key_range(self, share: float) -> "tuple[int, int]":
        """A random ``l_orderkey`` range covering ``share`` of keys."""
        width = max(1, int(self.next_key * share))
        lo = int(self.rng.integers(1, max(2, self.next_key - width)))
        return lo, lo + width

    def upsert_source(self, matched_keys: "list[int]", new_orders: int
                      ) -> pa.Table:
        """Full rows for ``matched_keys`` (all their lines) with new
        quantity/comment values, plus ``new_orders`` brand-new orders."""
        keys = ", ".join(map(str, matched_keys))
        old = self.mirror.db.execute(
            f"SELECT * FROM li WHERE l_orderkey IN ({keys}) "
            "ORDER BY l_orderkey, l_linenumber").arrow()
        n = old.num_rows
        qty = self.rng.integers(1, 51, n).astype(np.float64)
        old = old.set_column(old.column_names.index("l_quantity"),
                             "l_quantity", pa.array(qty))
        old = old.set_column(old.column_names.index("l_comment"),
                             "l_comment",
                             pa.array([f"upsert {self.cycle_no}"] * n))
        new = self.new_rows(new_orders).cast(old.schema)
        return pa.concat_tables([old, new])

    def to_spark(self, rows: pa.Table):
        """In-memory Arrow rows as a DataFrame of the table's schema (the
        library's own Arrow input path goes through pandas, which loses
        int32 and timestamp_ntz)."""
        return self.spark.createDataFrame(rows, schema=self.t.schema)

    # -- ops ---------------------------------------------------------------

    def op_append(self) -> Op:
        rows = self.new_rows(int(self.rng.integers(50, 100)))

        def act():
            self.t = self.t.write(self.to_spark(rows))

        return Op("write", "append", act,
                  lambda _: self.mirror.append(rows))

    def op_delete(self, where: str) -> Op:
        def act():
            self.t = self.t.delete(where, mode="copy-on-write")

        return Op("dml", "delete", act,
                  lambda _: self.mirror.delete(where))

    def op_update(self, sets: "dict[str, str]", where: str) -> Op:
        def act():
            self.t = self.t.update(sets, where=where)

        return Op("dml", "update", act,
                  lambda _: self.mirror.update(sets, where))

    def op_merge(self, src: pa.Table) -> Op:
        cond = " AND ".join(f"t.{k} = s.{k}" for k in
                            ("l_orderkey", "l_linenumber"))

        def act():
            self.t = self.t.merge(
                self.to_spark(src), cond,
                when_matched_update={c: f"s.{c}" for c in self.update_cols},
                when_not_matched_insert={c: f"s.{c}" for c in self.columns})

        return Op("dml", "merge", act,
                  lambda _: self.mirror.merge(src, self.update_cols))

    def op_scan(self) -> Op:
        """Fresh-handle predicate scan: log load + manifest prune + one
        count job."""
        lo, hi = self.key_range(0.02)
        where = f"l_orderkey BETWEEN {lo} AND {hi}"
        return Op("read", "scan",
                  lambda: self.fresh().to_df(where).count(),
                  lambda n: check(f"scan {where}", n,
                                  self.mirror.count(where)))

    def cycle(self):
        self.begin_cycle(self.mirror.count())
        keys = self.live_orderkeys

        def delete():
            return self.op_delete(
                f"l_orderkey IN ({', '.join(map(str, keys(3)))})")

        yield self.op_append()
        yield delete()
        yield self.op_scan()
        yield self.op_append()
        yield self.op_update({"l_quantity": "l_quantity + 1",
                              "l_comment": "'updated'"},
                             f"l_orderkey = {keys(1)[0]}")
        yield self.op_travel()
        yield self.op_scan()
        yield self.op_append()
        yield self.op_merge(self.upsert_source(keys(5), 5))
        yield self.op_scan()
        yield delete()
        yield self.op_travel()
        yield self.op_append()
        yield self.op_scan()
        yield self.op_travel()
        yield self.op_maintain(8 * 1024 * 1024)
        yield self.op_append()

    def gate(self) -> str:
        self.checksum_clean()
        got = fingerprint(self.fresh().to_df().toArrow(), self.columns)
        want = self.mirror.fingerprint()
        check("final table (rows, value hash)", got, want)
        return f"rows={got[0]} hash={got[1]:016x} checksum=clean"


class DedupIngest(Workload):
    """Operator / Python-Arrow-heavy: near-duplicate document batches
    admitted into a corpus table (within-batch ``minhash_dedup``, then
    ``cross_corpus_dedup`` against the corpus, then append of the
    keepers), the oldest documents expired to hold the corpus size, and
    a full-corpus ``minhash_dedup`` + ``simhash_pairs`` pass over a
    fixed-size snapshot.

    Batches sit below ``arrow_gate``'s 2000-row threshold (JVM
    higher-order-function path), the corpus pass above it (Arrow path).
    The generator knows which documents are duplicates, so the admitted
    set is checked against ground truth; the simhash pairs of each pass
    are checked against ``SimhashOracle``.

    The corpus table checkpoints every 3 commits: one checkpoint per
    cycle (admit, expire, optimize), always on the expiry.
    """

    name = "dedup_ingest"
    seed_salt = 3
    cycle_seconds = 11.0
    corpus_docs = 2100     # above arrow_gate's 2000-row threshold
    batch_docs = 128       # below it

    def __init__(self, spark, work, seed, tiny):
        super().__init__(spark, work, seed, tiny)
        if tiny:
            self.corpus_docs, self.batch_docs = 200, 32
        self.stream = gen.DocStream(self.rng)
        seed_tbl = self.stream.fresh(self.corpus_docs)
        self.seed_file = os.path.join(work, "seed.parquet")
        pq.write_table(seed_tbl, self.seed_file)
        #: expected live corpus: doc_id -> text (ground truth)
        self.live = dict(zip(seed_tbl.column("doc_id").to_pylist(),
                             seed_tbl.column("text").to_pylist()))
        self.simhash = SimhashOracle()
        self.offered = 0
        self.admitted = 0

    def setup(self, i):
        t = self.DeltaTable(self.spark, self.table_path(i)).write(
            self.seed_file)
        t.set_properties({"delta.checkpointInterval": "3"})

    def admit_ratio(self):
        return self.admitted / max(1, self.offered)

    def op_admit(self) -> Op:
        from xdlake_spark.operators import dedup
        batch, expect = self.stream.batch(self.batch_docs,
                                          list(self.live.values()))
        before = set(self.t.adds)

        def act():
            new = self.spark.createDataFrame(batch)
            within = dedup.minhash_dedup(new)
            keepers = dedup.cross_corpus_dedup(within, self.t.to_df())
            self.t = self.t.write(keepers)

        def after(_):
            # rows the library committed, from the new files' stats
            added = sum(a.stats_dict["numRecords"]
                        for p, a in self.t.adds.items() if p not in before)
            check("admitted rows", added, int(expect.sum()))
            ids = batch.column("doc_id").to_numpy()
            texts = batch.column("text").to_pylist()
            for i in np.flatnonzero(expect):
                self.live[int(ids[i])] = texts[i]
            self.offered += len(expect)
            self.admitted += added

        return Op("write", "admit", act, after)

    def op_expire(self) -> Op:
        """Delete the oldest documents so the corpus holds its size."""
        ids = sorted(self.live)
        cut = ids[max(0, len(ids) - self.corpus_docs)]
        where = f"doc_id < {cut}"

        def act():
            self.t = self.t.delete(where)

        def after(_):
            for i in ids:
                if i >= cut:
                    break
                del self.live[i]
                self.simhash.forget(i)

        return Op("dml", "expire", act, after)

    def op_pass(self) -> Op:
        """minhash + simhash over the newest ``corpus_docs`` documents.
        Admission keeps the corpus free of shingle near-duplicates, so
        every document must survive ``minhash_dedup``. Simhash votes on
        single tokens, and Zipf-skewed texts share common words, so
        unrelated documents can land within its Hamming distance: the
        pair count must equal ``SimhashOracle``'s. The tiny (self-test)
        corpus is below the Arrow threshold, so tiny mode forces the
        Arrow path to cover it."""
        from pyspark.sql import functions as F
        from xdlake_spark.operators import dedup
        n = min(self.corpus_docs, len(self.live))
        newest = {i: self.live[i] for i in sorted(self.live)[-n:]}
        kw = {"use_arrow": True} if self.tiny else {}

        def act():
            snap = self.t.to_df().orderBy(F.desc("doc_id")).limit(n)
            return (dedup.minhash_dedup(snap, **kw).count(),
                    dedup.simhash_pairs(snap, **kw).count())

        return Op("read", "corpus-pass", act,
                  lambda got: check("corpus pass (keepers, simhash pairs)",
                                    got, (n, self.simhash.pair_count(
                                        newest, max_hamming=3))))

    def cycle(self):
        # a travel right after an admission runs ~50 % slower than one
        # after the light expiry; two of the three travels follow the
        # expiry, so the travel median never sits between the two kinds
        self.begin_cycle(len(self.live))
        yield self.op_admit()
        yield self.op_travel()
        yield self.op_expire()
        yield self.op_travel()
        yield self.op_travel()
        yield self.op_pass()
        yield self.op_maintain(8 * 1024 * 1024)

    def gate(self) -> str:
        from pyspark.sql import functions as F
        self.checksum_clean()
        df = self.fresh().to_df()
        got = sorted(r.doc_id for r in df.select("doc_id").collect())
        want = sorted(self.live)
        if got != want:
            extra = sorted(set(got) - set(want))[:5]
            missing = sorted(set(want) - set(got))[:5]
            raise GateError(f"admitted set differs: unexpected {extra}, "
                            f"missing {missing}")
        if df.groupBy("text").count().filter(F.col("count") > 1) \
                .limit(1).count():
            raise GateError("an exact duplicate was admitted")
        digest = hashlib.sha256(np.asarray(got, np.int64).tobytes())
        share = self.stream.duplicates / max(1, self.stream.generated)
        return (f"live_docs={len(got)} "
                f"ids_digest={digest.hexdigest()[:16]} "
                f"duplicate_share={share:.4f} "
                f"dup_rate={self.stream.dup_rate:.4f}")


WORKLOADS = {w.name: w for w in (CommitChurn, DedupIngest)}
