"""Model-based lifecycle fuzzing: seeded random walks drive a
DeltaTable through interleaved append (``DeltaTable.write`` and the
``xdlake`` format sink) / overwrite / delete (CoW and
merge-on-read) / update / MERGE / OPTIMIZE / RESTORE steps while a
pure-Python model tracks the expected row set at every version.

After EVERY step the table scan must equal the model, and at the end a
FRESH handle (full log replay, checkpoints included), every historical
version (time travel), and the version checksum chain must all agree
with the model's history. This is the whole-engine differential the
per-feature suites can't provide: it exercises feature INTERACTIONS
(a DV delete followed by restore followed by optimize, an update of
rows a merge just inserted, ...) in orders no hand-written test
enumerates.

Walks are seeded (deterministic, no Hypothesis shrink time) — failures
print the seed + step trace for replay.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F  # noqa: F401

from xdlake_spark import DeltaTable
from xdlake_spark.sources.datasource import register


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, v, i % 3) for i, v in rows], "id long, val long, part int")


def _scan(t):
    return {(r["id"], r["val"]) for r in
            t.to_df().select("id", "val").collect()}


class Walk:
    def __init__(self, spark, loc, seed):
        register(spark)
        self.spark = spark
        self.loc = loc
        self.rng = random.Random(seed)
        self.next_id = 0
        self.state: dict[int, int] = {}
        self.history: list[dict[int, int]] = []
        self.trace: list[str] = []
        rows = self._fresh_rows(self.rng.randint(5, 30))
        self.state = dict(rows)
        self.t = DeltaTable(spark, loc).write(_df(spark, rows))
        self.history.append(dict(self.state))

    def _fresh_rows(self, k):
        rows = [(self.next_id + i, self.rng.randint(0, 99))
                for i in range(k)]
        self.next_id += k
        return rows

    def _record(self, op):
        self.trace.append(op)
        v = self.t.version
        if v == len(self.history):       # the op committed a version
            self.history.append(dict(self.state))
        else:                            # no-op (empty delete/update,
            # nothing-to-compact optimize): no commit, no state change
            assert v == len(self.history) - 1, \
                (op, v, len(self.history), self.trace)
            assert self.state == self.history[-1], (op, self.trace)

    # ---- operations (each: mutate table + model identically) ----

    def op_append(self):
        rows = self._fresh_rows(self.rng.randint(1, 20))
        self.t = self.t.write(_df(self.spark, rows), mode="append")
        self.state.update(rows)
        self._record(f"append({len(rows)})")

    def op_format_append(self):
        # the xdlake format sink commits through the same pipeline
        rows = self._fresh_rows(self.rng.randint(1, 20))
        _df(self.spark, rows).write.format("xdlake").mode(
            "append").save(self.loc)
        self.t = DeltaTable(self.spark, self.loc)
        self.state.update(rows)
        self._record(f"format_append({len(rows)})")

    def op_overwrite(self):
        rows = self._fresh_rows(self.rng.randint(3, 15))
        self.t = self.t.write(_df(self.spark, rows), mode="overwrite")
        self.state = dict(rows)
        self._record(f"overwrite({len(rows)})")

    def op_delete(self):
        m, r = self.rng.randint(2, 5), self.rng.randint(0, 4)
        mode = self.rng.choice(["copy-on-write", "merge-on-read"])
        self.t = self.t.delete(f"val % {m} = {r % m}", mode=mode)
        self.state = {i: v for i, v in self.state.items()
                      if v % m != r % m}
        self._record(f"delete(val%{m}={r % m},{mode})")

    def op_update(self):
        m, c = self.rng.randint(2, 5), self.rng.randint(1, 50)
        self.t = self.t.update({"val": f"val + {c}"},
                               where=f"id % {m} = 0")
        self.state = {i: (v + c if i % m == 0 else v)
                      for i, v in self.state.items()}
        self._record(f"update(id%{m},+{c})")

    def op_merge(self):
        ids = sorted(self.state)
        upd = [(i, self.rng.randint(100, 199))
               for i in self.rng.sample(ids, min(len(ids), 5))]
        ins = self._fresh_rows(self.rng.randint(1, 5))
        src = upd + ins
        self.t = self.t.merge(
            _df(self.spark, src), "t.id = s.id",
            when_matched_update={"val": "s.val"},
            when_not_matched_insert={"id": "s.id", "val": "s.val",
                                     "part": "s.part"})
        self.state.update(src)
        self._record(f"merge({len(upd)}u,{len(ins)}i)")

    def op_optimize(self):
        self.t = self.t.optimize()
        self._record("optimize")

    def op_restore(self):
        v = self.rng.randrange(len(self.history))
        self.t = self.t.restore(v)
        self.state = dict(self.history[v])
        self._record(f"restore({v})")

    def step(self):
        ops = [self.op_append, self.op_format_append, self.op_overwrite,
               self.op_delete, self.op_update, self.op_merge,
               self.op_optimize, self.op_restore]
        weights = [4, 2, 2, 3, 3, 3, 1, 1]
        self.rng.choices(ops, weights)[0]()

    def check(self):
        got = _scan(self.t)
        want = set(self.state.items())
        assert got == want, \
            f"divergence after {self.trace[-1]}; trace={self.trace}"


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_lifecycle_random_walk(spark, tmp_table_dir, seed):
    loc = f"{tmp_table_dir}/walk{seed}"
    w = Walk(spark, loc, seed)
    w.check()
    for _ in range(14):
        w.step()
        w.check()
    # a fresh handle (log replay from scratch, through any
    # checkpoints) sees the same state
    t2 = DeltaTable(spark, loc)
    assert _scan(t2) == set(w.state.items()), w.trace
    # the checksum chain validates
    assert t2.verify_checksum() == []
    # every historical version time-travels to the model's snapshot
    # (optimize/restore versions share their predecessor's row set)
    vcount = t2.version + 1
    assert vcount == len(w.history), \
        (vcount, len(w.history), w.trace)
    for v in range(0, vcount, max(1, vcount // 6)):
        assert _scan(t2.load_as_version(v)) \
            == set(w.history[v].items()), (v, w.trace)


def test_walk_with_checkpoints_and_vacuum(spark, tmp_table_dir):
    """The same walk shape with an aggressive checkpoint interval and
    a mid-walk VACUUM: checkpointed replay and physical cleanup must
    not change what any surviving version scans to."""
    loc = f"{tmp_table_dir}/walkck"
    w = Walk(spark, loc, 7)
    w.t = w.t.set_properties({"delta.checkpointInterval": "4"})
    w.history.append(dict(w.state))   # properties commit = a version
    w.trace.append("set_properties")
    for i in range(12):
        w.step()
        w.check()
        if i == 6:
            w.t.vacuum(retention_hours=0)   # reclaim tombstones
            w.check()
    t2 = DeltaTable(spark, loc)
    assert _scan(t2) == set(w.state.items()), w.trace
    assert t2.verify_checksum() == []
