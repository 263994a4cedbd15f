"""Pruning soundness sweep: filtered scans and copy-on-write deletes on
evolved tables agree with a dict replay.

A seeded table goes through identity, day, bucket and truncate
partition specs, a rename, a drop-and-reuse of a column name and an
``int → long`` widening of a bucketed column, with NULLs in every
column. Every ``=``, ``!=``, ``<``, ``<=``, ``>``, ``>=`` and ``IN``
predicate on every column (and some conjunctions of two) must give
the same rows through ``scan(where=w)``, through ``scan().where(w)``
and through the dict replay; ``delete(w)`` must report the replay's
count. A vacuity guard checks that every transform kind pruned some
file on its own and that the none, some and all verdicts each fired,
so the sweep cannot pass by pruning nothing.
"""

from __future__ import annotations

import dataclasses
import random
from datetime import datetime, timedelta

import pytest

from iceberg_rs_spark.sources.icelake import Catalog

OPS = ("=", "!=", "<", "<=", ">", ">=", "in")
TAGS = ("aa1", "ab2", "ba3", "bb4", "ca5")
T0 = datetime(2024, 1, 1)


def _sql(v) -> str:
    if isinstance(v, datetime):
        return f"TIMESTAMP '{v:%Y-%m-%d %H:%M:%S}'"
    if isinstance(v, str):
        return f"'{v}'"
    return str(v)


def _render(pred) -> str:
    parts = []
    for col, op, lit in pred:
        if op == "in":
            parts.append(f"{col} IN ({', '.join(_sql(x) for x in lit)})")
        else:
            parts.append(f"{col} {op} {_sql(lit)}")
    return " AND ".join(parts)


def _holds(row: dict, pred) -> bool:
    """SQL semantics: a NULL operand makes a comparison not true."""
    for col, op, lit in pred:
        v = row[col]
        if v is None:
            return False
        ok = {
            "=": lambda: v == lit,
            "!=": lambda: v != lit,
            "<": lambda: v < lit,
            "<=": lambda: v <= lit,
            ">": lambda: v > lit,
            ">=": lambda: v >= lit,
            "in": lambda: v in lit,
        }[op]()
        if not ok:
            return False
    return True


class _Sweep:
    def __init__(self, spark, catalog, seed: int):
        self.spark, self.rnd = spark, random.Random(seed)
        self.cols = ["id", "ts", "s", "x"]
        self.rows: list[dict] = []
        self.next_id = 0
        self.widened = False
        self.t = catalog.create_table(
            f"db.prune_sweep_{seed}",
            self._df([]).schema,
            partition_by=[("id", "bucket[4]")],
        )

    def _null(self, v):
        return None if self.rnd.random() < 0.1 else v

    def _df(self, rows):
        types = {"id": "long" if self.widened else "int", "ts": "timestamp_ntz",
                 "s": "string", "tag": "string", "x": "long"}
        schema = ", ".join(f"{c} {types[c]}" for c in self.cols)
        return self.spark.createDataFrame(
            [tuple(r[c] for c in self.cols) for r in rows], schema
        )

    def append(self, n: int = 10) -> None:
        rows = []
        for _ in range(n):
            row = {
                "id": self._null(self.next_id),
                "ts": self._null(T0 + timedelta(hours=self.rnd.randrange(96))),
                self.cols[2]: self._null(self.rnd.choice(TAGS[:4])),
                "x": self._null(self.rnd.randrange(20)),
            }
            self.next_id += 1
            rows.append(row)
        self.t.append(self._df(rows))
        self.rows += rows

    def literal(self, col: str):
        r = self.rnd
        if col == "id":
            return r.choice([r.randrange(self.next_id), r.randrange(-3, self.next_id + 3)])
        if col == "ts":
            return T0 + timedelta(hours=r.randrange(-6, 102))
        if col == "x":
            return r.randrange(-2, 22)
        return r.choice(TAGS + ("zz",))

    def atom(self, col: str, op: str):
        if op == "in":
            return (col, op, tuple(self.literal(col) for _ in range(self.rnd.randrange(1, 4))))
        return (col, op, self.literal(col))

    def predicates(self, cols) -> list[tuple]:
        preds = [(self.atom(c, op),) for c in cols for op in OPS]
        for _ in range(8):
            a, b = self.rnd.sample(cols, 2)
            preds.append(
                (self.atom(a, self.rnd.choice(OPS)), self.atom(b, self.rnd.choice(OPS)))
            )
        return preds


def _rows(df, cols) -> list[tuple]:
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)


def _expect(rows, pred, cols) -> list[tuple]:
    return sorted((tuple(r[c] for c in cols) for r in rows if _holds(r, pred)), key=repr)


@pytest.mark.parametrize("seed", [1, 2])
def test_pruned_scans_and_deletes_match_dict_replay(spark, tmp_path, seed):
    sw = _Sweep(spark, Catalog(spark, str(tmp_path / "wh")), seed)
    t = sw.t
    sw.append()                                   # spec 0: bucket[4](id int)
    t.set_partition_spec([("ts", "day")])
    sw.append()                                   # spec 1: day(ts)
    before_widening = (t.metadata.current_snapshot_id, [dict(r) for r in sw.rows])
    t.update_column_type("id", "long")
    sw.widened = True
    sw.append()                                   # spec 1, id long
    t.set_partition_spec([("s", "truncate[2]"), ("id", "bucket[3]")])
    sw.append()                                   # spec 2
    t.rename_column("s", "tag")
    t.drop_column("x")
    t.add_column("x", "long")                     # a new field under a reused name
    sw.cols[2] = "tag"
    for r in sw.rows:
        r["tag"], r["x"] = r.pop("s"), None
    sw.append()
    t.set_partition_spec([("tag", "identity")])
    sw.append()                                   # spec 3: identity(tag)

    cols = sw.cols
    # point lookups of ids bucketed before the widening, plus the sweep
    preds = [(("id", "=", k),) for k in sw.rnd.sample(range(10), 4)]
    preds += sw.predicates(cols)
    full = t.scan().cache()
    assert _rows(full, cols) == _expect(sw.rows, (), cols)
    for pred in preds:
        w = _render(pred)
        exp = _expect(sw.rows, pred, cols)
        assert _rows(t.scan(where=w), cols) == exp, w
        assert _rows(full.where(w), cols) == exp, w
    full.unpersist()

    # time travel: the predicate binds to the snapshot's schema (id int, s)
    snap, rows_then = before_widening
    for pred in [(sw.atom("id", "="),), (sw.atom("id", "in"),), (sw.atom("s", "="),)]:
        w = _render(pred)
        got = _rows(t.scan(snapshot_id=snap, where=w), ["id", "ts", "s", "x"])
        assert got == _expect(rows_then, pred, ["id", "ts", "s", "x"]), w

    # vacuity: every transform kind prunes on its own (stats stripped),
    # and each verdict fires somewhere
    from iceberg_rs_spark.sources.icelake import _ALL, _NONE, _SOME, _bind_predicate

    md = t.metadata
    entries = t._current_entries(md)
    specs = {s.spec_id: s for s in md.partition_specs}
    schema = md.current_schema()
    pruned_by, verdicts = set(), set()
    for pred in preds:
        bound = _bind_predicate(_render(pred), md, spark)
        verdicts |= {bound.classify(e) for e in entries}
        if len(pred) == 1:
            fid = schema.field_by_name(pred[0][0]).id
            for e in entries:
                if bound.classify(dataclasses.replace(e, stats={})) == _NONE:
                    pruned_by |= {
                        pf.transform.kind
                        for pf in specs[e.spec_id].fields
                        if pf.source_id == fid
                    }
    assert pruned_by == {"bucket", "day", "truncate", "identity"}
    assert verdicts == {_NONE, _SOME, _ALL}

    # copy-on-write deletes report the replay's count, and leave its rows
    for pred in sw.rnd.sample(preds, 4):
        w = _render(pred)
        gone = [r for r in sw.rows if _holds(r, pred)]
        assert t.delete(w) == len(gone), w
        sw.rows = [r for r in sw.rows if not _holds(r, pred)]
        assert _rows(t.scan(), cols) == _expect(sw.rows, (), cols), w
