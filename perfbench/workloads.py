"""The benchmark's workloads, their generated inputs and their oracles.

Every input comes from a ``numpy`` generator seeded by the run's
``--seed`` (``scan_mix`` builds its table from a fixed history so that
every seed queries the same table; the seed picks the queries). The
program sees only the generated DataFrames and predicates.

Sizes are module constants and are reported in every run's output.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
DAY0 = 1704067200  # 2024-01-01T00:00:00Z
DAYS = 10
USERS = 1500
BASE_EVENTS = 20_000
APPEND_ROWS = 600
APPEND_RECENT_DAYS = 2
UPSERT_KEYS = 300
REDELIVERY_SHARE = 0.1
#: words in an upsert change record's payload
PAYLOAD_FIELDS = 6
DELETE_SPAN = 40

DOCS = 3000
DOC_DUP_EVERY = 20
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query key window row table stream merge data big a the "
    "join vector customer snapshot commit manifest delete partition schema"
).split()

#: the fixed CDC history scan_mix replays in setup ("tag" marks the
#: snapshot that the tag time-travel queries read)
SCAN_HISTORY = ("append", "upsert", "tag", "append", "delete", "upsert", "append", "delete")
SCAN_HISTORY_SEED = 20240101

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


# ---------------------------------------------------------------------------
# Inputs and the dict oracle
# ---------------------------------------------------------------------------


def gen_events(rng: np.random.Generator, ids: np.ndarray, day_lo: int, day_hi: int) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame(
        {
            "event_id": ids.astype("int64"),
            "ts_s": DAY0 + rng.integers(day_lo * 86400, day_hi * 86400, n),
            "user_id": rng.integers(1, USERS + 1, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": rng.integers(0, 100_000, n) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def dir_files(path: str) -> dict[str, int]:
    """Path -> size of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def row_bytes(event_type: str, props: str) -> int:
    """User bytes of one event: four 8-byte fields plus the strings."""
    return 32 + len(event_type) + len(props)


class EventOracle:
    """The table's expected live rows, replayed from the op log."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.user_bytes = 0

    def put(self, pdf: pd.DataFrame) -> None:
        for r in pdf.itertuples(index=False):
            old = self.rows.get(r.event_id)
            if old is not None:
                self.user_bytes -= row_bytes(old[2], old[4])
            self.rows[r.event_id] = (int(r.ts_s), int(r.user_id), r.event_type, float(r.value), r.props)
            self.user_bytes += row_bytes(r.event_type, r.props)

    def delete_range(self, lo: int, hi: int) -> int:
        gone = [k for k in self.rows if lo <= k < hi]
        for k in gone:
            old = self.rows.pop(k)
            self.user_bytes -= row_bytes(old[2], old[4])
        return len(gone)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(
            [(k, *v) for k, v in self.rows.items()],
            columns=["event_id", "ts_s", "user_id", "event_type", "value", "props"],
        )

    def type_aggregate(self) -> dict:
        """event_type -> (live rows, sum of value)"""
        out: dict[str, tuple[int, float]] = {}
        for _ts, _u, et, v, _p in self.rows.values():
            c, s = out.get(et, (0, 0.0))
            out[et] = (c + 1, s + v)
        return out


def agg_equal(got: dict, want: dict) -> bool:
    if set(got) != set(want):
        return False
    return all(
        got[k][0] == want[k][0] and math.isclose(got[k][1], want[k][1], rel_tol=1e-9, abs_tol=1e-6)
        for k in want
    )


def ts_literal(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, tz=timezone.utc).strftime("TIMESTAMP '%Y-%m-%d %H:%M:%S'")


def gen_docs(rng: np.random.Generator) -> pd.DataFrame:
    """Documents over a small vocabulary; every ``DOC_DUP_EVERY``-th
    document repeats an earlier one verbatim."""
    texts: list[str] = []
    for i in range(DOCS):
        if i and i % DOC_DUP_EVERY == 0:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(20, 121)))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(DOCS, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 8}" for i in range(DOCS)],
            "n_chars": [len(t) for t in texts],
        }
    )


def curate_oracle(docs: pd.DataFrame, min_tokens: int) -> set[int]:
    """Lowest id per identical text, then at least ``min_tokens`` words."""
    first: dict[str, int] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        first.setdefault(text, int(doc_id))
    return {i for t, i in first.items() if len(t.split(" ")) >= min_tokens}


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One benchmark operation: ``run`` is timed, ``check`` is not.
    ``run`` returns ``(value, dataframe-or-None)``; the DataFrame lets
    the traced run ask Spark which files a query read."""

    kind: str
    run: object
    check: object
    #: event ids the op touched (to attribute a failed final check)
    keys: set = field(default_factory=set)
    is_query: bool = False
    #: the table a query reads (files-read ratio in the traced run)
    table: object = None
    #: rows into an operator, and ``kept(value, df)``: rows it kept
    rows_in: int = 0
    kept: object = None


class EventsTable:
    """An events table, its oracle, and the op generators both
    workloads use."""

    def __init__(self, ctx, name: str, rng: np.random.Generator):
        from iceberg_rs_spark.sources.icelake import Catalog

        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = rng
        schema = self.spark.createDataFrame([], EVENTS_DDL).schema
        self.table = Catalog(self.spark, ctx.warehouse).create_table(
            name, schema, partition_by=[("ts", "day")]
        )
        self.oracle = EventOracle()
        self.next_id = 0

    def to_spark(self, pdf: pd.DataFrame):
        from pyspark.sql import functions as F

        df = self.spark.createDataFrame(pdf)
        cols = [F.col(c) for c in df.columns if c not in ("event_id", "ts_s")]
        return df.select("event_id", F.timestamp_seconds("ts_s").alias("ts"), *cols)

    def append_op(self, n: int = APPEND_ROWS, day_lo: int = DAYS - APPEND_RECENT_DAYS) -> Op:
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        pdf = gen_events(self.rng, ids, day_lo, DAYS)
        df = self.to_spark(pdf)

        def check(_):
            self.oracle.put(pdf)
            return True

        return Op("append", lambda: (self.table.append(df), None), check, keys=set(ids.tolist()))

    def upsert_op(self) -> Op:
        """A change batch of existing keys with new values, part of it
        delivered twice (at-least-once transport): ``exact_dedup``
        drops the repeated deliveries and a ``text_stats`` gate drops
        change records with a truncated payload, then the merge-on-read
        MERGE. Each operator's output is materialized inside its span,
        so the span holds the operator's execution."""
        from iceberg_rs_spark.operators.dedup import exact_dedup
        from iceberg_rs_spark.operators.text import text_stats

        live = np.fromiter(self.oracle.rows.keys(), dtype="int64")
        keys = self.rng.choice(live, min(UPSERT_KEYS, len(live)), replace=False)
        pdf = pd.DataFrame(
            [(k, *self.oracle.rows[k]) for k in keys],
            columns=["event_id", "ts_s", "user_id", "event_type", "value", "props"],
        )
        pdf["event_type"] = self.rng.choice(EVENT_TYPES, len(pdf))
        pdf["value"] = self.rng.integers(0, 100_000, len(pdf)) / 100.0
        repeated = pdf.sample(frac=REDELIVERY_SHARE, random_state=int(self.rng.integers(1 << 31)))
        batch = pd.concat([pdf, repeated], ignore_index=True)
        batch["delivery_id"] = np.arange(len(batch), dtype="int64")
        # PAYLOAD_FIELDS alphanumeric fields, so exact_dedup's
        # normalization is the identity and every record passes the gate
        batch["payload"] = [
            f"{r.event_id} {r.ts_s} {r.user_id} {r.event_type} {round(r.value * 100)} {r.props[6:-1]}"
            for r in batch.itertuples(index=False)
        ]
        df = self.to_spark(batch)
        tracer = self.ctx.tracer

        def run():
            with tracer.span("operators.exact_dedup"):
                deduped = exact_dedup(df, text_col="payload", id_col="delivery_id").localCheckpoint()
            with tracer.span("operators.text_stats"):
                whole = text_stats(deduped, text_col="payload", id_col="delivery_id").where(
                    f"n_tokens = {PAYLOAD_FIELDS}"
                )
                changes = deduped.join(whole.select("delivery_id"), "delivery_id", "left_semi").localCheckpoint()
            self.table.merge(changes, on=["event_id"], mode="merge-on-read")
            return None, changes

        def check(_):
            self.oracle.put(pdf)
            return True

        return Op(
            "upsert", run, check, keys=set(pdf.event_id.tolist()),
            rows_in=len(batch), kept=lambda _v, changes: changes.count(),
        )

    def delete_op(self) -> Op:
        lo = int(self.rng.integers(0, max(1, self.next_id - DELETE_SPAN)))
        hi = lo + DELETE_SPAN
        where = f"event_id >= {lo} AND event_id < {hi}"

        def check(deleted):
            return deleted == self.oracle.delete_range(lo, hi)

        return Op(
            "delete",
            lambda: (self.table.delete(where, mode="merge-on-read"), None),
            check,
            keys=set(range(lo, hi)),
        )

    def maintenance_op(self) -> Op:
        def run():
            self.table.compact()
            self.table.expire_snapshots()
            return None, None

        return Op("maintenance", run, lambda _: True)

    def stored_ratio(self) -> float:
        return sum(dir_files(self.table.location).values()) / self.oracle.user_bytes


# ---------------------------------------------------------------------------
# cdc_ingest
# ---------------------------------------------------------------------------


class CdcIngest:
    """A closed-loop stream of small commits into a day(ts)-partitioned
    events table; each cycle of commits ends with compact() +
    expire_snapshots(). The table is checked at the end against the
    dict replay of the op log."""

    name = "cdc_ingest"
    #: 11 commits, then maintenance; mostly appends, so the loop's
    #: median op is an append
    ROUND = (
        "append", "upsert", "append", "append", "delete", "append",
        "append", "append", "upsert", "append", "append", "maintenance",
    )
    WARMUP = ("append", "upsert", "delete", "maintenance")

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.rng = np.random.default_rng(seed)

    def params(self) -> dict:
        return {
            "base_events": BASE_EVENTS, "days": DAYS, "users": USERS,
            "append_rows": APPEND_ROWS, "upsert_keys": UPSERT_KEYS,
            "redelivery_share": REDELIVERY_SHARE, "delete_span": DELETE_SPAN,
            "round": list(self.ROUND),
        }

    def setup(self, execute) -> None:
        self.events = ev = EventsTable(self.ctx, "db.cdc_events", self.rng)
        execute(ev.append_op(BASE_EVENTS, 0))

    def make(self, kind: str) -> Op:
        return getattr(self.events, f"{kind}_op")()

    @property
    def table(self):
        return self.events.table

    def verify_op(self, ops) -> Op:
        """Replay check of the final table. A key whose row differs from
        the oracle fails every loop op that touched it; the check itself
        fails only for a differing key that no loop op touched."""
        from pyspark.sql import functions as F

        ev = self.events

        def run():
            df = ev.table.scan()
            rows = df.select(
                "event_id", F.unix_seconds("ts").alias("ts_s"), "user_id", "event_type", "value", "props"
            ).toPandas()
            return rows, df

        def check(rows):
            got = {
                int(r.event_id): (int(r.ts_s), int(r.user_id), r.event_type, float(r.value), r.props)
                for r in rows.itertuples(index=False)
            }
            want = ev.oracle.rows
            bad = {k for k in want.keys() | got.keys() if got.get(k) != want.get(k)}
            bad |= {int(k) for k in rows["event_id"][rows["event_id"].duplicated()]}
            unexplained = set(bad)
            for op in ops:
                if op.keys & bad:
                    op.ok = False
                    op.error = op.error or "final table differs from the op-log replay"
                    unexplained -= op.keys
            return not unexplained

        return Op("verify", run, check, is_query=True, table=ev.table)


# ---------------------------------------------------------------------------
# scan_mix
# ---------------------------------------------------------------------------


class ScanMix:
    """A closed-loop query mix over a table whose fixed CDC history
    leaves eight snapshots, live position and equality deletes
    and a tag: point, range, full scan, time travel (snapshot id,
    timestamp, tag) and a curation query over a documents table."""

    name = "scan_mix"
    #: the three time_travel ops of a round read at a snapshot id, at a
    #: timestamp and at the tag, in turn: a tag read costs half an id
    #: read, and a seeded pick made the seed, not the program, set ~10%
    #: of a run's CPU time
    ROUND = ("point", "range", "time_travel", "range", "full_scan", "time_travel", "curate", "time_travel")
    #: point and time_travel run the read path a range query warms up
    #: (Table.scan, pruning, the delete anti-joins, a small collect)
    WARMUP = ("range", "full_scan", "curate")

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.rng = np.random.default_rng(seed)
        self.snap_aggs: dict[int, dict] = {}
        self.time_travels = 0

    def params(self) -> dict:
        return {
            "base_events": BASE_EVENTS, "days": DAYS, "users": USERS,
            "history": list(SCAN_HISTORY), "history_seed": SCAN_HISTORY_SEED,
            "docs": DOCS, "doc_dup_every": DOC_DUP_EVERY, "round": list(self.ROUND),
        }

    def setup(self, execute) -> None:
        from iceberg_rs_spark.sources.icelake import Catalog

        hist_rng = np.random.default_rng(SCAN_HISTORY_SEED)
        self.events = ev = EventsTable(self.ctx, "db.scan_events", hist_rng)
        t = ev.table
        tracer = self.ctx.tracer

        def record_snapshot():
            with tracer.paused():
                md = t.metadata
                snap = md.snapshot_by_id(md.current_snapshot_id)
            self.snap_aggs[snap.snapshot_id] = ev.oracle.type_aggregate()
            return snap

        execute(ev.append_op(BASE_EVENTS, 0))
        snaps = [record_snapshot()]
        tag_snap = None
        for kind in SCAN_HISTORY:
            if kind == "tag":
                tag_snap = snaps[-1]
                execute(Op("tag", lambda: (t.create_tag("early"), None), lambda _: True))
            else:
                execute(getattr(ev, f"{kind}_op")())
                snaps.append(record_snapshot())
        # Planning cost grows with the snapshot's commit count: id and
        # timestamp reads land mid-history, the tag early.
        mid = snaps[len(snaps) // 2]
        self.targets = [
            ("version", mid.snapshot_id, mid.snapshot_id),
            ("timestamp", mid.timestamp_ms, mid.snapshot_id),
            ("tag", "early", tag_snap.snapshot_id),
        ]
        self.final = ev.oracle.frame()
        self.final["day"] = (self.final["ts_s"] - DAY0) // 86400
        self.day_type = {
            k: (int(g.shape[0]), float(g["value"].sum()))
            for k, g in self.final.groupby(["day", "event_type"])
        }
        self.live_keys = np.fromiter(ev.oracle.rows.keys(), dtype="int64")
        self.dead_keys = np.array(sorted(set(range(ev.next_id)) - set(ev.oracle.rows)), dtype="int64")

        self.docs_pdf = gen_docs(hist_rng)
        docs_df = self.ctx.spark.createDataFrame(self.docs_pdf)
        self.docs = Catalog(self.ctx.spark, self.ctx.warehouse).create_table("db.docs", docs_df.schema)
        execute(Op("docs_load", lambda: (self.docs.append(docs_df), None), lambda _: True))

    def make(self, kind: str) -> Op:
        return getattr(self, f"_{kind}")()

    @property
    def table(self):
        return self.events.table

    def verify_op(self, ops) -> None:
        return None  # every query was checked against its oracle answer

    # -- queries -------------------------------------------------------

    @staticmethod
    def _agg(df) -> dict:
        from pyspark.sql import functions as F

        rows = df.groupBy("event_type").agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()
        return {r["event_type"]: (r["n"], r["s"]) for r in rows}

    def _point(self) -> Op:
        from pyspark.sql import functions as F

        pool = self.dead_keys if self.rng.random() < 0.2 and len(self.dead_keys) else self.live_keys
        k = int(self.rng.choice(pool))
        t = self.table

        def run():
            df = t.scan(where=f"event_id = {k}")
            rows = df.select(
                F.unix_seconds("ts").alias("ts_s"), "user_id", "event_type", "value", "props"
            ).collect()
            return [tuple(r) for r in rows], df

        want = self.events.oracle.rows.get(k)
        return Op("point", run, lambda got: got == ([want] if want else []), is_query=True, table=t)

    def _range(self) -> Op:
        day = int(self.rng.integers(0, DAYS))
        et = str(self.rng.choice(EVENT_TYPES))
        lo = DAY0 + day * 86400
        where = f"ts >= {ts_literal(lo)} AND ts < {ts_literal(lo + 86400)} AND event_type = '{et}'"
        t = self.table

        def run():
            df = t.scan(where=where)
            return self._agg(df), df

        want = self.day_type.get((day, et))
        return Op("range", run, lambda got: agg_equal(got, {et: want} if want else {}), is_query=True, table=t)

    def _full_scan(self) -> Op:
        from pyspark.sql import functions as F

        v = float(self.rng.integers(0, 500))
        t = self.table

        def run():
            df = t.scan()
            return self._agg(df.where(F.col("value") >= v)), df

        def check(got):
            f = self.final[self.final["value"] >= v]
            want = {k: (int(g.shape[0]), float(g["value"].sum())) for k, g in f.groupby("event_type")}
            return agg_equal(got, want)

        return Op("full_scan", run, check, is_query=True, table=t)

    def _time_travel(self) -> Op:
        how, ref, snap_id = self.targets[self.time_travels % len(self.targets)]
        self.time_travels += 1
        arg = {"version": "snapshot_id", "timestamp": "as_of_timestamp_ms", "tag": "tag"}[how]
        t = self.table

        def run():
            df = t.scan(**{arg: ref})
            return self._agg(df), df

        return Op(
            "time_travel", run, lambda got: agg_equal(got, self.snap_aggs[snap_id]),
            is_query=True, table=t,
        )

    def _curate(self) -> Op:
        from iceberg_rs_spark.operators.dedup import exact_dedup
        from iceberg_rs_spark.operators.text import text_stats

        min_tokens = int(self.rng.integers(20, 121))
        tracer = self.ctx.tracer
        docs = self.docs

        def run():
            df = docs.scan()
            with tracer.span("operators.exact_dedup"):
                kept = exact_dedup(df).localCheckpoint()
            with tracer.span("operators.text_stats"):
                stats = text_stats(kept).where(f"n_tokens >= {min_tokens}")
                ids = [r.doc_id for r in stats.select("doc_id").collect()]
            return ids, df

        def check(ids):
            return len(ids) == len(set(ids)) and set(ids) == curate_oracle(self.docs_pdf, min_tokens)

        return Op(
            "curate", run, check, is_query=True, table=docs,
            rows_in=DOCS, kept=lambda ids, _df: len(ids),
        )


WORKLOADS = {w.name: w for w in (CdcIngest, ScanMix)}
