"""The benchmark's own tests: span arithmetic, the recorder's patching,
the per-layer self-time figures and the oracles. No Spark needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
from run import OpRecord, process_cpu_s, quantile, steal_pct  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402
from workloads import EventOracle, agg_equal, curate_oracle, row_bytes  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 6), (1, 2), (5, 7)], 0, 10) == 4
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_is_duration_minus_children_union():
    spans = [
        Span("icelake.Table.append", 0.0, 10.0),
        Span("model.TableMetadata.from_json_str", 1.0, 2.0, parent=0),
        Span("spark.write.parquet", 3.0, 7.0, parent=0),
        # overlaps its sibling: counted once
        Span("spark.exec.count", 6.0, 8.0, parent=0),
        # grandchild: already inside its parent, no effect on span 0
        Span("spark.read.parquet", 3.5, 4.0, parent=2),
    ]
    assert self_times(spans) == pytest.approx([10 - 1 - 5, 1.0, 3.5, 2.0, 0.5])


def test_tracer_nests_spans_and_tags_op_and_phase():
    tr = Tracer(enabled=True)
    tr.phase, tr.op = "loop", 7
    with tr.span("icelake.Table.scan"):
        with tr.span("spark.read.parquet"):
            tr.count("io.footer_read")
        with tr.paused():
            with tr.span("icelake.Table.files"):
                pass
            tr.count("io.footer_read")
    assert [s.name for s in tr.spans] == ["icelake.Table.scan", "spark.read.parquet"]
    assert [s.parent for s in tr.spans] == [None, 0]
    assert {s.op for s in tr.spans} == {7} and {s.phase for s in tr.spans} == {"loop"}
    assert tr.counters == {(7, "io.footer_read"): 1}
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    f = tr.wrap(lambda x: x + 1, "icelake.f")
    assert f(1) == 2
    with tr.span("icelake.g"):
        tr.count("io.fsync")
    assert tr.spans == [] and tr.counters == {}


class _Doc:
    def __init__(self):
        self.n = 1

    @staticmethod
    def parse(s):
        return len(s)

    def dump(self):
        return "x" * self.n

    @property
    def size(self):
        return self.n


def test_patch_and_uninstall_restore_every_kind_of_attribute():
    originals = {k: _Doc.__dict__[k] for k in ("parse", "dump", "size")}
    tr = Tracer(enabled=True)
    tr.patch_method(_Doc, "parse", "model.parse", size_arg=0)
    tr.patch_method(_Doc, "dump", "model.dump")
    tr.patch_method(_Doc, "size", "icelake.size")
    d = _Doc()
    assert (_Doc.parse("abc"), d.dump(), d.size) == (3, "x", 1)
    assert [(s.name, s.attrs) for s in tr.spans] == [
        ("model.parse", {"bytes": 3}),
        ("model.dump", {"bytes": 1}),
        ("icelake.size", {}),
    ]
    tr.uninstall()
    assert all(_Doc.__dict__[k] is v for k, v in originals.items())


def test_per_layer_self_time_and_per_op_figures():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span("icelake.Table.scan", 0.0, 0.4, op=0, phase="loop"),
        Span("model.TableMetadata.from_json_str", 0.0, 0.1, parent=0, op=0, phase="loop", attrs={"bytes": 100}),
        Span("spark.read.parquet", 0.2, 0.3, parent=0, op=0, phase="loop"),
        Span("spark.exec.collect", 0.4, 1.0, op=0, phase="loop"),
        Span("icelake.Table.scan", 2.0, 2.2, op=1, phase="loop"),
        Span("spark.exec.collect", 2.2, 3.0, op=1, phase="loop"),
        Span("spark.exec.count", 2.5, 2.7, parent=5, op=1, phase="loop"),
        Span("operators.exact_dedup", 3.0, 3.1, op=2, phase="loop"),
        Span("operators.exact_dedup", 3.2, 3.5, op=2, phase="loop"),
        # a set-up call does not count
        Span("operators.exact_dedup", 5.0, 6.0, op=3, phase="setup"),
    ]
    tr.counters = {(3, "io.fsync"): 2, (3, "io.footer_read"): 6}
    records = [
        OpRecord(0, "point", "loop", 0.0, 1.0, True, is_query=True, jobs=2, tasks=5),
        OpRecord(1, "range", "loop", 2.0, 3.0, True, is_query=True, jobs=1, tasks=3),
        OpRecord(2, "upsert", "loop", 3.0, 4.0, True),
        OpRecord(3, "append", "setup", 5.0, 6.0, True, commits=1, metadata_bytes=900),
    ]
    m = {k: v for k, (v, _u) in layers.per_layer(tr, records, 5.0, {"data": 3, "deletes": 1, "snapshots": 2}).items()}
    # icelake self time: (0.4 - 0.1 - 0.1) + 0.2 = 0.4 s over 3 ops
    assert m["icelake.self_ms_per_op"] == pytest.approx(400 / 3)
    assert m["icelake.plan_ms_per_query"] == pytest.approx(300.0)
    # nested actions are not counted twice: 0.6 s and 0.8 s
    assert m["spark.exec_ms_per_op"] == pytest.approx(1400 / 3)
    assert m["model.parse_calls_per_op"] == pytest.approx(1 / 3)
    assert m["model.metadata_bytes"] == 100
    assert m["spark.read_calls_per_op"] == pytest.approx(1 / 3)
    assert (m["spark.jobs_per_op"], m["spark.tasks_per_op"]) == (1.0, pytest.approx(8 / 3))
    # per call over the loop's two calls; no text_stats call at all
    assert m["operators.exact_dedup_ms"] == pytest.approx(200.0)
    assert m["operators.text_stats_ms"] == 0.0
    # no commit in the loop: per-commit figures fall back to set-up's
    assert m["icelake.fsyncs_per_commit"] == 2
    assert m["icelake.footer_reads_per_commit"] == 6
    assert m["icelake.metadata_bytes_written_per_commit"] == 900
    assert set(layers.PER_LAYER) <= set(m)


def test_quantile_matches_statistics_quantiles():
    vals = [float(v) for v in range(1, 21)]
    assert quantile(vals, 0.5) == 10.5
    assert quantile(vals, 0.9) == pytest.approx(18.9)
    assert quantile([4.0], 0.9) == 4.0


def test_process_cpu_s_adds_the_other_process_from_proc_stat():
    sum(i * i for i in range(2_000_000))  # some CPU time to count
    own = process_cpu_s(None)
    # this process stands in for the JVM: counted once by os.times()
    # and once from /proc/<pid>/stat, at clock-tick resolution
    assert own > 0
    assert process_cpu_s(os.getpid()) == pytest.approx(2 * own, abs=0.05)


def test_steal_pct_is_the_steal_share_of_elapsed_ticks():
    assert steal_pct((10, 100), (30, 300)) == 10.0
    assert steal_pct((0, 0), (0, 0)) == 0.0


def test_event_oracle_replay_and_user_bytes():
    o = EventOracle()
    o.put(pd.DataFrame({"event_id": [1, 2], "ts_s": [10, 20], "user_id": [5, 6],
                        "event_type": ["view", "click"], "value": [1.5, 2.5], "props": ['{"k": 1}', '{"k": 2}']}))
    o.put(pd.DataFrame({"event_id": [2], "ts_s": [20], "user_id": [6],
                        "event_type": ["purchase"], "value": [9.0], "props": ['{"k": 2}']}))
    assert o.rows[2] == (20, 6, "purchase", 9.0, '{"k": 2}')
    assert o.user_bytes == row_bytes("view", '{"k": 1}') + row_bytes("purchase", '{"k": 2}')
    assert o.type_aggregate() == {"view": (1, 1.5), "purchase": (1, 9.0)}
    assert o.delete_range(0, 2) == 1 and list(o.rows) == [2]


def test_agg_equal_tolerates_float_order_only():
    assert agg_equal({"a": (2, 0.1 + 0.2)}, {"a": (2, 0.3)})
    assert not agg_equal({"a": (3, 0.3)}, {"a": (2, 0.3)})
    assert not agg_equal({"a": (2, 0.3)}, {"a": (2, 0.3), "b": (1, 1.0)})


def test_curate_oracle_keeps_lowest_id_then_filters_length():
    docs = pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": ["a b c", "x y", "a b c", "p q r s"]})
    assert curate_oracle(docs, 3) == {0, 3}
    assert curate_oracle(docs, 1) == {0, 1, 3}


def test_benchmark_json_lists_the_traced_run_metrics():
    import json

    with open(os.path.join(os.path.dirname(layers.__file__), "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
