"""Layer boundaries the traced run records, and the per-layer metrics
computed from its spans.

Layers are named after the program's modules:

- ``session``   — ``iceberg_rs_spark.session.get_spark`` (timed by the runner)
- ``model``     — ``TableMetadata.from_json_str`` / ``to_json_str``
- ``icelake``   — every public ``Table`` method and the ``Table.metadata``
  property of ``iceberg_rs_spark/sources/icelake.py``
- ``spark``     — the PySpark reader, writer and action calls that icelake
  and the operators make
- ``operators`` — the benchmark's calls into ``iceberg_rs_spark.operators``
  (recorded by the workloads themselves)

``os.fsync`` calls and pyarrow ``ParquetFile`` opens (footer reads) are
counted, not spanned, so their time stays in icelake's self time.
"""

from __future__ import annotations

import os
import statistics

from spans import covered, self_times

SPARK_ACTIONS = ("collect", "count", "toPandas", "localCheckpoint")

#: the per-layer metrics of the traced run's last line (BENCHMARK.json)
PER_LAYER = (
    "session.start_s",
    "model.parse_calls_per_op",
    "model.parse_ms_per_op",
    "model.serialize_ms_per_commit",
    "model.metadata_bytes",
    "icelake.self_ms_per_op",
    "icelake.plan_ms_per_query",
    "icelake.files_read_ratio",
    "icelake.metadata_bytes_written_per_commit",
    "icelake.fsyncs_per_commit",
    "icelake.footer_reads_per_commit",
    "icelake.compact_bytes_rewritten",
    "icelake.data_files_live",
    "icelake.delete_files_live",
    "icelake.snapshots_live",
    "spark.read_calls_per_op",
    "spark.read_plan_ms_per_op",
    "spark.exec_ms_per_op",
    "spark.write_ms_per_commit",
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "operators.exact_dedup_ms",
    "operators.text_stats_ms",
    "operators.rows_kept_ratio",
    "trace.op_ms_p50",
)


def install(tracer, spark) -> None:
    import pyarrow.parquet as pq

    from iceberg_rs_spark.model.table import TableMetadata
    from iceberg_rs_spark.sources.icelake import Table

    tracer.patch_method(TableMetadata, "from_json_str", "model.TableMetadata.from_json_str", size_arg=0)
    tracer.patch_method(TableMetadata, "to_json_str", "model.TableMetadata.to_json_str")
    for name, attr in list(vars(Table).items()):
        if not name.startswith("_") and (callable(attr) or isinstance(attr, property)):
            tracer.patch_method(Table, name, f"icelake.Table.{name}")

    df = spark.range(1)
    tracer.patch_method(type(spark.read), "parquet", "spark.read.parquet")
    tracer.patch_method(type(df.write), "parquet", "spark.write.parquet")
    for action in SPARK_ACTIONS:
        owner = next(c for c in type(df).__mro__ if action in vars(c))
        tracer.patch_method(owner, action, f"spark.exec.{action}")

    fsync = os.fsync

    def counted_fsync(fd):
        tracer.count("io.fsync")
        return fsync(fd)

    tracer.patch(os, "fsync", counted_fsync)

    class CountedParquetFile(pq.ParquetFile):
        def __init__(self, *args, **kwargs):
            tracer.count("io.footer_read")
            super().__init__(*args, **kwargs)

    tracer.patch(pq, "ParquetFile", CountedParquetFile)


def gauges(tracer, table) -> dict[str, int]:
    """Live data files, delete files and snapshots of the workload's
    table at the end of the run."""
    with tracer.paused():
        content = [r.content for r in table.files().select("content").collect()]
        snapshots = len(table.metadata.snapshots)
    return {
        "data": sum(c == "data" for c in content),
        "deletes": sum(c != "data" for c in content),
        "snapshots": snapshots,
    }


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def per_layer(tracer, records, session_s: float, gauges: dict) -> dict:
    """Per-layer metrics: per-op figures over the timed loop's ops;
    per-commit and per-query figures over the loop's commits/queries,
    or over the set-up's (scan_mix commits only in set-up) and the
    final check's (cdc_ingest queries only there) when the loop has
    none."""
    spans = tracer.spans
    selfs = self_times(spans)
    loop = [r for r in records if r.phase == "loop"]
    n = max(1, len(loop))

    def pick(pred):
        for phase in ("loop", "setup", "verify"):
            chosen = [r for r in records if r.phase == phase and pred(r)]
            if chosen:
                return chosen
        return []

    commits = pick(lambda r: r.commits > 0)
    queries = pick(lambda r: r.is_query and r.ok)
    compactions = pick(lambda r: r.kind == "maintenance")
    n_commits = max(1, sum(r.commits for r in commits))

    by_op: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.op is not None:
            by_op.setdefault(s.op, []).append(i)

    def span_sum(ops, pred, measure=lambda i: spans[i].duration) -> float:
        return sum(measure(i) for r in ops for i in by_op.get(r.idx, ()) if pred(spans[i]))

    def span_count(ops, pred) -> int:
        return sum(1 for r in ops for i in by_op.get(r.idx, ()) if pred(spans[i]))

    def counter(ops, name) -> float:
        return sum(tracer.counters.get((r.idx, name), 0) for r in ops)

    def named(name):
        return lambda s: s.name == name

    def per_call(pred) -> float:
        """Mean ms of a call over the loop's calls."""
        return span_sum(loop, pred) * 1000 / max(1, span_count(loop, pred))

    def exec_ms(r) -> float:
        iv = [(spans[i].start, spans[i].end) for i in by_op.get(r.idx, ()) if spans[i].name.startswith("spark.exec.")]
        return covered(iv, r.start, r.end) * 1000.0

    parse = named("model.TableMetadata.from_json_str")
    parse_bytes = [spans[i].attrs.get("bytes", 0) for r in loop for i in by_op.get(r.idx, ()) if parse(spans[i])]
    kept = [r for r in loop if r.rows_in]
    ratios = [r.files_read_ratio for r in queries if r.files_read_ratio is not None]
    lat = [r.ms for r in loop]
    return {
        "session.start_s": (session_s, "s"),
        "model.parse_calls_per_op": (span_count(loop, parse) / n, "count"),
        "model.parse_ms_per_op": (span_sum(loop, parse) * 1000 / n, "ms"),
        "model.serialize_ms_per_commit": (
            span_sum(commits, named("model.TableMetadata.to_json_str")) * 1000 / n_commits, "ms"),
        "model.metadata_bytes": (_median(parse_bytes), "bytes"),
        "icelake.self_ms_per_op": (
            span_sum(loop, lambda s: s.layer == "icelake", lambda i: selfs[i]) * 1000 / n, "ms"),
        "icelake.plan_ms_per_query": (
            span_sum(queries, named("icelake.Table.scan")) * 1000 / max(1, len(queries)), "ms"),
        "icelake.files_read_ratio": (_median(ratios), "ratio"),
        "icelake.metadata_bytes_written_per_commit": (
            sum(r.metadata_bytes for r in commits) / n_commits, "bytes"),
        "icelake.fsyncs_per_commit": (counter(commits, "io.fsync") / n_commits, "count"),
        "icelake.footer_reads_per_commit": (counter(commits, "io.footer_read") / n_commits, "count"),
        "icelake.compact_bytes_rewritten": (_median(r.data_bytes for r in compactions), "bytes"),
        "icelake.data_files_live": (gauges["data"], "count"),
        "icelake.delete_files_live": (gauges["deletes"], "count"),
        "icelake.snapshots_live": (gauges["snapshots"], "count"),
        "spark.read_calls_per_op": (span_count(loop, named("spark.read.parquet")) / n, "count"),
        "spark.read_plan_ms_per_op": (span_sum(loop, named("spark.read.parquet")) * 1000 / n, "ms"),
        "spark.exec_ms_per_op": (sum(exec_ms(r) for r in loop) / n, "ms"),
        "spark.write_ms_per_commit": (
            span_sum(commits, named("spark.write.parquet")) * 1000 / n_commits, "ms"),
        "spark.jobs_per_op": (sum(r.jobs for r in loop) / n, "count"),
        "spark.tasks_per_op": (sum(r.tasks for r in loop) / n, "count"),
        "operators.exact_dedup_ms": (per_call(named("operators.exact_dedup")), "ms"),
        "operators.text_stats_ms": (per_call(named("operators.text_stats")), "ms"),
        "operators.rows_kept_ratio": (
            sum(r.rows_kept for r in kept) / max(1, sum(r.rows_in for r in kept)), "ratio"),
        "trace.op_ms_p50": (_median(lat), "ms"),
    }
