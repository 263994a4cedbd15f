"""The t2 gate, locally: every corpus query runs on Spark (DataFrame
plan) and DuckDB (oracle SQL) over identical parquet and must match."""

from __future__ import annotations

import pytest

from iceberg_rs_spark.plans import CORPUS
from tests.oracle_utils import assert_frames_match


@pytest.mark.parametrize("name", sorted(CORPUS))
def test_corpus_query_matches_oracle(name, spark, duck, sf_dir):
    spec = CORPUS[name]
    sdf = spec.builder(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if spec.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    duck_pdf = duck.sql(spec.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    # Every registered name exactly once, in registration order.
    assert list(e.queries()) == list(CORPUS)
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize(
    "name",
    [
        # the queries whose semantics touch timestamps hardest: stream
        # watermark casts + closed-window cutoff, epoch transforms,
        # datetime scalar family, hour-grid interpolation
        "stream_stream_abandoned_clicks",
        "fn_epoch_transforms",
        "fn_datetime_family2",
        "ts_gapfill_interpolate",
    ],
)
def test_timezone_independence(name, spark, duck, sf_dir):
    """The driver's session timezone is not guaranteed to be UTC; every
    query must produce identical (hash-equal) results regardless. This
    sweep caught a real bug once: a naive-datetime literal cast under a
    non-UTC session shifted the outer stream join's closed-window
    cutoff by the zone offset."""
    spec = CORPUS[name]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spark_pdf = spec.builder(spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert_frames_match(spark_pdf, duck.sql(spec.oracle).df(), name=f"tz:{name}")


def test_gapfill_null_avg_hours(spark, tmp_path):
    """An hour whose events all carry a NULL value has a NULL
    ``AVG(value)``: it still bounds the user's hour grid, but it is no
    interpolation neighbour. Covers such an hour inside a span, at a
    user's first and last hour, an all-NULL user, and a NULL hour
    before the first valued one. The sf fixtures hold no NULL values,
    so the corpus sweep cannot see this."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        # user 1: NULL first hour, valued 1, NULL 3 (inside), valued 5,
        # NULL last hour 7; gaps at 2, 4 and 6
        (1, 0, None), (1, 0, None), (1, 1, 2.0), (1, 1, None), (1, 1, 4.0),
        (1, 3, None), (1, 5, 10.0), (1, 7, None),
        # user 2: every value NULL
        (2, 2, None), (2, 6, None),
        # user 3: two NULL hours before the first valued one
        (3, 0, None), (3, 2, None), (3, 4, 7.5), (3, 8, 1.25),
        # user 4: no NULLs (the path the fixtures cover)
        (4, 1, 3.0), (4, 4, 6.0),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [
                    t0 + dt.timedelta(hours=h, minutes=i)
                    for i, (_, h, _) in enumerate(rows)
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([v for _, _, v in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")

    spec = CORPUS["ts_gapfill_interpolate"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    try:
        duck_pdf = con.sql(spec.oracle).df()
    finally:
        con.close()
    assert len(duck_pdf) == 8 + 5 + 9 + 4
    spark_pdf = spec.builder(spark, str(tmp_path)).toPandas()
    assert_frames_match(spark_pdf, duck_pdf, name="ts_gapfill_interpolate:null-avg")


class TestGateCanary:
    """Negative controls for the compare machinery itself: a gate that
    cannot FAIL is vacuously green, so every divergence class the
    driver's hash distinguishes must raise here, and every legitimate
    variation (row order, NaN==NaN) must pass. Pure pandas — no Spark."""

    @staticmethod
    def _pdf(**cols):
        import pandas as pd

        return pd.DataFrame(dict(cols))

    def _must_differ(self, a, b, fragment=""):
        with pytest.raises(AssertionError, match=fragment):
            assert_frames_match(a, b, name="canary")

    def test_identical_frames_pass_in_any_row_order(self):
        a = self._pdf(k=[1, 2, 3], v=[1.5, 2.5, float("nan")])
        b = self._pdf(k=[3, 1, 2], v=[float("nan"), 1.5, 2.5])
        assert_frames_match(a, b, name="canary")  # order-insensitive

    def test_column_name_divergence_fails(self):
        self._must_differ(
            self._pdf(sum_qty=[1]), self._pdf(total=[1]), "column mismatch"
        )

    def test_row_count_divergence_fails(self):
        self._must_differ(self._pdf(k=[1, 2]), self._pdf(k=[1]), "row count")

    def test_dtype_kind_divergence_fails(self):
        # DuckDB DOUBLE vs Spark BIGINT with equal numbers must still fail
        self._must_differ(
            self._pdf(k=[1, 2]), self._pdf(k=[1.0, 2.0]), "dtype-kind"
        )

    def test_value_divergence_fails(self):
        self._must_differ(self._pdf(k=[1, 2]), self._pdf(k=[1, 3]), "differs")

    def test_float_bit_divergence_fails(self):
        self._must_differ(
            self._pdf(v=[1.0]), self._pdf(v=[1.0 + 1e-15]), "differs"
        )

    def test_signed_zero_divergence_fails(self):
        self._must_differ(self._pdf(v=[0.0]), self._pdf(v=[-0.0]), "differs")

    def test_null_vs_value_divergence_fails(self):
        self._must_differ(
            self._pdf(v=[None, "x"]), self._pdf(v=["x", "x"]), "differs"
        )

    def test_nested_list_divergence_fails(self):
        self._must_differ(
            self._pdf(v=[[1, 2], [3]]), self._pdf(v=[[1, 2], [4]]), "differs"
        )

    def test_nested_list_equality_passes(self):
        a = self._pdf(v=[[1, 2], [3]])
        b = self._pdf(v=[[3], [1, 2]])
        assert_frames_match(a, b, name="canary")
