"""Driver-style oracle cross-checks for every reference-surface query,
at sf0.001 (fast) and the full chain at sf0.01 (the driver's gate SF)."""

import pytest

from tests.conftest import SF_DIR, SF_DIR_MID, assert_query_matches_oracle


def _names():
    from streaming_data_pipeline_spark.plans import reference_queries

    return sorted(reference_queries.QUERIES)


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle_sf0001(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


@pytest.mark.parametrize("name", ["etl_enrich_events", "event_type_rollup", "windowed_counts_60s"])
def test_query_matches_oracle_sf001(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR_MID)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "event_count" in df.columns


def test_event_type_rollup_rounds_ties_half_up(spark, duck, tmp_path):
    """A per-type mean on a 5th-decimal tie (307.03 / 8 = 38.37875) must
    round half-up to 38.3788 in the plan and in its oracle. Rounding a
    double AVG to 4 dp splits the engines on such ties (Spark 38.3788,
    DuckDB 38.3787)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_data_pipeline_spark.plans.reference_queries import (
        ORACLE,
        event_type_rollup,
    )

    values = [38.37] + [38.38] * 7
    n = len(values)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([datetime.datetime(2024, 1, 30, 12)] * n, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": ["tie"] * n,
                "value": values,
                "props": ['{"k": 1}'] * n,
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    [got] = event_type_rollup(spark, str(tmp_path)).collect()
    duck.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    [(_, count, want, _)] = duck.execute(ORACLE["event_type_rollup"]).fetchall()
    assert got.event_count == count == n
    assert got.avg_value == want == 38.3788
