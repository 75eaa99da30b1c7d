"""Every registered query with an oracle must match DuckDB exactly (strict
superset of the driver's order-insensitive value-hash gate)."""

from __future__ import annotations

import pytest

from arrow_parquet_logs_spark.queries import REGISTRY

from tests.parity import compare, duck_connect


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


_WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
_NO_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle is None)

#: the slowest oracle-parity rows run in the scale tier only (all of them
#: still run in the driver-emulation sweep)
_SCALE_ROWS = {
    "ann_ivfpq_stream_maintained",
    "dedup_cdc_cluster_maintain",
    "ann_ivfpq_maxsim_rerank",
    "dedup_lsh_cdc_merge",
    "ann_ivfpq_stream_ingest",
    "dedup_embedding_cosine",
    "events_stream_stream_join",
    "events_stream_sequential_decision",
    "ann_maxsim_late_interaction",
    "ann_maxsim_rerank",
    "docs_cluster_budget_selection",
    "docs_substring_dedup_cdc",
    "ann_ivfpq_hot_cell_split",
    "graph_triangle_count",
    "table_stream_incremental_rollup",
    "dedup_clusters",
}


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=pytest.mark.scale) if n in _SCALE_ROWS else n for n in _WITH_ORACLE],
)
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    compare(spec.fn(spark, sf_dir), duck, spec.oracle, name)


@pytest.mark.parametrize("name", _NO_ORACLE)
def test_rows_only(spark, sf_dir, name):
    # non-SQL-expressible ops: smoke — runs, stable schema, ≥0 rows
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.columns
    assert df.count() >= 0
