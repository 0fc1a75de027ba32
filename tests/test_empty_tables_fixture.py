"""Zero-row input fixture (round-4 sweep #4).

Replays EVERY oracle-bearing registry query against empty copies of all
ten tables (exact original parquet schemas, zero rows).  At 100 TB the
empty case is not exotic: a partition-pruned scan, a filter that
matches nothing, a fresh tenant, or a backfill window with no data all
hand operators zero rows, and a query that crashes (head()[0],
np.stack([]), division by a zero count) takes the whole job down.
Both engines must agree on the empty-input result, not just survive.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import REGISTRY

from conftest import SF_DIR, TABLES
from test_oracle_diff import replay_oracle_parity

QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
# cheap headline shapes kept in the default run while the full sweep
# is `slow`: scan, join, aggregate, window, latest-wins upsert
CANARY = [
    "q_scan_lineitem",
    "q_join_inner",
    "q_group_agg",
    "q_window_rank",
    "q_upsert_latest_wins",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("emptytables")
    for t in TABLES:
        sch = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(sch.empty_table(), d / f"{t}.parquet")
    return str(d)


@pytest.mark.slow
def test_empty_tables_oracle_parity(spark, empty_dir):
    failures = replay_oracle_parity(spark, empty_dir, QUERIES)
    assert not failures, failures


def test_empty_tables_canary(spark, empty_dir):
    failures = replay_oracle_parity(spark, empty_dir, CANARY)
    assert not failures, failures
