"""Self-test of the benchmark's input generator.

Ingesting the generated raw JSON through the real ingest path must
reproduce the catalog's own mapping layer
(``commerce_tables_from_benchmark``) on every column both have, and
the expected-state merge must agree with the store after a drop.
Runs at the correctness scale of TESTDATA.md's sf0.01 (15 000 orders):

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
from shopify_db_spark.ingest_jobs import ingest_from_json_dir  # noqa: E402
from shopify_db_spark.plans.commerce import commerce_tables_from_benchmark  # noqa: E402
from shopify_db_spark.session import get_spark  # noqa: E402
from shopify_db_spark.sources.store import CommerceStore  # noqa: E402
from shopify_db_spark.testing import compare_frames  # noqa: E402

SF001_ORDERS = 15_000


@pytest.fixture(scope="module")
def ingested(tmp_path_factory):
    work = tmp_path_factory.mktemp("gen")
    star = gen.star_tables(seed=7, n_orders=SF001_ORDERS, corpus=False)
    gen.write_parquet(star, str(work / "sf"))
    con = gen.connect(star)
    gen.build_entities(con, "exp_")
    gen.write_jsonl(con, "exp_", str(work / "json"))
    spark = get_spark(app_name="bench_generator_test")
    store = CommerceStore(spark, str(work / "store"))
    ingest_from_json_dir(spark, store, str(work / "json"))
    yield spark, store, con, star, work
    con.close()


def test_ingest_reproduces_mapping_layer(ingested):
    spark, store, _, _, work = ingested
    mapped = commerce_tables_from_benchmark(spark, str(work / "sf"), cache=False)
    for table, want in mapped.items():
        got = store.read(table)
        cols = [c for c in want.columns if c in got.columns]
        assert len(cols) >= 2, table
        problems = compare_frames(got.select(cols).toPandas(), want.select(cols).toPandas())
        assert not problems, (table, problems)


def test_drop_matches_merge_oracle(ingested):
    spark, store, con, star, work = ingested
    batches = gen.Batches(con, 7, SF001_ORDERS, star["customer"].num_rows,
                          star["part"].num_rows, SF001_ORDERS // 100)
    batches.make(1, str(work / "batch1"))
    ingest_from_json_dir(spark, store, str(work / "batch1"))
    batches.apply()
    for table in gen.INGESTED:
        got = pq.read_table(store.path(table)).to_pandas()
        want = con.execute(f"SELECT * FROM exp_{table}").df()
        assert not compare_frames(got, want), table
