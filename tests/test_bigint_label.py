"""Vector queries over an embeddings table whose `label` column is BIGINT.

The Arrow kernels in operators/vector.py read every pass-through column's
type from the input schema. A kernel that declared `label` as int failed at
run time when the stored column was bigint (the declared Arrow schema no
longer matched the batch). Every oracle-backed query that reads
`embeddings` runs here against a copy of sf0.001 whose `label` is widened
to int64, and must agree with its DuckDB oracle.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as contract

from .oracle import run_compare
from .test_nullheavy_fixes import _SRC, _fixture_dir

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()
EMB_QUERIES = sorted(n for n, sql in ORACLES.items() if "embeddings" in sql)


@pytest.fixture(scope="module")
def bigint_label_dir(tmp_path_factory):
    t = pq.read_table(os.path.join(_SRC, "embeddings.parquet"))
    i = t.schema.get_field_index("label")
    t = t.set_column(i, "label", t.column("label").cast(pa.int64()))
    return _fixture_dir(tmp_path_factory.mktemp("bigintlabel"), "d", "embeddings", t)


def test_fixture_label_is_bigint(spark, bigint_label_dir):
    from ndl_core_data_pipeline_spark.io import load

    assert dict(load(spark, bigint_label_dir, "embeddings").dtypes)["label"] == "bigint"


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_bigint_label_parity(spark, bigint_label_dir, name):
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], bigint_label_dir)
    assert problems == [], problems
