"""Vector queries over an embeddings table whose `label` column is BIGINT.

The Arrow kernels in operators/vector.py read every pass-through column's
type from the input schema. A kernel that declared `label` as int failed at
run time when the stored column was bigint (the declared Arrow schema no
longer matched the batch). Every oracle-backed query that reads
`embeddings` runs here against a copy of sf0.001 whose `label` is widened
to int64, and must agree with its DuckDB oracle.

A PQ code is a label, so the PQ queries also run on a second copy whose
labels are shifted past 2^31: a code declared int cannot hold them.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as contract

from .oracle import run_compare
from .test_nullheavy_fixes import _SRC, _fixture_dir

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()
EMB_QUERIES = sorted(n for n, sql in ORACLES.items() if "embeddings" in sql)
PQ_QUERIES = ["vector_ivfpq_adc_search", "vector_pq_adc_topk", "vector_pq_codes"]
LABEL_OFFSET = 2**31


@pytest.fixture(scope="module")
def bigint_label_dir(tmp_path_factory):
    t = pq.read_table(os.path.join(_SRC, "embeddings.parquet"))
    i = t.schema.get_field_index("label")
    t = t.set_column(i, "label", t.column("label").cast(pa.int64()))
    return _fixture_dir(tmp_path_factory.mktemp("bigintlabel"), "d", "embeddings", t)


@pytest.fixture(scope="module")
def wide_label_dir(tmp_path_factory):
    t = pq.read_table(os.path.join(_SRC, "embeddings.parquet"))
    i = t.schema.get_field_index("label")
    label = pc.add(t.column("label").cast(pa.int64()), LABEL_OFFSET)
    t = t.set_column(i, "label", label)
    return _fixture_dir(tmp_path_factory.mktemp("widelabel"), "d", "embeddings", t)


def test_fixture_label_is_bigint(spark, bigint_label_dir):
    from ndl_core_data_pipeline_spark.io import load

    assert dict(load(spark, bigint_label_dir, "embeddings").dtypes)["label"] == "bigint"


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_bigint_label_parity(spark, bigint_label_dir, name):
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], bigint_label_dir)
    assert problems == [], problems


def test_wide_fixture_labels_exceed_int32(wide_label_dir):
    t = pq.read_table(os.path.join(wide_label_dir, "embeddings.parquet"))
    assert pc.min(t.column("label")).as_py() >= LABEL_OFFSET


@pytest.mark.parametrize("name", PQ_QUERIES)
def test_pq_code_keeps_wide_label_type(spark, wide_label_dir, name):
    problems = run_compare(spark, name, QUERIES[name], ORACLES[name], wide_label_dir)
    assert problems == [], problems
