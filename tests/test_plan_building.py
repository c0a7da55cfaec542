"""Driver-side plan building of the curation queries: table reads start
no Spark job, expressions are SQL text (no Python lambdas in Column-API
higher-order functions), and doubles written into that text keep
their bits."""

import ast
import os
import struct
import uuid

import pytest

from methanol_web_crawler_spark import entryqueries
from methanol_web_crawler_spark.operators.similarity import (
    double_array,
    hyperplanes,
)

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
PKG = os.path.join(os.path.dirname(__file__), "..",
                   "methanol_web_crawler_spark")
SQL_TEXT_MODULES = ("operators/dedup.py", "operators/similarity.py",
                    "functions/textstats.py", "entryqueries.py")
HIGHER_ORDER = {"transform", "filter", "aggregate", "zip_with", "exists",
                "forall"}


@pytest.mark.parametrize("name", TABLES)
def test_table_read_starts_no_job_and_keeps_inferred_schema(spark, name):
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = entryqueries._t(spark, SF_DIR, name)
        schema = df.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert schema == spark.read.parquet(f"{SF_DIR}/{name}.parquet").schema


def _lambda_higher_order_calls(path):
    tree = ast.parse(open(path).read(), path)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in HIGHER_ORDER
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in ("F", "functions")
                and any(isinstance(a, ast.Lambda) for a in
                        [*node.args, *(k.value for k in node.keywords)])):
            yield node.lineno


@pytest.mark.parametrize("module", SQL_TEXT_MODULES)
def test_no_python_lambda_in_higher_order_functions(module):
    """A Python lambda passed to F.transform & co. builds its body as
    Column nodes, a dozen py4j round trips each; the same body as SQL
    text is one ``F.expr``."""
    lines = list(_lambda_higher_order_calls(os.path.join(PKG, module)))
    assert lines == [], f"{module}: lambda at lines {lines}"


def test_double_array_literal_keeps_bits(spark):
    values = [x for plane in hyperplanes(64, 6) for x in plane] + [
        1e-05, -2.5e-07, 1e+22, 123456789.01234567, 5e-324,
        2.2250738585072014e-308, 1.7976931348623157e+308, 0.1, -0.0,
    ]
    got = spark.range(1).selectExpr(
        f"{double_array(values)} AS xs").first()["xs"]
    assert [struct.pack("<d", x) for x in got] == [
        struct.pack("<d", x) for x in values]
