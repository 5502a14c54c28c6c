"""Driver-built frames are local relations (session.local_frame).

A frame built from driver rows must plan as a ``LocalRelation``: its
collect starts no Spark job and its broadcast reads no Python RDD. The
side tables of every linkage call are such frames.
"""

from __future__ import annotations

import ast
import glob
import os
import uuid

from pyspark.sql import types as T

from uk_address_matcher_spark.corpus import domain_token_frequencies, grid_documents
from uk_address_matcher_spark.extract import extract_addresses
from uk_address_matcher_spark.linkage import build_side_tables
from uk_address_matcher_spark.session import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "uk_address_matcher_spark")


def _optimized_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _jobs_to_collect(spark, df) -> int:
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "collect a driver-built frame")
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_side_tables_are_driver_local(spark):
    canon_docs, _, _ = grid_documents(spark, 200, dup_factor=1)
    canon = extract_addresses(canon_docs)
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    # the on-the-fly TF branch builds its table from the fused collect
    own_tf = build_side_tables(spark, canon).rel_tok_freq
    for df in (side.rel_tok_freq, side.numeric_tf, own_tf):
        assert _optimized_node(df) == "LocalRelation"
    assert side.rel_tok_freq.count() > 0 and side.numeric_tf.count() > 0
    assert _jobs_to_collect(spark, side.rel_tok_freq) == 0
    assert _jobs_to_collect(spark, side.numeric_tf) == 0


def test_local_frame_empty_rows_keep_schema(spark):
    df = local_frame(spark, [], "token string, rel_freq double, n bigint")
    assert df.schema == T.StructType(
        [
            T.StructField("token", T.StringType()),
            T.StructField("rel_freq", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    assert df.collect() == []


def test_local_frame_keeps_nulls_in_every_column(spark):
    rows = [("a", None, 1), (None, 0.5, None), (None, None, None)]
    df = local_frame(spark, rows, "s string, d double, i int")
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_accepts_collected_rows(spark):
    src = spark.range(3).selectExpr("cast(id as string) as lab", "id * 2 as v")
    df = local_frame(spark, src.collect(), "lab string, v bigint")
    assert _optimized_node(df) == "LocalRelation"
    assert sorted(tuple(r) for r in df.collect()) == [("0", 0), ("1", 2), ("2", 4)]


def test_local_frame_keeps_declared_types(spark):
    df = local_frame(spark, [("x", 1, 7)], "t string, f double, b int")
    assert [f.dataType for f in df.schema.fields] == [
        T.StringType(), T.DoubleType(), T.IntegerType()
    ]
    row = df.first()
    assert row["f"] == 1.0 and isinstance(row["f"], float)


def _create_dataframe_callers(path: str) -> list[str]:
    """Names of the functions in ``path`` that call ``*.createDataFrame``."""
    callers = []

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            name = owner
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                callers.append(owner)
            visit(child, name)

    with open(path) as f:
        visit(ast.parse(f.read()), "<module>")
    return callers


def test_create_dataframe_only_inside_local_frame():
    """One implementation of 'frame from driver rows', in the package and
    in ``__spark_entry__.py``: no JVM needed."""
    found = {}
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        callers = _create_dataframe_callers(path)
        if callers:
            found[os.path.relpath(path, PACKAGE)] = callers
    assert found == {"session.py": ["local_frame"]}
    assert _create_dataframe_callers(os.path.join(ROOT, "__spark_entry__.py")) == []
