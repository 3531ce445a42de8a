"""A top-k search result is a local result: a PySpark DataFrame over the
rows already on the driver. These tests pin it, shape by shape and with
Arrow conversion on and off, to ``spark.createDataFrame(pdf, ddl)`` of the
same rows — what search returned before: the rows ``collect`` gives (with
each value's Python type), the schema and the other row reads, the
``toPandas`` frame with its dtypes, and the Spark operations that go
through the lazily built relation. A PySpark upgrade that changes the
classic DataFrame internals the result subclasses fails here.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from visigoth_spark.build import build_index
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import SearchIndex

ARROW = "spark.sql.execution.arrow.pyspark.enabled"
DDL = {"qid": "int", "url": "string", "docid": "long", "score": "double",
       "hits": "int", "raw": "string", "matches": "string"}

SHAPES = {
    "driver": lambda idx: idx.search("programación java", "bm25", 10,
                                     route="driver"),
    "spark": lambda idx: idx.search("programación java", "bm25", 10,
                                    route="spark"),
    "hits": lambda idx: idx.search("java web", "hits", 5),
    "empty": lambda idx: idx.search("término inexistente xyzzy", "bm25", 10),
    "raw_highlight": lambda idx: idx.search(
        "programación", "bm25", 4, include_raw=True, highlight=True),
    "search_many": lambda idx: idx.search_many(
        ["programación java", "xyzzy", "java"], "bm25", 3),
    "search_many_empty": lambda idx: idx.search_many(["xyzzy"], "bm25", 3),
}


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    pdf = generate_corpus(120).sort_values("url").reset_index(drop=True)
    out = str(tmp_path_factory.mktemp("local_result") / "idx")
    build_index(spark, spark.createDataFrame(pdf[["url", "text", "lang"]]),
                out, num_partitions=2, store_raw=True)
    return SearchIndex(spark, out)


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow(spark, request):
    prev = spark.conf.get(ARROW)
    spark.conf.set(ARROW, request.param)
    yield request.param
    spark.conf.set(ARROW, prev)


def _typed(rows):
    return [(r.__fields__, tuple(r), [type(v) for v in r]) for r in rows]


@pytest.mark.parametrize("shape", list(SHAPES))
def test_local_reads_equal_spark_built_frame(spark, idx, arrow, shape):
    res = SHAPES[shape](idx)
    pdf = res.toPandas()
    ref = spark.createDataFrame(
        pdf, ", ".join(f"{c} {DDL[c]}" for c in pdf.columns))
    assert isinstance(res, DataFrame)
    assert (len(pdf) == 0) == shape.endswith("empty")
    assert _typed(res.collect()) == _typed(ref.collect())
    assert res.schema == ref.schema
    assert res.columns == ref.columns
    assert res.dtypes == ref.dtypes
    assert res.count() == ref.count()
    assert res.isEmpty() == ref.isEmpty()
    assert _typed(res.take(3)) == _typed(ref.take(3))
    assert _typed(res.head(2)) == _typed(ref.head(2))
    assert res.first() == ref.first()
    assert res.head() == ref.head()
    pd.testing.assert_frame_equal(res.toPandas(), ref.toPandas())
    # none of the reads above built the Spark relation
    assert "_jdf" not in vars(res)
    # toPandas hands out a copy: the result's rows stay as they were
    pdf.loc[:, "url"] = None
    assert _typed(res.collect()) == _typed(ref.collect())


@pytest.mark.parametrize("shape", list(SHAPES))
def test_spark_ops_equal_spark_built_frame(spark, idx, arrow, shape):
    res = SHAPES[shape](idx)
    pdf = res.toPandas()
    ref = spark.createDataFrame(
        pdf, ", ".join(f"{c} {DDL[c]}" for c in pdf.columns))

    def same(op):
        assert _typed(op(res).collect()) == _typed(op(ref).collect())

    same(lambda d: d.select("url", "score"))
    same(lambda d: d.filter(F.col("hits") >= 2))
    same(lambda d: d.orderBy(F.col("url").desc()))
    same(lambda d: d.unionByName(d).orderBy("docid", "url"))
    same(lambda d: d.limit(1))
    same(lambda d: ref.unionByName(d).orderBy("docid", "url"))
    with pytest.raises(AnalysisException):  # a negative limit
        ref.take(-1)
    with pytest.raises(AnalysisException):
        res.take(-1)
    assert res.rdd.map(tuple).collect() == ref.rdd.map(tuple).collect()
    assert repr(res) == repr(ref)
    assert res.url is not None and "_jdf" in vars(res)
