"""Inferred-schema memo in catalog.load_table: a table's schema is
inferred from its parquet footer once per file version, and every later
load hands it to the reader instead of running Spark's inference job."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineering_hs_spark.catalog import load_table
from data_engineering_hs_spark.queries import REGISTRY, load_all
from tests.conftest import SF001

load_all()


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "part.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    os.utime(path, ns=(1, 1))
    first = load_table(spark, str(tmp_path), "part")
    assert first.columns == ["a"]
    assert load_table(spark, str(tmp_path), "part").schema == first.schema

    pq.write_table(
        pa.table({"a": pa.array(["x"]), "b": pa.array([1.5])}), path
    )
    os.utime(path, ns=(2, 2))
    second = load_table(spark, str(tmp_path), "part")
    assert [(f.name, f.dataType.typeName()) for f in second.schema] == [
        ("a", "string"),
        ("b", "double"),
    ]
    assert second.collect()[0].asDict() == {"a": "x", "b": 1.5}


def test_memoized_self_join_keeps_distinct_relations(spark):
    # each load is a fresh relation even on a memo hit, so a self-join
    # on the same table resolves without ambiguous-column errors
    a = load_table(spark, SF001, "nation")
    b = load_table(spark, SF001, "nation")
    joined = a.join(b, a.n_regionkey == b.n_regionkey).select(a.n_name)
    assert joined.count() == 125


def _jobs_during(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"build_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name", sorted(n for n, q in REGISTRY.items() if q.bench)
)
def test_warm_build_launches_no_spark_job(spark, name):
    # building a DataFrame resolves tables but must not scan them: with
    # the schema memo warm, a repeat build launches zero Spark jobs
    fn = REGISTRY[name].fn
    fn(spark, SF001)
    assert _jobs_during(spark, lambda: fn(spark, SF001)) == 0
