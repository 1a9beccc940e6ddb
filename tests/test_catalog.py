"""Plan construction from unchanged inputs runs no Spark job.

- the parquet schema memo behind ``catalog.load_table`` and
  ``index_store.read_index``: keyed on the input stamp and the
  inference confs, so a rewritten input or a flipped conf infers afresh;
- ``catalog.local_frame``: literal rows as a ``LocalRelation``, typed
  from the DDL, at every literal-rows site of the registry.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_engineer_project_weather_analytics_spark.operators import index_store
from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY
from data_engineer_project_weather_analytics_spark.sources import catalog

from .conftest import SF_DIR

#: the Looker-dashboard read mix (PAPER.md §1)
DASHBOARD = (
    "a1_scorecard", "a2_daily_timeseries", "a3_latest_per_key",
    "a5_latest_join_dim", "t4_hourly_window", "p10_range_filter",
    "w2_moving_avg", "a6_rollup", "j1_dim_join_agg", "w_dashboard_pipeline",
)

#: query → the columns of the literal-rows frame it builds with
#: ``local_frame`` (one query per call site)
LOCAL_FRAME_SITES = {
    "w_ingest_current": ("payload",),  # weather._raw
    "x11_pii_redaction": ("doc_id", "text"),
    "x12_blocked_edit_dedup": ("id", "title"),
    "x46_mixture_sample": ("lang", "rate_bp"),
    "x59_ingest_curation": ("lang", "rate_bp"),  # corpus._ingest_curation
    "x56_curation_materialize": ("lang", "rate_bp"),  # corpus._curation_materialize
    "j7_salted_skew_join": ("flag", "flag_label"),
    "x55_ivfpq_recall": ("nprobe",),  # similarity.ivfpq_recall_dial
    "x57_reduced_recall": ("method",),  # similarity.reduced_recall_dial
    "x58_sq8_recall": ("method",),  # similarity.sq8_recall_dial
}


def _jobs_in(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    group = f"catalog-test-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def test_rewritten_file_gets_fresh_schema_and_rows(spark, tmp_path):
    _write(tmp_path / "t.parquet", a=pa.array([1, 2], pa.int64()))
    first = catalog.load_table(spark, str(tmp_path), "t")
    assert first.columns == ["a"]
    assert sorted(r.a for r in first.collect()) == [1, 2]
    # warm read: the memo serves the schema, no footer job
    again = _jobs_in(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    assert again == 0

    _write(
        tmp_path / "t.parquet",
        a=pa.array([7], pa.int64()),
        b=pa.array(["x"], pa.string()),
    )
    second = catalog.load_table(spark, str(tmp_path), "t")
    assert second.columns == ["a", "b"]
    assert [tuple(r) for r in second.collect()] == [(7, "x")]


def test_inference_conf_is_part_of_the_memo_key(spark, tmp_path):
    """A TIMESTAMP(NANOS) column infers as a long under nanosAsLong and
    cannot be inferred without it.  Flipping the conf must re-run
    inference, not serve the cached long schema."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType

    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_704_067_798_778_549_829], pa.timestamp("ns"))}),
        path,
        version="2.6",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"
    assert isinstance(catalog.read_parquet(spark, path).schema["ts"].dataType, LongType)
    assert _jobs_in(spark, lambda: catalog.read_parquet(spark, path)) == 0
    spark.conf.set(key, "false")
    try:
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            catalog.read_parquet(spark, path)
    finally:
        spark.conf.set(key, "true")
    assert [tuple(r) for r in catalog.read_parquet(spark, path).collect()] == [
        (1_704_067_798_778_549_829,)
    ]


def test_rewritten_part_file_invalidates_stored_index_and_memo(spark, tmp_path):
    src = tmp_path / "table"
    src.mkdir()
    _write(src / "part-0.parquet", a=pa.array([1], pa.int64()))
    _write(src / "part-1.parquet", a=pa.array([2], pa.int64()))
    (src / "_SUCCESS").write_text("")
    builds = []

    def build(d):
        builds.append(d)
        os.makedirs(d)

    def stored():
        return index_store.stored_index(
            str(tmp_path / "idx"), "fam", [str(src)], {}, build
        )

    idx = stored()
    assert stored() == idx and len(builds) == 1
    catalog.read_parquet(spark, str(src))
    assert _jobs_in(spark, lambda: catalog.read_parquet(spark, str(src))) == 0
    # hidden files are not data: touching them changes nothing
    (src / "_SUCCESS").write_text("rewritten")
    assert stored() == idx
    assert _jobs_in(spark, lambda: catalog.read_parquet(spark, str(src))) == 0

    _write(src / "part-1.parquet", a=pa.array([2, 3, 4], pa.int64()))
    assert stored() != idx and len(builds) == 2
    assert _jobs_in(spark, lambda: catalog.read_parquet(spark, str(src))) == 1
    assert sorted(r.a for r in catalog.read_parquet(spark, str(src)).collect()) == [
        1, 2, 3, 4,
    ]


def test_single_file_stored_index_key_is_unchanged(tmp_path):
    """A single-file input stamps as ``[(path, size, mtime_ns)]``, exactly
    the key stored indexes were built under, so no existing index
    directory is orphaned."""
    src = tmp_path / "embeddings.parquet"
    src.write_text("rows")
    st = os.stat(src)
    key = json.dumps(
        {
            "version": index_store.INDEX_FORMAT_VERSION,
            "inputs": [(str(src), st.st_size, st.st_mtime_ns)],
            "params": {"k": 3},
        },
        sort_keys=True,
    )
    want = f"sem_{hashlib.sha256(key.encode()).hexdigest()[:16]}"
    got = index_store.stored_index(
        str(tmp_path / "idx"), "sem", [str(src)], {"k": 3}, os.makedirs
    )
    assert os.path.basename(got) == want


def _leaves(df) -> list[tuple[str, tuple[str, ...]]]:
    """``(node, sorted column names)`` of every literal-rows or RDD leaf
    in the analyzed plan."""
    plan = df._jdf.queryExecution().analyzed().toString()
    leaves = re.findall(r"(LocalRelation|LogicalRDD)(?: <empty>,)? \[([^\]]*)\]", plan)
    return [
        (node, tuple(sorted(re.sub(r"#\d+L?$", "", c.strip()) for c in cols.split(","))))
        for node, cols in leaves
    ]


@pytest.mark.parametrize("name", DASHBOARD)
def test_dashboard_construction_runs_no_job(spark, name):
    """Building a dashboard plan a second time, on unchanged inputs,
    starts no Spark job (no footer-reading inference), and the plan has
    no Python-RDD leaf whose scan would start Python workers."""
    fn = REGISTRY[name].fn
    fn(spark, SF_DIR)
    frames = []
    assert _jobs_in(spark, lambda: frames.append(fn(spark, SF_DIR))) == 0
    assert "LogicalRDD" not in [node for node, _ in _leaves(frames[0])]


@pytest.mark.parametrize("name", sorted(LOCAL_FRAME_SITES))
def test_literal_rows_are_local_relations(spark, name):
    cols = tuple(sorted(LOCAL_FRAME_SITES[name]))
    leaves = _leaves(REGISTRY[name].fn(spark, SF_DIR))
    assert ("LocalRelation", cols) in leaves
    assert ("LogicalRDD", cols) not in leaves


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_keeps_nulls_and_ddl_types(spark, arrow):
    from pyspark.sql.types import IntegerType, LongType, StringType

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        rows = [(1, None, "a"), (None, 7, None)]
        df = catalog.local_frame(spark, rows, "x long, y int, s string")
        assert [(f.name, f.dataType, f.nullable) for f in df.schema] == [
            ("x", LongType(), True),
            ("y", IntegerType(), True),
            ("s", StringType(), True),
        ]
        assert df.schema == spark.createDataFrame(rows, "x long, y int, s string").schema
        assert [tuple(r) for r in df.collect()] == rows
        assert _leaves(df) == [("LocalRelation", ("s", "x", "y"))]
        empty = catalog.local_frame(spark, [], "x long")
        assert empty.collect() == [] and empty.schema == df.select("x").schema
    finally:
        spark.conf.set(key, old)
