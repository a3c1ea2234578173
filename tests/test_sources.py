"""Table opens: the per-session schema cache of ``sources.tables``.

The first open of a parquet file in a session infers its schema (one Spark
job); later opens pass the stored schema and run none. These tests pin
that the cached path reads exactly the inferred schema, that it really
skips the job, that a rewritten file or another session infers afresh,
and that building the headline queries' DataFrames runs no job beyond
their deliberate eager work once the tables are open."""

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from create_proposals_using_vector_db_public_spark.plans import QUERIES
from create_proposals_using_vector_db_public_spark.sources import (
    TABLES,
    load_table,
    load_tables,
    tables,
)

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata absent"
)


def jobs_of(spark, fn):
    """(fn's result, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_inferred(spark, name):
    """Names, types and nullability of a cached open equal an uncached
    read's; for events, after the load_events transform."""
    tables._SCHEMAS.pop(spark, None)
    first = load_table(spark, SF, name)  # infers and stores
    cached = load_table(spark, SF, name)
    if name == "events":
        expected = first.schema
    else:
        expected = spark.read.parquet(f"{SF}/{name}.parquet").schema
    assert cached.schema == expected
    assert [(f.name, f.dataType, f.nullable) for f in cached.schema] == [
        (f.name, f.dataType, f.nullable) for f in expected
    ]


def test_second_open_runs_no_job(spark):
    tables._SCHEMAS.pop(spark, None)
    _, first = jobs_of(spark, lambda: load_table(spark, SF, "orders"))
    _, second = jobs_of(spark, lambda: load_table(spark, SF, "orders"))
    assert first >= 1  # the counter sees the schema-inference job
    assert second == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    shutil.copy(f"{SF}/region.parquet", tmp_path / "region.parquet")
    before = load_table(spark, str(tmp_path), "region")
    t = pq.read_table(tmp_path / "region.parquet")
    t = t.append_column("r_extra", pa.array(range(t.num_rows), pa.int64()))
    pq.write_table(t, tmp_path / "region.parquet")
    after, jobs = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs >= 1
    assert after.columns == before.columns + ["r_extra"]
    assert after.count() == t.num_rows


def test_new_session_does_not_reuse_parent_entries(spark):
    load_table(spark, SF, "nation")
    other = spark.newSession()
    assert other not in tables._SCHEMAS
    _, jobs = jobs_of(other, lambda: load_table(other, SF, "nation"))
    assert jobs >= 1
    assert tables._SCHEMAS[other] is not tables._SCHEMAS[spark]


# Building these DataFrames runs no Spark job once the tables are open.
# The vector queries take their query vector as a broadcast one-row frame,
# so none of them fetches it while the plan is built.
BUILD_JOBS = {
    "q_join_broadcast": 0,
    "q_bm25": 0,
    "q_dedup_anti": 0,
    "q_array_ops": 0,
    "q_stub_knn": 0,
    "q_rrf_fusion": 0,
    "q_e2e_rag": 0,
    "q_agg_basic": 0,
    "q_topk_per_group": 0,
    "q_json_props": 0,
    "q_tfidf": 0,
    "q_knn_join": 0,
    "q_knn": 0,
    "q_vec_math": 0,
    "q_knn_cosine": 0,
    "q_rank_l2": 0,
    "q_cosine_topk": 0,
    "q_ann_lsh": 0,
    "q_ann_rerank": 0,
    "q_udf_embed_knn": 0,
}


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_build_jobs_after_tables_are_open(spark, name):
    load_tables(spark, SF)
    _, jobs = jobs_of(spark, lambda: QUERIES[name](spark, SF))
    assert jobs == BUILD_JOBS[name]
