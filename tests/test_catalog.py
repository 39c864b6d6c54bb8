"""The catalog's per-process schema cache (``catalog.raw_table``): a
fixture table's parquet schema is inferred once, then every read passes
it to ``spark.read.schema(...)`` and launches no Spark job."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_spark_eks_spark import catalog
from etl_spark_eks_spark.catalog import (
    NANOS_AS_LONG,
    TABLES,
    load_table,
    register_views,
    table_path,
)


@pytest.fixture
def session(spark, monkeypatch):
    """A session with its own SQL conf, so nanosAsLong is unset as in a
    fresh process, and an empty schema cache."""
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    return spark.newSession()


def _with_jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_loads_after_register_views_launch_no_job(session, sf_dir):
    """Every table ``register_views`` read is a cache hit afterwards.
    Regression test for setting nanosAsLong in the middle of the loop:
    the tables read before ``events`` were then cached under the old
    value and missed once each on their next load."""
    assert session.conf.get(NANOS_AS_LONG) == "false"
    register_views(session, sf_dir)

    def schemas():
        return {t: load_table(session, sf_dir, t).schema for t in TABLES}

    cached, jobs = _with_jobs(session, schemas)
    assert jobs == 0
    catalog._SCHEMAS.clear()
    fresh, jobs = _with_jobs(session, schemas)
    assert jobs >= len(TABLES)  # the uncached reads infer: one job each
    assert cached == fresh


def test_table_rewritten_in_place_is_reinferred(session, sf_dir, tmp_path):
    dst = tmp_path / "region.parquet"
    shutil.copyfile(table_path(sf_dir, "region"), dst)
    before = load_table(session, str(tmp_path), "region").columns
    t = pq.read_table(dst)
    extra = pa.array(range(t.num_rows), pa.int64())
    pq.write_table(t.append_column("r_extra", extra), dst)
    after = load_table(session, str(tmp_path), "region")
    assert after.columns == before + ["r_extra"]
    assert sorted(r.r_extra for r in after.collect()) == list(range(t.num_rows))


def test_inference_confs_are_part_of_the_key(session, sf_dir):
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    seen = {}
    for value in ("true", "false", "true"):
        session.conf.set(ntz, value)
        got = load_table(session, sf_dir, "events").schema["ts"].dataType
        uncached = session.read.parquet(table_path(sf_dir, "events"))
        assert got == uncached.schema["ts"].dataType, value
        seen[value] = got
    assert seen["true"] != seen["false"]  # the flip changes the type
