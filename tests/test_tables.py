"""The footer-schema memo behind ``queries.tables.table``: a memo hit
must read exactly what fresh inference reads, a rewritten file must be
re-inferred, and a repeated read must launch no inference job."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eel_spark.queries import tables
from eel_spark.timeutils import normalize_ts
from tests.conftest import SF_DIR

TESTDATA = os.path.dirname(SF_DIR)


def _group_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` launches (counted under a fresh job group)."""
    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "footer memo test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_memoized_schema_equals_fresh_inference(spark, sf):
    sf_dir = f"{TESTDATA}/{sf}"
    for name in tables.TABLES:
        tables.table(spark, sf_dir, name)  # fills the memo (or hits it)
        hit = tables._read_parquet(spark, f"{sf_dir}/{name}.parquet")
        fresh = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        assert hit.schema == fresh.schema, name
        assert hit.schema.json() == fresh.schema.json(), name
        got = tables.table(spark, sf_dir, name).df.schema
        want = (normalize_ts(fresh) if name == "events" else fresh).schema
        assert got == want, name


def test_rewritten_file_is_reinferred(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), f"{d}/t.parquet")
    assert tables.table(spark, d, "t").df.columns == ["a", "b"]
    assert tables.table(spark, d, "t").df.columns == ["a", "b"]  # memo hit
    pq.write_table(pa.table({"c": [1.5, 2.5, 3.5]}), f"{d}/t.parquet")
    df = tables.table(spark, d, "t").df
    assert df.columns == ["c"]
    assert sorted(r.c for r in df.collect()) == [1.5, 2.5, 3.5]
    qualified = tables.HdfsOps(spark).file_identity(f"{d}/t.parquet")[0]
    assert tables._FOOTER_SCHEMAS[qualified][1].fieldNames() == ["c"]


def test_repeat_read_launches_one_inference_job(spark, tmp_path):
    d = str(tmp_path)
    shutil.copy(f"{SF_DIR}/nation.parquet", f"{d}/nation.parquet")
    assert _group_jobs(spark, lambda: tables.table(spark, d, "nation")) == 1
    reads = []
    assert _group_jobs(spark, lambda: reads.append(tables.table(spark, d, "nation"))) == 0
    # each read is a fresh relation (distinct attribute ids), so a
    # self-join resolves each side's columns without ambiguity
    a = tables.table(spark, d, "nation").df
    b = reads[0].df
    ids = [str(x._jdf.queryExecution().analyzed().output()) for x in (a, b)]
    assert ids[0] != ids[1]
    joined = a.join(b, a["n_regionkey"] == b["n_nationkey"])
    assert joined.filter(a["n_nationkey"] == b["n_nationkey"]).count() == 5


def test_concurrent_first_reads_agree(spark, tmp_path):
    """The memo is unlocked: racing first reads may each infer, but every
    reader gets the inferred schema and the path keeps one entry."""
    d = str(tmp_path)
    shutil.copy(f"{SF_DIR}/region.parquet", f"{d}/region.parquet")
    want = spark.read.parquet(f"{d}/region.parquet").schema
    got, errors = [], []

    def read():
        try:
            got.append(tables.table(spark, d, "region").df.schema)
        except Exception as e:  # noqa: BLE001 - surfaced by the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=read) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads) and not errors
    assert got == [want] * 8
    qualified = tables.HdfsOps(spark).file_identity(f"{d}/region.parquet")[0]
    assert tables._FOOTER_SCHEMAS[qualified][1] == want
