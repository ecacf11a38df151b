"""Schema memo of catalog.table(): the first scan of a (path, content
fingerprint) infers the parquet schema, which is a Spark job over the
footers; every later scan reuses the resolved StructType and launches no
job. These gates count jobs through a job group, so a change that brings
back per-call inference fails here rather than only in the benchmark."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kinesis_datastore_app_spark import catalog, registry

from .conftest import SF_ORACLE, SF_SMOKE

QUERY_MIX_KEYS = (
    "agg_funnel",
    "join_inner_equi",
    "trades_envelope_scan",
    "tpch_q3_shape",
    "tpch_q5_shape",
)


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _digest(df):
    """Row count and an order-insensitive sum of per-row hashes."""
    r = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).first()
    return r["n"], r["h"]


@pytest.mark.parametrize("name", catalog.TABLES)
def test_warm_table_launches_no_job(spark, monkeypatch, name):
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE", {})
    cold, n_cold = _jobs(
        spark, f"memo-cold-{name}", lambda: catalog.table(spark, SF_ORACLE, name)
    )
    warm, n_warm = _jobs(
        spark, f"memo-warm-{name}", lambda: catalog.table(spark, SF_ORACLE, name)
    )
    assert n_cold >= 1, "cold call did not infer the schema"
    assert n_warm == 0, f"warm table({name!r}) launched {n_warm} job(s)"
    assert warm.schema == cold.schema


def test_warm_query_mix_build_launches_no_job(spark):
    registry.load_all()
    qs = registry.queries()
    for key in QUERY_MIX_KEYS:
        qs[key](spark, SF_ORACLE)  # cold: schemas and scratch artifacts
        _, n = _jobs(spark, f"memo-build-{key}", lambda: qs[key](spark, SF_ORACLE))
        assert n == 0, f"warm build of {key} launched {n} job(s) before its action"


def test_new_ts_vintage_reinfers(spark, tmp_path):
    """Rewriting events.parquet with the other ts vintage (TIMESTAMP_NTZ
    micros <-> TIMESTAMP(NANOS)) mints a new fingerprint: table() must
    infer the new physical type instead of serving the memoized one,
    and still load the same rows with ts as a session timestamp."""
    sfd = tmp_path / "sfv"
    sfd.mkdir()
    path = str(sfd / "events.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", path)

    df0 = catalog.table(spark, str(sfd), "events")
    want = _digest(df0)
    _, n_warm = _jobs(
        spark, "memo-vintage-warm", lambda: catalog.table(spark, str(sfd), "events")
    )
    assert n_warm == 0
    tag0 = catalog.scratch_tag(str(sfd), "events")

    t = pq.read_table(path)
    unit = "us" if t.schema.field("ts").type.unit == "ns" else "ns"
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column(i).cast(pa.timestamp(unit), safe=False))
    pq.write_table(t, f"{path}.new")
    os.replace(f"{path}.new", path)
    tag1 = catalog.scratch_tag(str(sfd), "events")
    assert tag1 != tag0

    df1, n_cold = _jobs(
        spark, "memo-vintage-cold", lambda: catalog.table(spark, str(sfd), "events")
    )
    assert n_cold >= 1, "new fingerprint served from the schema memo"
    assert dict(df1.dtypes)["ts"] == "timestamp"
    assert _digest(df1) == want
