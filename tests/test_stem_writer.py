"""Contract tests for the bucket stem writer (write_bucketed_snapshot in
sources/cdf_stream.py): one mapInArrow job whose tasks hash, split and
write their own ``kbucket=N`` files.

* placement agrees row for row between the writer, ``bucket_id_udf``
  (the touched-bucket collects) and the CDF reader's task filter over
  a pyarrow read of the written files, for every key type;
* a NULL bucket key refuses loudly and commits nothing;
* the stem holds exactly one data file per (task, bucket) — debris of
  other attempts is swept, and no Hadoop commit files are written;
* values of every common column type read back unchanged through
  Spark (``read_table_state``) and through the CDF stream.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import pytest
from pyspark.sql import functions as F

from kinesis_datastore_app_spark.txnlog import read_latest

N_BUCKETS = 8


def _typed_rows(n=200):
    """(id, l, s, d, t, dec, x) rows. Three in four timestamps are at
    midnight and the rest fractional, so a task's batch mixes both
    while many of its bucket files hold only midnight values — pandas'
    string form of a timestamp column drops the time part of an
    all-midnight column and pads a mixed one, so a string-keyed hash
    would place a row by its batch-mates."""
    day = dt.datetime(2021, 3, 1)
    return [
        (
            i,
            i * 7919 - 500,
            f"key-{i % 37}-{i}",
            dt.date(2020, 1, 1) + dt.timedelta(days=3 * i),
            day + dt.timedelta(days=i)
            if i % 4
            else day + dt.timedelta(hours=5 * i, microseconds=1001 * i),
            decimal.Decimal(i * 37 - 900) / 100,
            i * 0.37 - 11.5,
        )
        for i in range(n)
    ]


_TYPED_DDL = (
    "id bigint, l bigint, s string, d date, t timestamp, "
    "dec decimal(10,2), x double"
)


@pytest.mark.parametrize(
    "keys",
    [["l"], ["s"], ["d"], ["t"], ["dec"], ["x"], ["l", "s"]],
    ids=lambda k: "+".join(k),
)
def test_bucket_placement_agrees_for_every_key_type(spark, tmp_path, keys):
    """The writer's placement, bucket_id_udf's and the CDF reader's
    task filter (``_bucket_series`` over the pyarrow read of the file,
    ``_read_frame``) agree row for row."""
    from kinesis_datastore_app_spark.sources.cdf_stream import (
        _bucket_series,
        _read_frame,
        bucket_id_udf,
        write_bucketed_snapshot,
    )

    df = spark.createDataFrame(_typed_rows(), _TYPED_DDL)
    dest = str(tmp_path / "stem")
    wrote = write_bucketed_snapshot(df, dest, keys, N_BUCKETS)
    assert len(wrote) > 1

    kb = bucket_id_udf(keys, N_BUCKETS)
    udf_bucket = dict(
        df.select("id", kb(*[F.col(k) for k in keys])).collect()
    )
    placed: dict[int, int] = {}
    for b in wrote:
        d = os.path.join(dest, f"kbucket={b}")
        for f in os.listdir(d):
            frame = _read_frame([os.path.join(d, f)])
            reader = _bucket_series(frame, keys, N_BUCKETS).tolist()
            assert reader == [b] * len(frame), (keys, f)
            placed.update((int(i), b) for i in frame["id"])
    assert placed == udf_bucket


def _null_key_df(spark):
    return spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "k bigint, v bigint"
    )


def test_null_bucket_key_refused_by_commit_and_append(spark, tmp_path):
    """A NULL bucket key fails loudly with the layout's message, through
    the bootstrap writer and through blind append, and neither commits
    a version."""
    from kinesis_datastore_app_spark.operators.cdc import (
        append_rows,
        commit_bucketed_table,
    )

    root = str(tmp_path / "t")
    with pytest.raises(Exception, match="non-null bucket keys"):
        commit_bucketed_table(spark, root, _null_key_df(spark), ["k"], 4)
    assert read_latest(root) == (0, None)
    # the failed write removed its stem: nothing for vacuum to classify
    assert not os.path.exists(root) or os.listdir(root) == []

    ok = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    v0, _ = commit_bucketed_table(spark, root, ok, ["k"], 4)
    before = sorted(os.listdir(root))
    with pytest.raises(Exception, match="non-null bucket keys"):
        append_rows(spark, root, _null_key_df(spark))
    assert read_latest(root)[0] == v0
    assert sorted(os.listdir(root)) == before


def test_stem_sweeps_debris_and_holds_one_file_per_task_bucket(
    spark, tmp_path, monkeypatch
):
    """A stray data file and a stray temp file planted in the stem
    before the driver's sweep are gone after the commit; the committed
    version reads exactly the batch's rows; the stem holds one data
    file per (task, bucket) and no Hadoop commit files."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from kinesis_datastore_app_spark.operators.cdc import (
        commit_bucketed_table,
        read_table_state,
    )
    from kinesis_datastore_app_spark.sources import cdf_stream

    real = cdf_stream.write_bucketed_snapshot
    stems = []

    def planting(df, dest, keys, n_buckets):
        for b in (0, 1, 9):
            os.makedirs(os.path.join(dest, f"kbucket={b}"))
        for rel in ("kbucket=0/part-00000-stray.snappy.parquet",
                    "kbucket=9/part-00003-stray.snappy.parquet"):
            papq.write_table(
                pa.table({"k": [10_000], "v": [-1]}), os.path.join(dest, rel)
            )
        with open(os.path.join(dest, "kbucket=1/.part-00000-x.tmp"), "wb") as f:
            f.write(b"partial")
        stems.append(dest)
        return real(df, dest, keys, n_buckets)

    monkeypatch.setattr(cdf_stream, "write_bucketed_snapshot", planting)
    rows = [(k, k * 10) for k in range(1, 301)]
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(3)
    root = str(tmp_path / "t")
    v, _ = commit_bucketed_table(spark, root, df, ["k"], N_BUCKETS)

    got = sorted(tuple(r) for r in read_table_state(spark, root, v).collect())
    assert got == rows

    kb = cdf_stream.bucket_id_udf(["k"], N_BUCKETS)
    pairs = {
        (r[0], r[1])
        for r in df.select(F.spark_partition_id(), kb(F.col("k"))).collect()
    }
    (stem,) = stems
    files = [
        os.path.relpath(os.path.join(dp, f), stem)
        for dp, dns, fs in os.walk(stem)
        for f in fs
    ]
    assert not any(
        f.endswith((".crc", ".tmp")) or "_SUCCESS" in f or "stray" in f
        for f in files
    ), files
    assert not any("_temporary" in dns for _, dns, _ in os.walk(stem))
    assert len(files) == len(pairs)
    per_bucket: dict[str, set] = {}
    for f in files:
        bdir, name = f.split(os.sep)
        assert name.startswith("part-") and name.endswith(".snappy.parquet")
        per_bucket.setdefault(bdir, set()).add(name.split("-")[1])
    assert per_bucket == {
        f"kbucket={b}": {f"{p:05d}" for p, bb in pairs if bb == b}
        for b in {bb for _, bb in pairs}
    }


def _canon(v):
    """Row value in a form where NaN equals NaN and a tz-aware
    timestamp (an Arrow read) equals the naive local datetime Spark's
    collect returns for the same instant."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone().replace(tzinfo=None)
    return v


def test_stem_values_round_trip_through_spark_and_cdf_stream(spark, tmp_path):
    """Timestamp, date, decimal, string, int and NaN/NULL double columns
    read back unchanged through Spark under the manifest schema
    (read_table_state) and through the CDF stream — its blind-append
    path (Arrow cast of the new files) and its keyed-diff path (the
    pandas read of both sides)."""
    from pyspark.sql import types as T

    from kinesis_datastore_app_spark.operators.cdc import (
        append_rows,
        commit_bucketed_table,
        read_table_state,
    )
    from tests.test_txnlog import _cdf_step_rows

    ddl = "k bigint, i int, s string, d date, t timestamp, dec decimal(10,2), x double"
    vals = ["i", "s", "d", "t", "dec", "x"]
    types = {
        "i": T.IntegerType(), "s": T.StringType(), "d": T.DateType(),
        "t": T.TimestampType(), "dec": T.DecimalType(10, 2),
        "x": T.DoubleType(),
    }

    def rows(ks, bump=0):
        return [
            (
                k,
                k * 3 + bump,
                None if k % 11 == 0 else f"s{k}",
                dt.date(2019, 12, 31) + dt.timedelta(days=k),
                dt.datetime(2022, 5, 1, 12) + dt.timedelta(minutes=k, microseconds=k),
                decimal.Decimal(k * 101 + bump) / 100,
                float("nan") if k % 7 == 0 else None if k % 5 == 0 else k / 8,
            )
            for k in ks
        ]

    root = str(tmp_path / "t")
    base, more = rows(range(1, 41)), rows(range(41, 61))
    v0, _ = commit_bucketed_table(
        spark, root, spark.createDataFrame(base, ddl), ["k"], 4
    )
    v1, _ = append_rows(spark, root, spark.createDataFrame(more, ddl))
    changed = rows(range(1, 61), bump=1)
    v2, _ = commit_bucketed_table(
        spark, root, spark.createDataFrame(changed, ddl), ["k"], 4
    )

    def canon(rs):
        return sorted(tuple(map(_canon, r)) for r in rs)

    def spark_rows(v):
        st = read_table_state(spark, root, v)
        assert st.schema.simpleString() == (
            "struct<k:bigint,i:int,s:string,d:date,t:timestamp,"
            "dec:decimal(10,2),x:double>"
        )
        return canon(st.collect())

    assert spark_rows(v1) == canon(base + more)
    assert spark_rows(v2) == canon(changed)

    appended = _cdf_step_rows(root, v0, v1, ["k"], vals, types=types)
    assert {r[-2] for r in appended} == {"insert"}
    assert canon(r[:1] + r[7:13] for r in appended) == canon(more)
    assert all(r[1:7] == (None,) * 6 for r in appended)

    diffed = _cdf_step_rows(root, v1, v2, ["k"], vals, types=types)
    assert {r[-2] for r in diffed} == {"update"}
    assert canon(r[:1] + r[1:7] for r in diffed) == canon(base + more)
    assert canon(r[:1] + r[7:13] for r in diffed) == canon(changed)
