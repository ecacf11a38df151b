"""Stream source factory: deterministic replay of fixture data as streams.

No Kinesis connector exists in this environment (third-party package), so
streams are simulated with Spark's file source, which reproduces the
Kinesis semantics the reference exercises:

* TRIM_HORIZON / earliest offset (KinesisSync.java:96)  → a file stream
  always starts from the oldest file;
* GetRecords batch cap (KinesisSync.java:110)           → maxFilesPerTrigger;
* per-shard ordering                                    → per-file row order;
* the 2 s job cadence (App.java:18)                     → trigger intervals,
  with trigger(availableNow=True) as the deterministic-replay variant.

The same transformation code runs over spark.read and spark.readStream —
the engine-side analog of the reference running one logical pipeline on
three client stacks (§2 A18).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_datastore_app_spark.catalog import (
    _ensure_engine_confs,
    atomic_publish_dir,
    scratch_dir,
    table,
)
from kinesis_datastore_app_spark.tmpdirs import scratch_tmpdir

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _gc_superseded_names(tag_dir: str, family: str, keep: str) -> None:
    """Collect SUPERSEDED FORMAT VERSIONS of one artifact family inside
    the still-current tag dir (the vintage GC only collects whole stale
    tag dirs): any sibling matching ``family*`` that does not start with
    ``keep`` (the current format-version prefix, e.g.
    ``events_stream_v2_``). Keeping by VERSION PREFIX rather than exact
    name matters twice over (round-9 review): (a) sibling
    parameterizations of the current version (files=1 vs files=2 replay
    dirs) are independent artifacts in concurrent use — the old
    exact-name test deleted them out from under a running stream on
    every cold build; (b) the family glob must not reach OTHER families
    sharing a name prefix (``events_stream_`` matched the nt-batched and
    flush dirs too). Concurrent builds' ``.tmp-`` staging dirs are
    spared until old enough to be a crashed build's leftover (same
    pattern as llm/dedup's block-index GC).

    PUBLISHED superseded siblings are age-gated by the catalog's
    _PRUNE_GRACE_S, exactly like catalog._reap_superseded_names (round-10
    ADVICE): a concurrent session on OLDER code may still be streaming
    from the pre-bump replay dir, and a cold build on new code must not
    rmtree it out from under that live stream — the same failure mode the
    round-8 review fixed in dedup's sibling reaper. Only the grace timing
    differs from staging: .tmp- leftovers reap after 1 h at any version."""
    import time

    from kinesis_datastore_app_spark.catalog import _PRUNE_GRACE_S

    for sib in glob.glob(f"{tag_dir}/{family}*"):
        base = os.path.basename(sib)
        if not os.path.isdir(sib):
            continue
        if ".tmp-" in base:
            # crashed-build staging leftovers reap on age at ANY
            # version, including the current one
            grace = 3600
        elif base.startswith(keep):
            continue
        else:
            grace = _PRUNE_GRACE_S
        try:
            if time.time() - os.stat(sib).st_mtime < grace:
                continue
        except OSError:
            continue
        shutil.rmtree(sib, ignore_errors=True)


def _write_one_file(df: DataFrame, tmp: str, name: str, mtime: int) -> None:
    """Write ``df`` as the single parquet file ``tmp/name`` with a fixed
    mtime (FileStreamSource replays in mtime order, so the order is part
    of the fixture, not of when the build ran). Spark's write stages
    under ``tmp``, so a failed build leaves nothing outside the dir
    catalog.atomic_publish_dir removes."""
    sub = os.path.join(tmp, "_part")
    df.coalesce(1).write.mode("overwrite").parquet(sub)
    dst = os.path.join(tmp, name)
    shutil.move(glob.glob(f"{sub}/part-*.parquet")[0], dst)
    shutil.rmtree(sub)
    os.utime(dst, (mtime, mtime))


def events_stream_dir(
    spark: SparkSession, sf_dir: str, copies: int = 1, files: int = 1
) -> str:
    """Materialize the events table as a streamable directory (idempotent:
    deterministic content keyed by sf/copies/files, reused if present).

    Exactly ``copies * files`` part files are produced, each a pure
    function of the data: file f of every copy holds the rows with
    pmod(event_id, files) == f, in scan order. (An earlier coalesce-based
    form could only REDUCE partition count, so a single-file fixture
    collapsed every files=N request to ONE file — one micro-batch — and
    the multi-trigger replay the parameter exists for was vacuous.)
    Fixed, strictly increasing mtimes make the FileStreamSource replay
    order part of the fixture, copy-major then file-major.

    Publication goes through catalog.atomic_publish_dir, like every
    replay dir here: the build lands in a temp dir renamed into place,
    so a crash mid-build never leaves a partial dir later runs would
    reuse, and a failed build removes its temp dir.
    """
    _ensure_engine_confs(spark)
    name = f"events_stream_v2_c{copies}_f{files}"
    tag_dir = scratch_dir(sf_dir, "events")  # creates dir + _SRC marker
    path = f"{tag_dir}/{name}"

    def build(tmp: str) -> None:
        _gc_superseded_names(tag_dir, "events_stream_v", "events_stream_v2_")
        os.makedirs(tmp)
        src = table(spark, sf_dir, "events")
        fidx = F.pmod(F.col("event_id"), F.lit(files))
        for c in range(copies):
            for i in range(files):
                _write_one_file(
                    src.filter(fidx == i),
                    tmp,
                    f"copy{c:02d}-file{i:03d}.parquet",
                    1_700_000_000 + (c * files + i) * 10,
                )

    atomic_publish_dir(path, build)
    return path


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    copies: int = 1,
    files: int = 1,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events replay dir (earliest-offset semantics).

    Applies the engine session confs UNCONDITIONALLY: when the replay dir
    already exists the builder skips catalog.table(), and without the
    UTC conf a caller-provided session in another timezone would render
    every streamed timestamp shifted (caught by the TZ spot-check)."""
    _ensure_engine_confs(spark)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_stream_dir(spark, sf_dir, copies, files))


# Sized to STATE VOLUME, not core count (see run_to_table below); env-
# overridable so a deployment sizes it to its aggregate state without a
# code change (optimization-round discipline: scale-dependent settings
# parameterized, local default keeps the driver's bench comparable).
# r13 measured 4 vs 8 as net-zero from two sequential readings; r14's
# INTERLEAVED paired runs (plans/r14/ab_statestore_out.json +
# ab_sp4_out.json — two independent experiments, ABAB within one
# session) read 4 faster than 8 on ALL THREE stateful replay keys in
# BOTH runs (sp4/sp8 min ratios — watermark 0.97/0.89, join_outer
# 0.92/0.92, tumbling 0.96/0.92): fixture state is a few thousand rows, so
# per-batch store-commit overhead scales with store COUNT. At larger
# aggregate state raise SPARK_GRAFT_STATE_PARTITIONS — the knob's
# whole point. (RocksDB store measured +23–31% at this state size in
# the same experiment — the HDFS-backed default stands.)
STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "4"))


def run_to_table(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow replay)
    and return the result as a batch DataFrame.

    Stateful shuffle partitions are scoped to STATE_PARTITIONS for the
    query's lifetime: a streaming query pins one state store instance
    per shuffle partition at first start, and each micro-batch commits a
    delta file per store — so the partition count must be sized to STATE
    VOLUME, not to the session's scan-parallelism default (measured here:
    32 stores over a few thousand state rows cost 4-18 s per replay in
    store-commit overhead; 8 cost ~3 s, identical results). At 100 TB
    the same knob goes UP with aggregate state size — the point is that
    it is a deliberate, state-sized choice, decoupled from
    spark.sql.shuffle.partitions.

    The memory-sink table is eagerly localCheckpoint'ed and its temp
    view dropped before returning: the sink otherwise pins the query's
    FULL result rows on the driver for the session lifetime (one leaked
    table per invocation across a long bench/sweep session), while
    checkpoint blocks are released by the ContextCleaner as soon as the
    returned frame is garbage collected."""
    spark = sdf.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    ckpt = scratch_tmpdir("kdas_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def events_batched_stream_dir(spark: SparkSession, sf_dir: str, batches: int = 4) -> str:
    """Replay dir with a DETERMINISTIC, SQL-expressible batch assignment:
    batch = ntile(batches) over (ORDER BY ts, event_id), except rows with
    event_id % 10 == 0 are demoted TWO batches (bounded controlled
    lateness). One parquet file per batch, mtimes strictly increasing, so
    FileStreamSource with maxFilesPerTrigger=1 replays batch b as
    micro-batch b — which makes the watermark's whole evolution (and
    therefore exactly which late rows are dropped) a pure function of the
    data that an offline SQL oracle can replay.

    The demotion is two batches, not one, because Spark's late-row
    filter lags the eviction watermark by one micro-batch (measured: the
    filter in batch b uses the watermark REPORTED for batch b-1, i.e.
    max event time through batch b-2, minus the delay; eviction in batch
    b uses batch b's own reported watermark). A one-batch demotion's
    rows always arrive while their windows are still live — nothing is
    ever dropped; two batches puts most demoted rows behind the filter
    watermark, exercising the drop path. The global ntile window is
    single-partition but runs once at fixture-build time over the
    bounded replay corpus (persisted across the per-batch writes so the
    scan+sort run once, not ``batches`` times), never in the streaming
    hot path."""
    from pyspark.sql import Window as _W

    _ensure_engine_confs(spark)
    tag_dir = scratch_dir(sf_dir, "events")  # creates dir + _SRC marker
    path = f"{tag_dir}/events_stream_nt{batches}d2"

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        src = table(spark, sf_dir, "events")
        q = F.ntile(batches).over(_W.orderBy("ts", "event_id")) - 1
        b = F.when(
            F.col("event_id") % 10 == 0, F.least(q + 2, F.lit(batches - 1))
        ).otherwise(q)
        staged = src.withColumn("b", b).persist()
        try:
            for i in range(batches):
                _write_one_file(
                    staged.filter(F.col("b") == i).drop("b"),
                    tmp,
                    f"batch-{i:03d}.parquet",
                    1_700_000_000 + i * 10,
                )
        finally:
            staged.unpersist()

    atomic_publish_dir(path, build)
    return path


def events_stream_flush_dir(spark: SparkSession, sf_dir: str, files: int = 1) -> str:
    """Replay dir = the events replay files PLUS one trailing sentinel
    file whose two rows (event_id −1/−2, user_id −1/−2, one per join
    side's event_type) carry an event time 10 h past the fixture's max.

    Purpose: watermark-driven FLUSH for outer stream-stream joins. A
    left-outer join emits its null-side rows only when the GLOBAL
    watermark (the min across both sides' watermark nodes) passes each
    row's join-condition upper bound — with the raw fixture, purchases
    near the end of event time would be held in state forever (their
    bound never falls behind max_ts − delay) and the batch oracle could
    never match. The sentinel pair advances BOTH sides' watermarks past
    every real row's bound on the final micro-batch, so the streaming
    result converges to exactly the batch LEFT JOIN. Negative ids keep
    sentinels disjoint from real rows at any corpus size (the same
    contract text_decontaminate uses); consumers filter user_id >= 0
    after the join. The sentinel file's mtime sorts strictly after
    every replay file, so FileStreamSource delivers it last. This is
    the file-replay analog of a Kafka/Kinesis heartbeat record — the
    standard production fix for watermark stall on idle partitions.

    TWO sentinel files, not one (measured): null emission in micro-batch
    k uses the watermark computed AFTER batch k-1, and availableNow
    terminates once all files are committed without a trailing no-data
    batch — with a single sentinel the last delay+bound window of real
    rows stayed in state forever (5 rows at sf0.01). Sentinel file 1
    (+10 h) advances the watermark; sentinel file 2 (+20 h) is the data
    batch that RUNS with that watermark and flushes everything real."""
    import datetime

    _ensure_engine_confs(spark)
    name = f"events_stream_flush_v2_f{files}"
    tag_dir = scratch_dir(sf_dir, "events")
    path = f"{tag_dir}/{name}"

    def build(tmp: str) -> None:
        _gc_superseded_names(
            tag_dir, "events_stream_flush_v", "events_stream_flush_v2_"
        )
        base = events_stream_dir(spark, sf_dir, copies=1, files=files)
        os.makedirs(tmp)
        for f in sorted(glob.glob(f"{base}/*.parquet")):
            # copy2 keeps the fixture mtime ordering
            shutil.copy2(f, os.path.join(tmp, os.path.basename(f)))
        max_ts = table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
        for s, hours in ((1, 10), (2, 20)):
            flush_ts = max_ts + datetime.timedelta(hours=hours)
            sent = spark.createDataFrame(
                [
                    (-1 - 2 * s, flush_ts, -1 - 2 * s, "purchase", 0.0, None),
                    (-2 - 2 * s, flush_ts, -2 - 2 * s, "error", 0.0, None),
                ],
                EVENTS_SCHEMA,
            )
            # strictly after every base file, in sentinel order
            _write_one_file(
                sent,
                tmp,
                f"zz-flush-sentinel-{s}.parquet",
                1_800_000_000 + s * 10,
            )

    atomic_publish_dir(path, build)
    return path
