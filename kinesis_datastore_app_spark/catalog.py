"""Fixture-table catalog: load the driver-generated parquet tables.

The fixture corpus (see /root/repo/FIXTURES.md) lives at
``/root/testdata/sf{0.001,0.01,0.1}/<table>.parquet``. All operators load
through :func:`table` so scans stay uniform (and a future move to a real
catalog / Delta / Iceberg touches one function).

Schema resolution is memoized, data never is: the first scan of a path
infers its parquet schema (a Spark job that reads footers), and later
scans of the same path and content fingerprint (:func:`scratch_tag`)
pass that ``StructType`` to ``spark.read.schema(...)`` and launch no job.
A regenerated fixture has a new fingerprint, so its schema is inferred
again. Nothing is persisted or cached beyond the ``StructType``; every
scan still reads the files.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kinesis_datastore_app_spark.tmpdirs import _activity_mtime_deep, prune_aged

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)



def scratch_tag(sf_dir: str, name: str) -> str:
    """Cache key for scratch artifacts derived from one fixture table:
    ``<sf-basename>-<size>-<mtime>`` of the source parquet. Keying on a
    content fingerprint (not just the basename) means a regenerated
    fixture, or two datasets sharing a directory name, can never
    silently reuse each other's scratch data — the stale dir is simply
    never addressed again. Works for single-file and directory layouts.
    """
    src = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if os.path.isdir(src):
        sts = [
            os.stat(os.path.join(src, f))
            for f in sorted(os.listdir(src))
            if not f.startswith((".", "_"))
        ]
        size = sum(s.st_size for s in sts)
        mtime = max((s.st_mtime_ns for s in sts), default=0)
    else:
        st = os.stat(src)
        size, mtime = st.st_size, st.st_mtime_ns
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"{base}-{size:x}-{mtime:x}"


def _ensure_engine_confs(spark: SparkSession) -> None:
    """Make a caller-provided SparkSession safe for the engine (the driver
    constructs its own session, not session.get_spark()). Both are runtime
    SQL confs: nanosAsLong lets the reader accept events.parquet's
    TIMESTAMP(NANOS); UTC makes timestamp rendering agree with the
    timezone-naive DuckDB oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _validated_scratch_root(path: str) -> str:
    """Trust-check the DEFAULT scratch root once at import: the repo-wide
    rule (tmpdirs.ensure_trusted_dir, the single definition) is that a
    predictable path in a world-writable tmp must never be trusted
    cross-user — and the default here is such a path. A squatting file,
    a symlink, or a root owned by another user falls back to a private
    per-process dir (warned, removed at exit): artifact memoization
    loses cross-process reuse in that hostile environment, but the
    engine never writes query-serving artifacts into — or rmtrees
    inside — a tree someone else controls (round-10 review)."""
    import tempfile

    from kinesis_datastore_app_spark.tmpdirs import ensure_trusted_dir

    if ensure_trusted_dir(path):
        return path
    import atexit
    import sys

    fallback = tempfile.mkdtemp(prefix="kdas_scratch_")
    print(
        f"kinesis_datastore_app_spark: scratch root {path!r} failed the "
        f"cross-user trust check; using private {fallback!r} (no "
        "cross-process artifact reuse this run)",
        file=sys.stderr,
    )
    atexit.register(shutil.rmtree, fallback, ignore_errors=True)
    return fallback


# An EXPLICITLY configured root is the operator's decision and is
# honored as-is (shared service-account scratch, a symlink onto a big
# disk — legitimate ops setups the default-path trust check would
# wrongly reject); only the predictable fallback default is validated.
#
# Resolution is LAZY (round-11 ADVICE, low): the old import-time
# assignment ran makedirs — and, in the untrusted-default case, a
# mkdtemp plus an atexit rmtree — for every process that merely
# imported this module for TABLES; a child bench/A-B subprocess then
# got a PRIVATE fallback root whose published artifacts vanish at exit
# and are invisible to the parent. Now nothing touches the filesystem
# until the first actual scratch use. ``catalog.SCRATCH`` remains the
# public name via the module __getattr__ below (tests monkeypatch it;
# a monkeypatched/assigned value always wins because scratch_root()
# reads the module global first).


_SCRATCH_LOCK = threading.Lock()


def scratch_root() -> str:
    """Resolve-once scratch root: the explicit env override verbatim,
    else the trust-checked predictable default (see
    _validated_scratch_root). Cached in the module global ``SCRATCH``
    so an assigned/monkeypatched value takes precedence. Resolution is
    locked (round-11 review): the import-time assignment this replaced
    was serialized by the import lock — without a lock here, two
    threads first-touching scratch in the untrusted-default case each
    mkdtemp a PRIVATE fallback root, and the loser's published
    artifacts would be invisible to later calls and rmtree'd at exit."""
    s = globals().get("SCRATCH")
    if s is not None:
        return s
    with _SCRATCH_LOCK:
        s = globals().get("SCRATCH")
        if s is None:
            s = os.environ.get("SPARK_GRAFT_SCRATCH") or _validated_scratch_root(
                "/tmp/kinesis_datastore_app_spark"
            )
            globals()["SCRATCH"] = s
    return s


def __getattr__(name: str) -> str:
    if name == "SCRATCH":
        return scratch_root()
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

# Ingest re-layout (file sizing / compaction): a parquet file is only
# scan-parallel up to its row-group count — Spark assigns one task per
# row-group-bearing byte split, so a 600k-row table written as ONE row
# group is read by ONE task no matter how many cores the cluster has.
# That is an input-layout defect, and the standard lakehouse answer is
# to fix the layout ON INGEST (the batch twin of maintenance_compact):
# rewrite the table once into |cores| splittable files in scratch,
# fingerprinted by the source's size+mtime, and point every scan at the
# re-laid copy. At 100 TB this is exactly the compaction/auto-file-sizing
# pass every table service runs — scans afterwards parallelize fully and
# keep pushdown/pruning (the copy is still plain parquet). Row content is
# byte-identical; only the physical chunking changes.
_RELAYOUT_MIN_ROWS = 50_000
# Re-lay only when a single task would otherwise chew through more than
# this many bytes (i.e. bytes-per-row-group exceeds it); target about
# this much data per output file so tiny tables don't pay 32-task
# scheduling overhead for a 2 MB scan.
_RELAYOUT_TASK_BYTES = 4 << 20
_RELAYOUT_FILE_BYTES = 1 << 20
_relayout_checked: dict[tuple[str, str], str] = {}


def _parquet_layout(src: str) -> tuple[int, int, int]:
    """(rows, row groups, bytes) of a parquet file or directory."""
    import pyarrow.parquet as papq

    paths = (
        [
            os.path.join(src, f)
            for f in sorted(os.listdir(src))
            if f.endswith(".parquet")
        ]
        if os.path.isdir(src)
        else [src]
    )
    if not paths:
        # partitioned/empty layout with no top-level part files: raising
        # here routes corpus_count to its documented Spark-count fallback
        # instead of silently caching n=0 (which would derive degenerate
        # IVF/stride parameters downstream; round-8 review)
        raise FileNotFoundError(f"no .parquet files directly under {src}")
    rows = groups = size = 0
    for p in paths:
        md = papq.ParquetFile(p).metadata
        rows += md.num_rows
        groups += md.num_row_groups
        size += os.path.getsize(p)
    return rows, groups, size


def _relaid_path(spark: SparkSession, sf_dir: str, name: str, tag: str) -> str:
    """Return the scan path for a fixture table: the source itself when
    its layout already parallelizes, else a one-time re-laid scratch copy
    (atomic tmp-dir + rename publication, concurrency-safe). ``tag`` is
    the source's :func:`scratch_tag` ("" when it has none)."""
    src = f"{sf_dir.rstrip('/')}/{name}.parquet"
    # Cache key includes the content fingerprint: a fixture regenerated
    # mid-process gets a new tag, so the memoized decision for the stale
    # copy is never served for the fresh one.
    ck = (src, tag)
    cached = _relayout_checked.get(ck)
    if cached is not None:
        if cached != src:
            # warm read of a scratch relayout copy: keep its vintage
            # young for the stale-tag GC (see _touch_tag)
            _touch_tag(os.path.dirname(cached))
        return cached
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        rows, groups, size = _parquet_layout(src)
    except Exception:
        _relayout_checked[ck] = src
        return src
    if (
        not tag
        or rows < _RELAYOUT_MIN_ROWS
        or size // max(groups, 1) <= _RELAYOUT_TASK_BYTES
    ):
        _relayout_checked[ck] = src
        return src
    n_out = min(n_cpus, max(4, size // _RELAYOUT_FILE_BYTES))
    tag_dir = f"{scratch_root()}/{tag}"
    path = f"{tag_dir}/relayout_{name}"
    if not os.path.exists(path):
        atomic_publish_dir(
            path,
            lambda tmp: spark.read.parquet(src)
            .repartition(n_out)
            .write.mode("overwrite")
            .parquet(tmp),
        )
        _write_src_marker(tag_dir, sf_dir)
        _addressed_tags.add(tag_dir)
    _relayout_checked[ck] = path
    return path


_SCHEMA_CACHE: dict[tuple[str, str], StructType] = {}


def _scan(spark: SparkSession, path: str, fingerprint: str) -> DataFrame:
    """Parquet scan of ``path`` whose schema is inferred once per
    ``(path, fingerprint)``: the cold call is a plain ``spark.read.parquet``
    (schema inference is a Spark job over the footers) and its
    ``df.schema`` is stored; warm calls read with that schema, so they
    launch no job and see the same types, nullability and column order.
    Only the ``StructType`` is kept, never data. An empty ``fingerprint``
    (no content fingerprint available) is never memoized. Threads racing
    on a cold key each infer and store the same schema, so no lock."""
    key = (path, fingerprint)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if fingerprint:
        _SCHEMA_CACHE[key] = df.schema
    return df


_COUNT_CACHE: dict[tuple[str, str], int] = {}


def corpus_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one fixture table, memoized by content fingerprint —
    the one-time sizing step for corpus-adaptive parameters (IVF list
    stride, ground-truth sample strides). Reads the parquet FOOTER
    metadata directly (no Spark job, and no table() call — which could
    trigger a relayout rewrite on first touch); the memo makes repeat
    invocations free and a regenerated fixture recounts automatically.
    Falls back to a Spark count for non-parquet layouts."""
    try:
        key = (name, scratch_tag(sf_dir, name))
    except OSError:
        # Non-parquet layout: <name>.parquet absent, so there is no
        # footer to fingerprint — name-only cache key + Spark count.
        key = (name, f"nofile:{sf_dir.rstrip('/')}")
    n = _COUNT_CACHE.get(key)
    if n is None:
        try:
            n, _, _ = _parquet_layout(f"{sf_dir.rstrip('/')}/{name}.parquet")
        except Exception:
            n = table(spark, sf_dir, name).count()
        _COUNT_CACHE[key] = n
    return n


def scratch_dir(sf_dir: str, src_table: str) -> str:
    """Create-and-return the fingerprint-tagged scratch dir for artifacts
    derived from ``src_table`` (the ``_SRC`` marker is written so the
    stale-vintage GC can claim the dir when the fixture regenerates).
    Operators that rewrite scratch on every invocation (roundtrip sinks,
    compaction) build their paths under this dir instead of a bare
    basename so two datasets sharing a directory name can never address
    each other's files — the same contract published_parquet gives the
    memoized artifacts."""
    tag_dir = f"{scratch_root()}/{scratch_tag(sf_dir, src_table)}"
    os.makedirs(tag_dir, exist_ok=True)
    _write_src_marker(tag_dir, sf_dir)
    _addressed_tags.add(tag_dir)
    return tag_dir


def scratch_path(sf_dir: str, src_table: str, tag: str) -> str:
    """Per-operator scratch path inside ``src_table``'s fingerprint-tagged
    vintage dir: the form every rewrite-per-invocation scratch writer
    (roundtrip sinks, compaction, rollup partials) uses, so no two
    datasets or fixture vintages can address each other's files and the
    stale-vintage GC covers these dirs too."""
    return f"{scratch_dir(sf_dir, src_table)}/{tag}"


def atomic_publish_dir(path: str, build_fn) -> None:
    """Build-once atomic directory publish — THE single definition of
    the exists-check → tmp-dir → rename → lost-race-recovery idiom
    (previously five hand-rolled copies across catalog/source_factory/
    multimodal, each re-deriving the 'genuine failure vs lost race'
    distinction; round-8 review). ``build_fn(tmp)`` must CREATE ``tmp``
    (mkdir or a Spark write) and fill it; the rename makes the content
    visible all-or-nothing, a crashed builder leaves only an ignorable
    tmp, and when two builders race the loser's content is discarded
    and the winner's served. No-op if ``path`` already exists."""
    if os.path.exists(path):
        return
    # The BaseException cleanup below cannot run under a hard kill
    # (SIGKILL/OOM-killer), and for artifacts without a reap_family —
    # notably relayout copies, potentially GBs — nothing else collects a
    # stranded <path>.tmp-* under a still-current tag. Sweep aged ones
    # here, on exactly the retry path where they accumulate. Staleness
    # is judged by the DEEP activity probe, not the top-level mtime: a
    # live Spark build writes under <tmp>/_temporary/0/task_*/ so the
    # tmp's own (and even its immediate children's) mtime goes stale
    # minutes into a long job, and the round-10 hour-scale-gate-only
    # answer still killed any concurrent build that outlived 4 h
    # (round-11 ADVICE, medium). With the full-walk probe a build shows
    # activity for as long as ANY task writes bytes, so only truly dead
    # staging ages out; the 4 h gate on top covers a job's worst-case
    # quiet tail (final task committed, driver still finalizing).
    prune_aged(
        os.path.dirname(path) or ".",
        f"{os.path.basename(path)}.tmp-",
        4 * 3600,
        activity=_activity_mtime_deep,
    )
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        build_fn(tmp)
    except BaseException:
        # a failed build (OOM, disk full, bad source) must not strand its
        # partial tmp dir — the stale-vintage GC only collects whole
        # superseded tag dirs, so orphans under a CURRENT vintage would
        # accumulate across retries (round-8 review)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(path):
            # not the lost-a-publish-race case (serving the winner is
            # correct) — the publish genuinely failed; surface it here,
            # not as a downstream PATH_NOT_FOUND
            raise


def published_parquet(
    spark: SparkSession,
    sf_dir: str,
    subdir: str,
    df_fn,
    src_table: str = "documents",
    partition_by: str | None = None,
    reap_family: str | None = None,
) -> DataFrame:
    """Scratch-parquet memo keyed by the SOURCE table's fixture
    fingerprint: build the frame once (atomic temp-dir + rename publish,
    crash-safe) and serve plain columnar scans afterwards. At 100 TB
    these corpus-derived artifacts (shingle indexes, content-group maps,
    simhash prints, PQ codes, IVF assignments) are built on INGEST, not
    per query — the memo is the local stand-in for that step. Pass the
    table the artifact derives from as src_table so a regenerated
    fixture invalidates exactly the artifacts built from it. The
    fingerprint covers the DATA only: callers must bake every algorithm
    parameter the artifact depends on into ``subdir`` (e.g.
    ``f"ivf_assign_t{N_LISTS_TARGET}p{PHASE}"``) so a parameter edit
    addresses a fresh artifact instead of silently serving the old
    one.

    ``reap_family``: the artifact's stable name stem (e.g.
    ``"shv_prints_"``). Because a parameter edit renames the artifact,
    the old name would otherwise leak inside the still-current tag dir
    forever (the vintage GC only collects whole stale TAG dirs) — on a
    cold build, superseded siblings under the family stem are collected
    once older than the same grace window _prune_stale_tags honors
    (a concurrent session on older code may still be scanning them;
    crashed ``.tmp-`` staging reaps after 1 h). Generalized here from
    dedup's one-off twin-blockindex reaper (round-9 review) so every
    renamed family gets the same hygiene."""
    tag = scratch_tag(sf_dir, src_table)
    root = scratch_root()
    path = f"{root}/{tag}/{subdir}"
    if os.path.exists(path):
        _touch_tag(f"{root}/{tag}")
        # Refresh the artifact SUBDIR's own mtime too (round-8 ADVICE):
        # the sibling-index reaper in llm/dedup ages PUBLISHED siblings
        # by their own dir mtime, and the tag-dir touch above never
        # reached them — a long-lived session's artifact built more
        # than one grace period ago would be reaped while in active
        # use. Registering the path in _addressed_tags keeps it young
        # on every subsequent warm catalog call as well.
        _addressed_tags.add(path)
        try:
            os.utime(path)
        except OSError:
            pass
    else:

        def build(tmp: str) -> None:
            w = df_fn().write.mode("overwrite")
            if partition_by is not None:
                w = w.partitionBy(partition_by)
            w.parquet(tmp)

        if reap_family:
            _reap_superseded_names(f"{root}/{tag}", reap_family, subdir)
        atomic_publish_dir(path, build)
        _write_src_marker(f"{root}/{tag}", sf_dir)
        _addressed_tags.add(f"{root}/{tag}")
        _addressed_tags.add(path)  # periodic re-touch covers the subdir
        _prune_stale_tags(sf_dir)
    # a published dir is immutable once renamed into place, and its path
    # already carries the source fingerprint and the artifact parameters
    return _scan(spark, path, tag)


def _reap_superseded_names(tag_dir: str, family: str, keep: str) -> None:
    """Collect superseded parameterizations of one artifact family
    inside the still-current tag dir — see published_parquet's
    reap_family doc. Age-gated: published siblings only after
    _PRUNE_GRACE_S (a concurrent older-code session may still read
    them), crashed .tmp- staging after 1 h."""
    import glob as _glob
    import time as _time

    for sib in _glob.glob(f"{tag_dir}/{family}*"):
        base = os.path.basename(sib)
        if base == keep or not os.path.isdir(sib):
            continue
        grace = 3600 if ".tmp-" in base else _PRUNE_GRACE_S
        try:
            if _time.time() - os.stat(sib).st_mtime < grace:
                continue
        except OSError:
            continue
        shutil.rmtree(sib, ignore_errors=True)


# Stale-vintage GC knobs: a tag dir is only prunable once its own mtime
# is older than this grace period. _touch_tag refreshes the mtime of
# EVERY tag dir this process has addressed (current AND superseded) on
# warm catalog activity, so the grace period covers worst-case time
# between catalog calls in a live session — not session length, and not
# time-since-supersession: a session holding lazy DataFrames over a
# just-superseded vintage keeps that vintage young as long as it does
# anything at all.
_PRUNE_GRACE_S = 6 * 3600
_SRC_MARKER = "_SRC"


# Every tag dir this PROCESS has ever addressed (published into, re-laid,
# or warm-read). The GC-protection point: after a fixture regeneration,
# scratch_tag() resolves to the NEW tag, so a touch at read time can only
# ever land on current vintages — the SUPERSEDED dirs (the only ones the
# GC deletes) would never be refreshed even though this process may still
# hold lazy DataFrames over their files. Remembering every addressed dir
# and refreshing them ALL on warm activity makes the grace test measure
# time-since-this-process-was-last-active for every vintage it might
# still read, which is the invariant in-flight queries actually need.
_addressed_tags: set[str] = set()
_last_touch_all = 0.0


def _touch_tag(tag_dir: str) -> None:
    """Register + refresh on warm activity: touch this tag dir now, and
    (rate-limited to once a minute) re-touch every tag dir the process
    has addressed before — superseded vintages stay young as long as the
    session that might still scan them shows ANY catalog activity."""
    import time

    global _last_touch_all
    _addressed_tags.add(tag_dir)
    try:
        os.utime(tag_dir)
    except OSError:
        pass
    now = time.time()
    if now - _last_touch_all < 60:
        return
    _last_touch_all = now
    for d in list(_addressed_tags):
        if d == tag_dir:
            continue
        try:
            os.utime(d)
        except OSError:
            _addressed_tags.discard(d)  # gone for good; stop tracking


def _write_src_marker(tag_dir: str, sf_dir: str) -> None:
    """Record which dataset PATH a tag dir belongs to: the tag's
    ``<basename>-<fingerprint>`` form cannot distinguish two datasets
    that share a directory basename (a case scratch_tag explicitly
    supports), so the GC needs the full source path to know which
    same-basename dirs are its own stale vintages."""
    marker = os.path.join(tag_dir, _SRC_MARKER)
    if not os.path.exists(marker):
        try:
            with open(marker, "w") as f:
                f.write(os.path.realpath(sf_dir))
        except OSError:
            pass


def _prune_stale_tags(sf_dir: str) -> None:
    """Garbage-collect stale fixture-vintage scratch: a regenerated
    fixture mints a new tag and the old tag dir is never addressed again
    (scratch_tag's contract), so without GC every regeneration leaks a
    full artifact set (shingle/print/LSH/IVF/PQ/relayout tables — GBs at
    bench scale). Runs only on a COLD publish (zero hot-path cost) and
    removes a tag dir only when ALL of:

    * its name carries this dataset's basename prefix (dash-delimited,
      so ``m1-`` never matches ``m16-``) but a fingerprint matching NO
      currently-existing table of this sf_dir (tables a regeneration
      did not touch keep their fingerprints and survive);
    * its ``_SRC`` marker records THIS dataset's real path — a
      same-basename dir belonging to a different dataset is never
      touched (legacy dirs without a marker predate the GC and are
      treated as prunable);
    * its own mtime is older than the grace period, so sessions holding
      lazy frames over a just-superseded vintage are not broken
      mid-query.

    A process that does lose a stale dir self-heals: its next cold
    access rebuilds under its own tag."""
    import time

    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    real = os.path.realpath(sf_dir)
    current = set()
    for t in TABLES:
        try:
            current.add(scratch_tag(sf_dir, t))
        except OSError:
            continue  # table absent in this dataset (e.g. probe corpora)
    try:
        entries = os.listdir(scratch_root())
    except OSError:
        return
    now = time.time()
    for d in entries:
        if not d.startswith(f"{base}-") or d in current:
            continue
        p = os.path.join(scratch_root(), d)
        try:
            if now - os.stat(p).st_mtime < _PRUNE_GRACE_S:
                continue
        except OSError:
            continue
        try:
            with open(os.path.join(p, _SRC_MARKER)) as f:
                src = f.read().strip()
        except OSError:
            src = None
        if src is not None and src != real:
            continue
        shutil.rmtree(p, ignore_errors=True)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (columnar parquet; Catalyst prunes/pushes).

    The source's content fingerprint (:func:`scratch_tag`) is computed
    once per call and keys both the re-layout decision and the schema
    memo (:func:`_scan`): the first call for a (scan path, fingerprint)
    infers the parquet schema, later calls reuse that ``StructType`` and
    launch no Spark job. Regenerating the fixture changes its size or
    mtime, hence the fingerprint, so the schema is inferred afresh. Only
    the schema is memoized; data is never cached. The confs that shape
    inference are pinned before the first read."""
    _ensure_engine_confs(spark)
    try:
        tag = scratch_tag(sf_dir, name)
    except OSError:
        tag = ""
    df = _scan(spark, _relaid_path(spark, sf_dir, name, tag), tag)
    if name == "events":
        # Fixture generations have stored ts as TIMESTAMP(NANOS) (read as
        # long via nanosAsLong → truncate to micros) or TIMESTAMP_NTZ
        # micros (cast to the session-TZ instant; session tz is pinned
        # UTC above, so the wall clock — and the DuckDB naive-timestamp
        # oracle comparison — is unchanged). Branch on the read type so
        # either fixture vintage loads identically.
        dt = df.schema["ts"].dataType.simpleString()
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

