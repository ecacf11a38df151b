"""Scratch artifact GC: a regenerated fixture mints a new scratch tag
(catalog.scratch_tag) and the stale tag dir would otherwise leak a full
artifact set per regeneration. The cold-publish prune must remove
exactly the stale vintages of the published dataset — not tags of
untouched tables, not other datasets (even same-basename ones), and
nothing younger than the grace period."""

from __future__ import annotations

import os
import shutil

import pytest

from kinesis_datastore_app_spark import catalog


def _copy_fixture(tmp_path, sub="sfx", tables=("documents", "embeddings")):
    sfd = tmp_path / sub
    sfd.mkdir(parents=True)
    for t in tables:
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", sfd / f"{t}.parquet")
    return str(sfd)


def _regen(sfd, table="documents"):
    """Simulate a fixture regeneration: same path, new mtime, new tag."""
    p = os.path.join(sfd, f"{table}.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 7_000_000))


def _age(path, seconds=7200):
    st = os.stat(path)
    old = st.st_mtime - seconds
    os.utime(path, (old, old))


def test_scratch_gc_prunes_stale_vintages(spark, tmp_path, monkeypatch):
    sfd = _copy_fixture(tmp_path)
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setattr(catalog, "_PRUNE_GRACE_S", 0)
    build = lambda: spark.range(5).toDF("x")

    catalog.published_parquet(spark, sfd, "art_a", build, src_table="documents")
    catalog.published_parquet(spark, sfd, "art_e", build, src_table="embeddings")
    doc_tag0 = catalog.scratch_tag(sfd, "documents")
    emb_tag = catalog.scratch_tag(sfd, "embeddings")

    # a different dataset sharing the scratch root must never be touched
    other = os.path.join(catalog.SCRATCH, "otherbase-aa-bb")
    os.makedirs(other)

    _regen(sfd)
    doc_tag1 = catalog.scratch_tag(sfd, "documents")
    assert doc_tag1 != doc_tag0

    catalog.published_parquet(spark, sfd, "art_a", build, src_table="documents")

    scratch = catalog.SCRATCH
    assert not os.path.exists(f"{scratch}/{doc_tag0}"), "stale vintage pruned"
    assert os.path.exists(f"{scratch}/{doc_tag1}/art_a"), "fresh vintage published"
    assert os.path.exists(f"{scratch}/{emb_tag}/art_e"), "untouched table survives"
    assert os.path.exists(other), "other datasets survive"

    # warm re-read: no publish happens, nothing is pruned, content served
    df = catalog.published_parquet(
        spark, sfd, "art_a", lambda: (_ for _ in ()).throw(AssertionError), "documents"
    )
    assert df.count() == 5


def test_scratch_gc_grace_period_spares_young_vintages(
    spark, tmp_path, monkeypatch
):
    """A just-superseded vintage inside the grace window survives: a
    session that already holds lazy frames over it must not lose its
    files mid-query."""
    sfd = _copy_fixture(tmp_path)
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / "scratch"))
    build = lambda: spark.range(5).toDF("x")

    catalog.published_parquet(spark, sfd, "art_a", build, src_table="documents")
    doc_tag0 = catalog.scratch_tag(sfd, "documents")
    _regen(sfd)
    catalog.published_parquet(spark, sfd, "art_a", build, src_table="documents")
    assert os.path.exists(f"{catalog.SCRATCH}/{doc_tag0}"), (
        "vintage younger than the grace period must survive"
    )


def test_scratch_gc_same_basename_other_dataset_survives(
    spark, tmp_path, monkeypatch
):
    """Two dataset ROOTS with the same directory basename (the case
    scratch_tag's contract explicitly supports) must not GC each
    other's artifacts: the _SRC marker disambiguates; legacy dirs
    without a marker are treated as this dataset's own."""
    sfd = _copy_fixture(tmp_path / "a")
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setattr(catalog, "_PRUNE_GRACE_S", 0)
    build = lambda: spark.range(3).toDF("x")

    # a same-basename tag dir belonging to ANOTHER dataset root, old
    # enough to be pruned if ownership were ignored
    foreign = os.path.join(catalog.SCRATCH, "sfx-feed-beef")
    os.makedirs(foreign)
    with open(os.path.join(foreign, catalog._SRC_MARKER), "w") as f:
        f.write("/somewhere/else/sfx")
    _age(foreign)

    # a legacy same-basename dir (pre-GC, no marker), also old
    legacy = os.path.join(catalog.SCRATCH, "sfx-0ld-1egacy")
    os.makedirs(legacy)
    _age(legacy)

    catalog.published_parquet(spark, sfd, "art_a", build, src_table="documents")
    assert os.path.exists(foreign), "other dataset's artifacts survive"
    assert not os.path.exists(legacy), "own legacy vintages are collected"

    # the publish recorded ownership for future GC runs
    tag = catalog.scratch_tag(sfd, "documents")
    with open(f"{catalog.SCRATCH}/{tag}/{catalog._SRC_MARKER}") as f:
        assert f.read() == os.path.realpath(sfd)


def test_sink_scratch_prune_age_gated(spark, tmp_path, monkeypatch):
    """The custom manifest sink writes a fresh uniquely-named dir per
    invocation (required by its crash-safety contract); entry-time
    cleanup must collect PRIOR runs' dirs past the age gate and spare
    young ones (a concurrent session's in-flight sink)."""
    from kinesis_datastore_app_spark.sources import keyed_sink

    # the sink reads catalog.scratch_root() at call time, which honors a
    # monkeypatched catalog.SCRATCH (round-11 lazy-root change)
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / "scratch"))
    base = tmp_path / "scratch" / "sf0.001"
    base.mkdir(parents=True)
    old = base / "custom_sink_deadbeef0000"
    old.mkdir()
    _age(str(old))
    young = base / "custom_sink_young0000000"
    young.mkdir()

    df = keyed_sink.sink_custom_datasource(spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    assert not old.exists(), "aged-out sink dir collected"
    assert young.exists(), "young sink dir spared"


def test_stream_tmpdir_self_cleaning(tmp_path, monkeypatch):
    """Streaming checkpoint/sink dirs are allocated per invocation (the
    Structured Streaming no-shared-checkpoint rule): each allocation
    collects aged-out same-prefix siblings, spares young ones AND old
    dirs whose immediate children are still being written (a live
    checkpoint's offsets/ dir is touched every micro-batch)."""
    from kinesis_datastore_app_spark import tmpdirs

    monkeypatch.setattr(tmpdirs, "ROOT", str(tmp_path / "root"))
    os.makedirs(tmpdirs.ROOT)

    old = os.path.join(tmpdirs.ROOT, "kdas_x_dead")
    os.makedirs(old)
    _age(old)

    young = os.path.join(tmpdirs.ROOT, "kdas_x_young")
    os.makedirs(young)

    live = os.path.join(tmpdirs.ROOT, "kdas_x_live")
    os.makedirs(os.path.join(live, "offsets"))
    _age(live)  # top dir old...
    os.utime(os.path.join(live, "offsets"))  # ...but a child is active

    other = os.path.join(tmpdirs.ROOT, "kdas_other_dead")
    os.makedirs(other)
    _age(other)

    p = tmpdirs.scratch_tmpdir("kdas_x_")
    assert os.path.isdir(p)
    assert not os.path.exists(old), "aged-out dir collected"
    assert os.path.exists(young), "young dir spared"
    assert os.path.exists(live), "active checkpoint spared via child mtime"
    assert os.path.exists(other), "other prefixes untouched"


def test_scratch_gc_ambiguous_prefixes_survive(spark, tmp_path, monkeypatch):
    """Tag prefix matching is dash-delimited: publishing for dataset
    'sfx' must not prune a sibling dataset named 'sfx2' (nor vice
    versa) — the hazard class of probe corpora named <hash>-m1 vs
    <hash>-m16."""
    sfd = _copy_fixture(tmp_path)
    sfd2 = str(tmp_path / "sfx2")
    shutil.copytree(sfd, sfd2)
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setattr(catalog, "_PRUNE_GRACE_S", 0)
    build = lambda: spark.range(3).toDF("x")

    catalog.published_parquet(spark, sfd2, "art_b", build, src_table="documents")
    tag2 = catalog.scratch_tag(sfd2, "documents")
    _age(f"{catalog.SCRATCH}/{tag2}")
    catalog.published_parquet(spark, sfd, "art_a", build, src_table="documents")
    assert os.path.exists(f"{catalog.SCRATCH}/{tag2}/art_b")


def test_published_parquet_warm_read_refreshes_subdir_mtime(
    spark, tmp_path, monkeypatch
):
    """Round-8 ADVICE: the sibling-index reaper (llm/dedup) ages
    PUBLISHED artifact subdirs by their OWN mtime, so a warm
    published_parquet read must refresh the subdir — otherwise a
    long-lived session's artifact built > grace ago is reaped while in
    active use. Pin: (a) a warm read bumps the aged subdir's mtime; (b)
    the subdir is registered for the periodic re-touch sweep."""
    sfd = _copy_fixture(tmp_path)
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / "scratch"))
    build = lambda: spark.range(3).toDF("x")

    catalog.published_parquet(spark, sfd, "art_warm", build, src_table="documents")
    tag = catalog.scratch_tag(sfd, "documents")
    sub = f"{catalog.SCRATCH}/{tag}/art_warm"
    _age(sub)
    aged = os.stat(sub).st_mtime
    catalog.published_parquet(spark, sfd, "art_warm", build, src_table="documents")
    assert os.stat(sub).st_mtime > aged, "warm read did not touch the subdir"
    assert sub in catalog._addressed_tags


def test_replay_dir_gc_spares_other_families_and_parameterizations(
    spark, tmp_path, monkeypatch
):
    """Round-9 review: events_stream_dir's cold-build GC must collect
    only SUPERSEDED FORMAT VERSIONS of its own family — not the
    nt-batched / flush replay dirs that share the name prefix, and not
    sibling parameterizations of the current version (a files=2 dir is
    in concurrent use by another query while a files=1 build runs).
    Round-10 ADVICE: superseded PUBLISHED versions are also age-gated by
    _PRUNE_GRACE_S — a concurrent session on older code may still be
    streaming from the pre-bump dir, so a cold build right after a
    format bump must leave a young v1 dir alone."""
    import kinesis_datastore_app_spark.catalog as catalog_mod
    from kinesis_datastore_app_spark.streaming import source_factory as sf_mod

    sfd = _copy_fixture(tmp_path, tables=("events",))
    monkeypatch.setattr(catalog_mod, "SCRATCH", str(tmp_path / "scratch"))

    d1 = sf_mod.events_stream_dir(spark, sfd, files=1)
    tag_dir = os.path.dirname(d1)
    # plant: an AGED old-format sibling (collectable), a YOUNG old-format
    # sibling (live older-code reader — must survive), a same-version
    # other parameterization (must survive), and other families (must
    # survive)
    old_fmt = os.path.join(tag_dir, "events_stream_v1_c1_f1")
    os.makedirs(old_fmt)
    _age(old_fmt, seconds=catalog_mod._PRUNE_GRACE_S + 600)
    young_old_fmt = os.path.join(tag_dir, "events_stream_v1_c2_f1")
    os.makedirs(young_old_fmt)
    keep_nt = os.path.join(tag_dir, "events_stream_nt4d2")
    os.makedirs(keep_nt)
    keep_flush = os.path.join(tag_dir, "events_stream_flush_v2_f1")
    os.makedirs(keep_flush)

    d2 = sf_mod.events_stream_dir(spark, sfd, files=2)  # cold build → GC runs
    assert os.path.isdir(d1), "sibling parameterization deleted by cold build"
    assert os.path.isdir(d2)
    assert os.path.isdir(keep_nt), "nt-batched family deleted by prefix glob"
    assert os.path.isdir(keep_flush), "flush family deleted by prefix glob"
    assert not os.path.exists(old_fmt), "aged superseded v1 format not collected"
    assert os.path.isdir(young_old_fmt), (
        "young superseded version reaped — a live older-code stream "
        "loses its replay dir (grace gate violated)"
    )


def test_replay_dir_failed_build_leaves_no_staging(
    spark, tmp_path, monkeypatch
):
    """Every events replay-dir build publishes through
    catalog.atomic_publish_dir, so a build that raises (here: the
    events table cannot be resolved) leaves neither a ``.tmp-`` staging
    dir nor a ``.part`` write dir behind, and publishes nothing."""
    import kinesis_datastore_app_spark.catalog as catalog_mod
    from kinesis_datastore_app_spark.streaming import source_factory as sf_mod

    sfd = _copy_fixture(tmp_path, tables=("events",))
    monkeypatch.setattr(catalog_mod, "SCRATCH", str(tmp_path / "scratch"))

    def broken_table(*a, **k):
        raise RuntimeError("simulated source failure")

    monkeypatch.setattr(sf_mod, "table", broken_table)
    tag_dir = catalog_mod.scratch_dir(sfd, "events")
    for build in (
        lambda: sf_mod.events_stream_dir(spark, sfd, files=2),
        lambda: sf_mod.events_batched_stream_dir(spark, sfd, batches=2),
        lambda: sf_mod.events_stream_flush_dir(spark, sfd, files=2),
    ):
        with pytest.raises(RuntimeError, match="simulated source failure"):
            build()
        left = [
            d for d in os.listdir(tag_dir) if d.startswith("events_stream")
        ]
        assert left == [], f"failed build left {left}"


def test_published_parquet_reap_family_scoped_and_age_gated(
    spark, tmp_path, monkeypatch
):
    """Round-9: reap_family collects superseded parameterizations of one
    artifact family on a cold build — aged siblings only (a concurrent
    older-code session may still scan young ones), never other families
    sharing a prefix, never the artifact being built."""
    sfd = _copy_fixture(tmp_path)
    monkeypatch.setattr(catalog, "SCRATCH", str(tmp_path / "scratch"))
    build = lambda: spark.range(3).toDF("x")

    tag_dir = catalog.scratch_dir(sfd, "documents")
    aged_old = os.path.join(tag_dir, "fam_v1_k8")
    os.makedirs(aged_old)
    _age(aged_old, seconds=catalog._PRUNE_GRACE_S + 600)
    young_old = os.path.join(tag_dir, "fam_v1_k4")
    os.makedirs(young_old)
    other_family = os.path.join(tag_dir, "fam_extra_v1")  # shares 'fam_' stem? no: family='fam_v'
    os.makedirs(other_family)

    catalog.published_parquet(
        spark, sfd, "fam_v2_k8", build, src_table="documents",
        reap_family="fam_v",
    )
    assert not os.path.exists(aged_old), "aged superseded name not reaped"
    assert os.path.exists(young_old), "young sibling reaped (live-reader window)"
    assert os.path.exists(other_family), "other family reaped by prefix"
    assert os.path.exists(os.path.join(tag_dir, "fam_v2_k8"))
    # warm read: no reap runs (cold-build-only hygiene), nothing changes
    _age(young_old, seconds=catalog._PRUNE_GRACE_S + 600)
    catalog.published_parquet(
        spark, sfd, "fam_v2_k8", build, src_table="documents",
        reap_family="fam_v",
    )
    assert os.path.exists(young_old)


def test_atomic_publish_reaps_aged_stranded_tmp(tmp_path):
    """Round-10 review: a builder hard-killed (SIGKILL/OOM) mid-build
    strands <path>.tmp-* under a still-current tag, and artifacts
    without a reap_family (relayout copies) had no collector. The
    publish path sweeps aged strands for its own target; a fresh tmp
    (concurrent live builder) survives. Round-11 ADVICE (medium):
    staleness is judged by the DEEP activity probe — a tmp whose TOP
    levels are hours old but whose deepest task file is actively being
    written (a live Spark build under _temporary/0/task_*/) must also
    survive, even past the 4 h gate."""
    import time

    target = str(tmp_path / "art")
    aged = f"{target}.tmp-dead0001"
    fresh = f"{target}.tmp-live0002"
    deep_live = f"{target}.tmp-long0003"
    past = time.time() - 5 * 3600  # gate is 4 h (deep-writing builds)
    for d in (aged, fresh):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
    # truly dead: every entry, including the file, is past the gate
    os.utime(os.path.join(aged, "part-0.parquet"), (past, past))
    os.utime(aged, (past, past))
    # >4h-old build still writing two levels down: only the deepest
    # file is fresh (Spark's committer never touches the upper dirs)
    task = os.path.join(deep_live, "_temporary", "0", "task_0")
    os.makedirs(task)
    with open(os.path.join(task, "part-0.parquet"), "w") as f:
        f.write("x")
    for p in (deep_live, os.path.join(deep_live, "_temporary"),
              os.path.join(deep_live, "_temporary", "0"), task):
        os.utime(p, (past, past))

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "ok"), "w") as f:
            f.write("y")

    catalog.atomic_publish_dir(target, build)
    assert os.path.exists(os.path.join(target, "ok"))
    assert not os.path.exists(aged), "stranded tmp never collected"
    assert os.path.exists(fresh), "live concurrent builder's tmp swept"
    assert os.path.exists(deep_live), (
        "long-running builder with deep-only activity swept mid-write"
    )


def test_catalog_import_is_side_effect_free():
    """Round-11 ADVICE (low): importing catalog (as tools do for TABLES)
    must not resolve — let alone makedirs/mkdtemp — the scratch root;
    resolution happens on first actual scratch use and caches into the
    module global, which monkeypatched tests override."""
    import subprocess
    import sys

    code = (
        "import kinesis_datastore_app_spark.catalog as c\n"
        "assert 'SCRATCH' not in vars(c), 'scratch root resolved at import'\n"
        "r = c.scratch_root()\n"
        "assert c.SCRATCH == r and vars(c)['SCRATCH'] == r\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, cwd="/root/repo"
    )


def test_scratch_root_falls_back_when_untrusted(tmp_path, monkeypatch):
    """Round-10 review: the predictable /tmp scratch default gets the
    same cross-user hardening tmpdirs declares mandatory — a squatting
    FILE, a symlink, or a foreign-owned dir at the configured path must
    divert to a private fallback, never be written into."""
    squat = tmp_path / "squat_file"
    squat.write_text("not a dir")
    got = catalog._validated_scratch_root(str(squat))
    assert got != str(squat) and os.path.isdir(got)
    shutil.rmtree(got, ignore_errors=True)

    link = tmp_path / "sneaky_link"
    victim = tmp_path / "victim"
    victim.mkdir()
    link.symlink_to(victim)
    got = catalog._validated_scratch_root(str(link))
    assert got != str(link) and os.path.isdir(got)
    shutil.rmtree(got, ignore_errors=True)

    ours = tmp_path / "honest_root"
    assert catalog._validated_scratch_root(str(ours)) == str(ours)
    assert os.path.isdir(ours)
