"""Lifecycle of the at-rest index artifact store (operators/artifacts.py):
warehouse-relative layout, spec-hash keys, stale-build orphan GC, and the
lost-race vs real-failure split in the publish path (VERDICT r10 #5,
ADVICE r10 #2/#3)."""

from __future__ import annotations

import os

import pytest

from cdw_spark.operators.artifacts import (
    _store_base,
    artifact_dir,
    clear_family,
    serve_at_rest,
)


def test_store_is_warehouse_relative(sf_dir):
    """No /tmp literal of its own: the store root follows the warehouse
    env var, so redeploying the warehouse moves the indexes with it."""
    fixture = os.path.join(sf_dir, "documents.parquet")
    old = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    try:
        os.environ["SPARK_GRAFT_WAREHOUSE"] = "/tmp/cdw_wh_probe"
        d = artifact_dir("probe", fixture, "v1", "SELECT 1")
        assert d.startswith("/tmp/cdw_wh_probe/indexes/probe/")
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_WAREHOUSE", None)
        else:
            os.environ["SPARK_GRAFT_WAREHOUSE"] = old


def test_key_folds_in_version_and_spec_text(sf_dir):
    """ADVICE r10 #2: the content key must change when EITHER the version
    tag or the semantic-spec text changes — a forgotten version bump on a
    construction edit still mints a new artifact."""
    fixture = os.path.join(sf_dir, "documents.parquet")
    base = artifact_dir("probe", fixture, "v1", "SELECT 1")
    assert artifact_dir("probe", fixture, "v2", "SELECT 1") != base
    assert artifact_dir("probe", fixture, "v1", "SELECT 2") != base
    # same inputs -> same key (cache actually hits)
    assert artifact_dir("probe", fixture, "v1", "SELECT 1") == base
    # all keys for one fixture share a parent dir (the GC sweep scope)
    assert os.path.dirname(artifact_dir("probe", fixture, "v2", "SELECT 1")) == (
        os.path.dirname(base)
    )


def test_stale_artifact_rebuilt_and_swept(spark, sf_dir):
    """A version bump (or fixture regen / spec edit) must (a) rebuild
    under the new key and (b) remove the orphaned old build — artifacts
    may not accumulate forever (VERDICT r10 #5)."""
    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("gc_probe")
    build_calls = []

    def build():
        build_calls.append(1)
        return spark.read.parquet(fixture).select("r_regionkey")

    try:
        d1 = artifact_dir("gc_probe", fixture, "v1", "spec-a")
        out1 = serve_at_rest(spark, "gc_probe", fixture, "v1", "spec-a", build)
        n1 = out1.count()  # materialize before the sweep invalidates d1
        assert n1 > 0
        assert os.path.exists(os.path.join(d1, "_SUCCESS"))
        assert build_calls == [1]

        # warm path: same key, no rebuild
        serve_at_rest(spark, "gc_probe", fixture, "v1", "spec-a", build).count()
        assert build_calls == [1]

        # stale path: bumped version -> new key built, old key swept
        d2 = artifact_dir("gc_probe", fixture, "v2", "spec-a")
        out2 = serve_at_rest(spark, "gc_probe", fixture, "v2", "spec-a", build)
        assert out2.count() == n1
        assert build_calls == [1, 1]
        assert os.path.exists(os.path.join(d2, "_SUCCESS"))
        assert not os.path.exists(d1), "orphaned stale artifact not swept"
    finally:
        clear_family("gc_probe")


def test_lost_race_serves_winner_artifact(spark, sf_dir, monkeypatch):
    """ADVICE r10 #3 (race half): when the atomic rename fails because
    another builder already published, the loser must discard its tmp and
    serve the winner's artifact."""
    import cdw_spark.operators.artifacts as arts

    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("race_probe")

    def build():
        return spark.read.parquet(fixture).select("r_regionkey")

    try:
        d = artifact_dir("race_probe", fixture, "v1", "spec")
        real_rename = os.rename

        def racing_rename(src, dst):
            if dst == d:
                # simulate the winner publishing first, then fail the
                # loser's rename the way a non-empty target does
                real_rename(src, dst)
                raise OSError("Directory not empty")
            return real_rename(src, dst)

        monkeypatch.setattr(arts.os, "rename", racing_rename)
        out = serve_at_rest(spark, "race_probe", fixture, "v1", "spec", build)
        assert out.count() > 0
        assert os.path.exists(os.path.join(d, "_SUCCESS"))
        # the loser's tmp dir was discarded
        parent = os.path.dirname(d)
        assert [n for n in os.listdir(parent) if ".tmp" in n] == []
    finally:
        clear_family("race_probe")


def test_abandoned_tmp_dirs_reclaimed(spark, sf_dir):
    """ADVICE r11: a crashed builder's ``<key>.tmp<pid>`` dir (owner pid
    dead) must be reclaimed by the next build's orphan sweep, while a
    LIVE builder's tmp dir must survive it."""
    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("tmp_probe")

    def build():
        return spark.read.parquet(fixture).select("r_regionkey")

    try:
        d = artifact_dir("tmp_probe", fixture, "v1", "spec")
        parent = os.path.dirname(d)
        os.makedirs(parent, exist_ok=True)
        # a tmp dir from a pid that no longer exists (max pid + unlikely)
        dead = os.path.join(parent, "deadkey.tmp999999999")
        os.makedirs(dead)
        # a tmp dir owned by THIS live process
        live = os.path.join(parent, f"livekey.tmp{os.getpid()}")
        os.makedirs(live)
        serve_at_rest(spark, "tmp_probe", fixture, "v1", "spec", build).count()
        assert not os.path.exists(dead), "dead builder tmp not reclaimed"
        assert os.path.exists(live), "live builder tmp wrongly swept"
    finally:
        clear_family("tmp_probe")


def test_real_publish_failure_raises(spark, sf_dir, monkeypatch):
    """ADVICE r10 #3 (failure half): a rename failure with NO winner
    artifact present (permissions, cross-device move) must re-raise
    instead of silently discarding the build and failing later with a
    misleading path-not-found."""
    import cdw_spark.operators.artifacts as arts

    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("fail_probe")

    def build():
        return spark.read.parquet(fixture).select("r_regionkey")

    try:

        def broken_rename(src, dst):
            raise OSError("Invalid cross-device link")

        monkeypatch.setattr(arts.os, "rename", broken_rename)
        with pytest.raises(OSError, match="cross-device"):
            serve_at_rest(spark, "fail_probe", fixture, "v1", "spec", build)
    finally:
        clear_family("fail_probe")


def test_artifact_key_is_unchanged_by_the_shared_identity_helper(sf_dir):
    """The content key still hashes ``abspath|size|mtime_ns|version|spec``
    byte for byte, so artifacts published before catalog.file_identity
    existed keep hitting."""
    import hashlib

    fixture = os.path.join(sf_dir, "documents.parquet")
    p = os.path.abspath(fixture)
    st = os.stat(p)
    spec_h = hashlib.sha256(b"SELECT 1").hexdigest()[:16]
    key = f"{p}|{st.st_size}|{st.st_mtime_ns}|v1|{spec_h}"
    assert os.path.basename(artifact_dir("probe", fixture, "v1", "SELECT 1")) == (
        hashlib.sha256(key.encode()).hexdigest()[:16]
    )


def test_hit_starts_no_job_and_matches_footer_read(spark, sf_dir):
    """A hit serves the published directory with its schema known — the
    build's on the building call, the footers' once per process after —
    so it starts no Spark job, and rows and schema equal a footer read
    (including nullability the build declared non-nullable)."""
    from pyspark.sql import functions as F

    from cdw_spark.catalog import forget_schemas

    fixture = os.path.join(sf_dir, "region.parquet")
    clear_family("hit_probe")

    def build():
        return spark.range(5).withColumn("x", F.array(F.col("id") * 2))

    try:
        d = artifact_dir("hit_probe", fixture, "v1", "spec")
        built = serve_at_rest(spark, "hit_probe", fixture, "v1", "spec", build)
        footer = spark.read.parquet(d)
        assert built.schema == footer.schema
        for forget in (False, True):
            if forget:
                # a fresh process: the first hit reads the footers once
                forget_schemas(d)
                serve_at_rest(spark, "hit_probe", fixture, "v1", "spec", build)
            jobs = spark.sparkContext._jsc.sc().dagScheduler()
            before = jobs.numTotalJobs()
            hit = serve_at_rest(spark, "hit_probe", fixture, "v1", "spec", build)
            assert jobs.numTotalJobs() == before
            assert hit.schema == footer.schema
            assert sorted(hit.collect()) == sorted(footer.collect())
    finally:
        clear_family("hit_probe")
