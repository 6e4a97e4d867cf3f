"""Run-scoped persist lifecycle (caching.py)."""

from __future__ import annotations

from advanced_strapi_import_spark import caching


def test_persist_tracked_release(spark):
    df = caching.persist_tracked(spark.range(10))
    df.count()
    assert df.storageLevel.useMemory
    released = caching.release_tracked()
    assert released >= 1
    assert not df.storageLevel.useMemory
    # releasing again is a no-op, not an error
    assert caching.release_tracked() == 0


def test_registry_query_releases_previous(spark, tmp_path):
    """Invoking any registry query frees the prior query's tracked
    persists — the safety net for harnesses that never call release."""
    import advanced_strapi_import_spark.plans.all  # noqa: F401
    from advanced_strapi_import_spark.plans.registry import QUERIES
    from tests.conftest import SF_TEST

    leftover = caching.persist_tracked(spark.range(5))
    leftover.count()
    assert leftover.storageLevel.useMemory
    QUERIES["dedup_exact_groups"].fn(spark, SF_TEST).count()
    assert not leftover.storageLevel.useMemory
    caching.release_tracked()


def test_release_all_clears_shared_band_cache(spark):
    import advanced_strapi_import_spark.plans.all  # noqa: F401
    from advanced_strapi_import_spark.plans import parity_ml as ML
    from tests.conftest import SF_TEST

    bands = ML._shared_bands(spark, SF_TEST)
    bands.count()
    assert ML._SHARED  # populated
    caching.release_all()
    assert not ML._SHARED
    assert not bands.storageLevel.useMemory


def test_checkpoint_tracked_local_default_and_release(spark):
    """Default path: checkpoint_tracked = eager localCheckpoint, and
    release_tracked drops this module's references (blocks themselves
    are ContextCleaner-reclaimed — documented contract)."""
    df = caching.checkpoint_tracked(spark.range(7).selectExpr("id * 2 AS x"))
    # lineage truncated: the plan is a scan of checkpointed RDD rows
    assert "ExistingRDD" in df._jdf.queryExecution().analyzed().toString() \
        or "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()
    assert [r.x for r in df.orderBy("x").collect()] == [0, 2, 4, 6, 8, 10, 12]
    assert caching._CHECKPOINTED
    caching.release_tracked()
    assert not caching._CHECKPOINTED
    # the frame stays readable after the sweep (references dropped,
    # blocks not destroyed)
    assert df.count() == 7


def test_checkpoint_tracked_reliable_switch(spark, tmp_path):
    """RELIABLE_CHECKPOINT_CONF=true routes through Dataset.checkpoint:
    requires a checkpoint dir (raises without one), writes into it, and
    returns the same rows."""
    import pytest

    sc = spark.sparkContext
    had_dir = sc.getCheckpointDir()
    spark.conf.set(caching.RELIABLE_CHECKPOINT_CONF, "true")
    try:
        if had_dir is None:
            with pytest.raises(ValueError, match="checkpoint"):
                caching.checkpoint_tracked(spark.range(3))
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        df = caching.checkpoint_tracked(
            spark.range(5).selectExpr("id + 1 AS x")
        )
        assert sorted(r.x for r in df.collect()) == [1, 2, 3, 4, 5]
        import os

        found = any(
            files
            for _, _, files in os.walk(str(tmp_path / "ckpt"))
        )
        assert found, "reliable checkpoint wrote nothing to the dir"
    finally:
        spark.conf.set(caching.RELIABLE_CHECKPOINT_CONF, "false")
        caching.release_tracked()
        # put the previous dir (or none) back verbatim: setCheckpointDir
        # would nest a fresh subdirectory, and leaving tmp_path set would
        # send every later reliable checkpoint of the session to a path
        # pytest deletes
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(had_dir)
        )
        assert sc.getCheckpointDir() == had_dir


def test_load_events_memo_is_conf_aware(spark):
    """The events scan memo folds nanosAsLong into its key: a load()
    issued under a different conf value cannot be served a plan built
    under the other setting (r12 VERDICT hardening)."""
    from advanced_strapi_import_spark.plans.registry import load
    from tests.conftest import SF_TEST

    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        a = load(spark, SF_TEST, "events")
        b = load(spark, SF_TEST, "events")
        assert a is b
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        c = load(spark, SF_TEST, "events")
        assert c is not a
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def test_tune_is_memoized_per_session(spark):
    """tune() pays its 8 conf.set py4j round trips once per
    session — the query entry point binds it into every query invocation
    (r13, VERDICT r12 task 2). Semantics pinned here: a repeat call on
    a tuned session is a no-op (it must NOT fight a harness that
    adjusted a conf mid-suite); a fresh memo re-applies."""
    from advanced_strapi_import_spark import session as S

    S._TUNED.clear()
    S.tune(spark)
    app = spark.sparkContext.applicationId
    assert (id(spark._jsparkSession), app) in S._TUNED
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        S.tune(spark)  # memo hit: leaves the harness's value alone
        assert spark.conf.get("spark.sql.session.timeZone") == (
            "America/New_York"
        )
        S._TUNED.clear()
        S.tune(spark)  # fresh memo: re-applies UTC
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # a newSession() clone shares the applicationId but not the SQL
        # conf: the memo must not mistake it for the tuned original
        clone = spark.newSession()
        clone.conf.set("spark.sql.session.timeZone", "America/New_York")
        S.tune(clone)
        assert clone.sparkContext.applicationId == app
        assert clone.conf.get("spark.sql.session.timeZone") == "UTC"
        assert (id(clone._jsparkSession), app) in S._TUNED
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_load_memoizes_scan_plan_per_file_state(spark, tmp_path):
    """registry.load memoizes the UNEXECUTED scan DataFrame per
    (session, path, mtime, size) — plan-object reuse, never data: a
    rewritten file (new mtime/size) must produce a fresh plan with the
    new schema, and repeated loads of an unchanged file return the
    identical object (the ~100 ms listing+footer probe paid once)."""
    import os
    import time

    from advanced_strapi_import_spark.plans.registry import load
    from tests.conftest import SF_TEST

    a = load(spark, SF_TEST, "lineitem")
    b = load(spark, SF_TEST, "lineitem")
    assert a is b

    p = tmp_path / "t.parquet"
    spark.range(3).toDF("x").coalesce(1).write.mode("overwrite").parquet(str(p) + ".d")
    # single-FILE table: move one part file to the memoizable layout
    part = next(
        f for f in os.listdir(str(p) + ".d") if f.endswith(".parquet")
    )
    os.replace(os.path.join(str(p) + ".d", part), p)
    first = load(spark, str(tmp_path), "t")
    assert first.columns == ["x"]
    assert load(spark, str(tmp_path), "t") is first

    time.sleep(0.05)  # distinct mtime_ns even on coarse filesystems
    spark.range(3).selectExpr("id AS y").coalesce(1).write.mode(
        "overwrite"
    ).parquet(
        str(p) + ".d2"
    )
    part2 = next(
        f for f in os.listdir(str(p) + ".d2") if f.endswith(".parquet")
    )
    os.replace(os.path.join(str(p) + ".d2", part2), p)
    fresh = load(spark, str(tmp_path), "t")
    assert fresh is not first
    assert fresh.columns == ["y"]
    assert [r.y for r in fresh.orderBy("y").collect()] == [0, 1, 2]
