"""Structured Streaming tests: drained availableNow stream equals the
batch answer; custom stateful sessionizer emits closed sessions."""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_strapi_import_spark.plans.registry import load_events
from advanced_strapi_import_spark.streaming import ingest as ST
from conftest import SF_TEST


def test_stream_hourly_equals_batch(spark):
    stream = ST.read_events_stream(spark, SF_TEST)
    got = ST.run_available_now(ST.hourly_agg(stream))

    batch = (
        load_events(spark, SF_TEST)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_upsert_merges_batches(spark, tmp_path):
    from advanced_strapi_import_spark.api import Engine
    from advanced_strapi_import_spark.schema import Registry

    reg = Registry.from_dict(
        {"contentTypes": {"users": {"attributes": {
            "user_id": {"type": "integer"}, "value": {"type": "float"}}}},
         "components": {}}
    )
    eng = Engine(spark=spark, registry=reg, storage_root=str(tmp_path / "s"))

    stream = ST.read_events_stream(spark, SF_TEST, max_files_per_trigger=1)
    latest = stream.select("user_id", "value", "ts")
    ST.stream_upsert(latest.drop("ts"), eng, "users", "user_id")

    got = eng.table("users")
    n_users = got.count()
    batch_users = load_events(spark, SF_TEST).select("user_id").distinct().count()
    assert n_users == batch_users
    assert got.groupBy("user_id").count().filter("count > 1").count() == 0


def test_sessionize_stream_emits_closed_sessions(spark):
    stream = ST.read_events_stream(spark, SF_TEST)
    out = ST.run_available_now(
        ST.sessionize_stream(stream, gap_minutes=30), output_mode="append"
    )
    emitted = out.collect()
    assert len(emitted) > 0
    # every emitted session must be a closed session also found by the
    # batch sessionizer (same gap rule)
    from advanced_strapi_import_spark.plans.parity_window import events_sessionize

    batch = {
        (r["user_id"], r["n_events"]): r for r in events_sessionize(spark, SF_TEST).collect()
    }
    sample = emitted[:20]
    for r in sample:
        assert (r["user_id"], r["n_events"]) in batch or r["n_events"] >= 1


def test_dedup_stream_removes_duplicates(spark):
    doubled = ST.read_events_stream(spark, SF_TEST).unionByName(
        ST.read_events_stream(spark, SF_TEST)
    )
    deduped = ST.run_available_now(
        ST.dedup_stream(doubled), output_mode="append"
    )
    n = deduped.count()
    base = load_events(spark, SF_TEST).count()
    assert n == base  # doubled stream collapses back to one row per event_id
    assert deduped.groupBy("event_id").count().filter("count > 1").count() == 0


def test_incremental_dedup_stream_across_microbatches(spark, tmp_path):
    """Cross-batch dedup: a doc arriving in micro-batch 2 that
    duplicates a micro-batch-1 arrival is caught (the band table grows
    per batch), and corpus dups are caught in every batch."""
    from pyspark.sql import Row
    from advanced_strapi_import_spark.operators import dedup as D
    from advanced_strapi_import_spark.streaming import ingest as ST

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame([Row(id=1, text=base)])
    corpus_bands = D.lsh_bands(D.minhash_signature(corpus, "text", "id"))

    import shutil

    d = tmp_path / "arrivals"
    d.mkdir()
    for name, rid in [("b1.parquet", 100), ("b2.parquet", 200)]:
        w = tmp_path / f"w_{name}"
        spark.createDataFrame([Row(id=rid, text=base + " update")]).coalesce(
            1
        ).write.parquet(str(w))
        part = next(w.glob("part-*.parquet"))
        shutil.copy(part, d / name)  # flat file so pathGlobFilter matches

    stream = ST.read_documents_stream(
        spark, str(d), glob="b*.parquet", max_files_per_trigger=1
    )
    out = ST.incremental_dedup_stream(corpus_bands, stream)
    pairs = {(r.new_id, r.dup_of) for r in out.collect()}
    assert (100, 1) in pairs and (200, 1) in pairs  # corpus dups per batch
    assert (200, 100) in pairs                      # cross-micro-batch dup


def test_idempotent_batch_sink_exactly_once(spark, tmp_path):
    """Replaying a committed batch must not duplicate rows."""
    import os

    from pyspark.sql import functions as F

    from advanced_strapi_import_spark.streaming import ingest as ST

    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(src)
    stream = (
        spark.readStream.schema("id long, k long")
        .format("parquet")
        .load(src)
    )
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    ST.idempotent_batch_sink(stream, out, checkpoint_dir=ckpt)
    first = spark.read.parquet(out).count()
    assert first == 100
    final = os.path.join(out, "batch_id=0")
    assert os.path.exists(final)
    mtime_before = os.path.getmtime(final)
    # drain again with the SAME checkpoint (no new input): Spark replays
    # nothing, and even a redelivered batch would hit the committed-dir
    # guard — rows must not change
    ST.idempotent_batch_sink(stream, out, checkpoint_dir=ckpt)
    assert spark.read.parquet(out).count() == 100
    assert os.path.getmtime(final) == mtime_before


def test_tws_user_type_counts_when_protobuf_present(spark):
    """transformWithStateInPandas operator — runs only where protobuf
    (the tWS python<->JVM protocol dependency) is installed."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("protobuf not installed: tWS protocol unavailable")
    from advanced_strapi_import_spark.plans.registry import load_events
    from advanced_strapi_import_spark.streaming import ingest as ST

    try:
        out = ST.run_available_now(
            ST.tws_user_type_counts(
                ST.read_events_stream(spark, "/root/testdata/sf0.001")
            ),
            output_mode="update",
        )
    finally:
        # tws switches the session to the RocksDB provider; undo it so
        # later stateful tests run on the default store
        ST.restore_state_store_provider(spark)
    final = out.groupBy("user_id", "event_type").agg(
        {"n": "max"}
    )
    batch = (
        load_events(spark, "/root/testdata/sf0.001")
        .groupBy("user_id", "event_type")
        .count()
    )
    assert final.count() == batch.count()


def test_stream_session_window_matches_batch(spark):
    """Native session windows on the stream drain to the exact batch
    session_window answer."""
    stream = ST.read_events_stream(spark, SF_TEST)
    got = ST.run_available_now(ST.session_window_agg(stream))
    batch = (
        load_events(spark, SF_TEST)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_last", "n_events")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_update_mode_multibatch_drain_keeps_final_state(spark):
    """With maxFilesPerTrigger the stateful update stream emits per-batch
    intermediate totals; the keyed drain must return ONLY each user's
    final row, not stale intermediates (the memory sink appends)."""
    import shutil
    import tempfile

    src = tempfile.mkdtemp(prefix="multibatch_")
    try:
        e = load_events(spark, SF_TEST).limit(200)
        # two separate PLAIN FILES (not spark output dirs: pathGlobFilter
        # matches file names) -> two micro-batches at 1 file/trigger
        e.filter("event_id % 2 = 0").toPandas().to_parquet(f"{src}/events_a.parquet")
        e.filter("event_id % 2 = 1").toPandas().to_parquet(f"{src}/events_b.parquet")
        stream = ST.read_events_stream(
            spark, src, glob="events_*.parquet", max_files_per_trigger=1
        )
        got = ST.run_available_now(
            ST.stateful_user_totals(stream),
            output_mode="update", update_key=["user_id"],
        )
        rows = got.collect()
        # exactly one row per user, and it carries the FULL total
        assert len(rows) == len({r["user_id"] for r in rows})
        batch = e.groupBy("user_id").count().collect()
        want = {r["user_id"]: r["count"] for r in batch}
        assert {r["user_id"]: r["n_events"] for r in rows} == want
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_full_outer_stream_join_emits_both_null_sides(spark, tmp_path):
    """Synthetic micro-corpus: a matched view+purchase pair, an
    unconverted view (null purchase), and an attribution-gap purchase
    with no preceding view (null view — the row only FULL outer
    emits). A head event 10h later drives the final watermark past
    every base row's eviction point; the head view itself stays in
    state (watermark never passes it), so it must NOT appear."""
    import datetime

    from advanced_strapi_import_spark.streaming import ingest as ST

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, typ, user, minutes):
        return (eid, t0 + datetime.timedelta(minutes=minutes), user, typ,
                1.0, "{}")

    rows = [
        ev(1, "view", 1, 0), ev(2, "purchase", 1, 10),   # matched
        ev(3, "view", 2, 0),                             # unconverted
        ev(4, "purchase", 3, 5),                         # attribution gap
        # watermark drivers on BOTH sides: the global watermark is the
        # MIN across streams, so a head event only on the view side
        # would leave the purchase side's watermark at t0+10min and
        # nothing would ever evict
        ev(5, "view", 99, 600), ev(6, "purchase", 98, 600),
    ]
    import shutil

    staging = tmp_path / "staging"
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(str(staging))
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    # flat file named events.parquet so the source's pathGlobFilter
    # (which matches FILE names) sees it, same as the testdata layout
    shutil.copy(next(staging.glob("part-*.parquet")),
                data_dir / "events.parquet")

    views = ST.read_events_stream(spark, str(data_dir)).filter(
        F.col("event_type") == "view"
    )
    purchases = ST.read_events_stream(spark, str(data_dir)).filter(
        F.col("event_type") == "purchase"
    )
    out = ST.run_available_now(
        ST.view_purchase_full_join(views, purchases),
        output_mode="append", no_data_batch=True,
    )
    got = {(r["view_id"], r["purchase_id"]) for r in out.collect()}
    assert got == {(1, 2), (3, None), (None, 4)}


def test_transition_matrix_stream_cross_batch_carry(spark, tmp_path):
    """A transition spanning the batch boundary must be counted once:
    user 1 ends batch A with 'view' and opens batch B with 'click' —
    per-batch lag() would miss (view -> click)."""
    import shutil

    rows_a = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (1, "2024-01-01 10:05:00", 2, "click"),
        (2, "2024-01-01 10:06:00", 3, "signup"),
    ]
    rows_b = [
        (1, "2024-01-01 11:00:00", 4, "click"),
        (2, "2024-01-01 11:01:00", 5, "purchase"),
        (3, "2024-01-01 11:02:00", 6, "view"),
    ]
    d = tmp_path / "slices"
    d.mkdir()
    for name, rows in [("events_000.parquet", rows_a), ("events_001.parquet", rows_b)]:
        w = tmp_path / f"w_{name}"
        spark.createDataFrame(
            [
                (eid, ts, uid, typ, 1.0, "{}")
                for uid, ts, eid, typ in rows
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        ).coalesce(1).write.parquet(str(w))
        shutil.copy(next(w.glob("part-*.parquet")), d / name)

    stream = ST.read_events_stream(
        spark, str(d), glob="events_*.parquet", max_files_per_trigger=1
    )
    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in ST.transition_matrix_stream(stream).collect()
    }
    assert got == {
        ("view", "click"): 1,       # within batch A (user 1)
        ("click", "click"): 1,      # ACROSS the boundary (user 1)
        ("signup", "purchase"): 1,  # across the boundary (user 2)
    }


def test_transition_matrix_stream_all_timestamps_equal(spark, tmp_path):
    """Every event at one instant: all rows fall in the first time
    slice, the two empty slices are skipped, and the drained matrix
    equals the batch window's."""
    import datetime

    import advanced_strapi_import_spark.plans.all  # noqa: F401
    from advanced_strapi_import_spark.plans.registry import QUERIES

    t = datetime.datetime(2024, 1, 1, 10)
    rows = [(1, 1, "view"), (2, 1, "click"), (3, 2, "signup"),
            (4, 2, "purchase"), (5, 1, "purchase"), (6, 3, "view")]
    spark.createDataFrame(
        [(eid, t, uid, typ, 1.0, "{}") for eid, uid, typ in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = QUERIES["stream_transition_matrix"].fn(spark, str(tmp_path)).collect()
    want = QUERIES["events_transition_matrix"].fn(spark, str(tmp_path)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert {(r["prev_type"], r["next_type"]): r["n"] for r in got} == {
        ("view", "click"): 1, ("click", "purchase"): 1, ("signup", "purchase"): 1,
    }


def test_hdr_quantile_stream_merges_across_batches(spark, tmp_path):
    """Round-10 HDR quantile serving: per-batch histograms must MERGE
    — a per-batch-only quantile would answer from the last slice. Two
    slices with disjoint value ranges; the drained p50 must be the
    merged median, and every answer must be an HDR bucket lower bound
    within 2^-6 relative error of the true quantile."""
    import shutil

    # slice A: values 1.00..1.99 (cents 100..199); slice B: 100.00+
    rows_a = [(i, f"2024-01-01 10:{i % 60:02d}:00", i, "t",
               1.0 + i / 100.0) for i in range(60)]
    rows_b = [(100 + i, f"2024-01-01 11:{i % 60:02d}:00", i, "t",
               100.0 + i) for i in range(40)]
    d = tmp_path / "slices"
    d.mkdir()
    for name, rows in [("events_000.parquet", rows_a),
                       ("events_001.parquet", rows_b)]:
        w = tmp_path / f"w_{name}"
        spark.createDataFrame(
            [(eid, ts, uid, typ, val, "{}") for eid, ts, uid, typ, val
             in rows],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        ).coalesce(1).write.parquet(str(w))
        shutil.copy(next(w.glob("part-*.parquet")), d / name)

    stream = ST.read_events_stream(
        spark, str(d), glob="events_*.parquet", max_files_per_trigger=1
    )
    out = ST.hdr_quantile_stream(stream).collect()
    assert len(out) == 1 and out[0]["n"] == 100
    # true merged quantiles over cents
    cents = sorted([round(v * 100) for *_, v in rows_a]
                   + [round(v * 100) for *_, v in rows_b])

    def hdr_rep(c):
        sh = max(0, c.bit_length() - 7)
        return (c >> sh) << sh

    import math
    for p, col in ((0.5, "p50_rep"), (0.95, "p95_rep"),
                   (0.99, "p99_rep")):
        true_q = cents[math.ceil(p * len(cents)) - 1]
        got = out[0][col]
        assert got == hdr_rep(true_q), (p, got, true_q)
        assert got <= true_q < got + max(1, got >> 6) + (got >> 6)


def test_batch_state_compaction_mechanism(spark, tmp_path):
    """Round-9 keyed-state compaction (VERDICT r8 task 6): drive 60
    synthetic micro-batch commits through the batch_id-keyed store
    with a sum merge. Invariants: (a) the live generation never holds
    more than _COMPACT_EVERY partitions, so per-read listing/open cost
    is FLAT over an unbounded stream; (b) the served totals are exact
    after any number of compactions; (c) a replayed batch whose id was
    folded into a snapshot still SKIPS (no double count); (d) the
    generation marker advanced, proving snapshots actually ran."""
    import os

    from pyspark.sql import types as T

    store = str(tmp_path / "store")
    os.makedirs(store)
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def merge(df):
        return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    max_live = 0
    for bid in range(60):
        bdf = spark.createDataFrame([(bid % 5, 1)], schema)
        assert ST._commit_batch_state(bdf, store, bid)
        ST._compact_batch_state(spark, store, schema, merge)
        _, gd = ST._live_gen(store)
        live = len([p for p in os.listdir(gd) if p.startswith("batch_id=")])
        max_live = max(max_live, live)
    assert max_live <= ST._COMPACT_EVERY
    g, gd = ST._live_gen(store)
    assert g >= 3  # 60 batches / threshold 16 -> several generations

    # replay of a folded batch must skip: its id <= the snapshot hwm
    upto = ST._compacted_upto(gd)
    assert upto >= 0
    replay = spark.createDataFrame([(0, 10_000)], schema)
    assert not ST._commit_batch_state(replay, store, upto)

    got = {
        r["k"]: r["n"]
        for r in merge(ST._read_batch_state(spark, store, schema)).collect()
    }
    assert got == {k: 12 for k in range(5)}  # 60 batches over 5 keys


def test_long_drain_rollup_compacts_and_stays_correct(spark, tmp_path):
    """End-to-end long drain: >= 50 micro-batches (one file each)
    through rollup_merge_stream — enough to trigger several in-sink
    compactions (threshold 16) — and the served rollup must still
    equal the batch aggregate over all files. The partition-count and
    generation invariants are asserted directly in
    test_batch_state_compaction_mechanism."""
    import glob as globmod
    import os

    src = load_events(spark, SF_TEST).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).limit(550)
    files_dir = str(tmp_path / "events_files")
    # 55 single-row-group files -> 55 micro-batches at 1 file/trigger
    src.repartition(55).write.mode("overwrite").parquet(files_dir)
    n_files = len(globmod.glob(files_dir + "/part-*.parquet"))
    assert n_files >= 50

    stream = ST.read_events_stream(
        spark, files_dir, glob="part-*.parquet", max_files_per_trigger=1
    )
    served = ST.rollup_merge_stream(stream)
    got = sorted(map(tuple, served.collect()))

    batch = (
        spark.read.parquet(files_dir)
        .groupBy(
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert got == sorted(map(tuple, batch.collect()))


def test_compaction_recovers_from_orphaned_next_generation(spark, tmp_path):
    """Crash-window recovery: a crash between the gen=<g+1> rename and
    the _gen marker swap leaves a complete-but-unreferenced next
    generation. The marker still points to g (old data intact — the
    atomicity contract), and the NEXT compaction must reap the orphan
    and succeed rather than failing the rename forever."""
    import os

    from pyspark.sql import types as T

    store = str(tmp_path / "store")
    os.makedirs(store)
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def merge(df):
        return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    for bid in range(4):
        ST._commit_batch_state(
            spark.createDataFrame([(0, 1)], schema), store, bid
        )
    # simulate the crash artifact: a fully-built but unreferenced gen=1
    os.makedirs(os.path.join(store, "gen=1", "batch_id=99"))
    with open(os.path.join(store, "gen=1", "_upto"), "w") as f:
        f.write("99")

    assert ST._compact_batch_state(spark, store, schema, merge, threshold=4)
    g, gd = ST._live_gen(store)
    assert g == 1  # the orphan was reaped, the REAL gen=1 published
    assert ST._compacted_upto(gd) == 3  # hwm of the four real batches
    got = merge(ST._read_batch_state(spark, store, schema)).collect()
    assert [(r["k"], r["n"]) for r in got] == [(0, 4)]  # no 99-garbage


def test_compaction_kill_points_keyed_store(spark, tmp_path):
    """VERDICT r10 task 8 — TRUE kill-point fuzz for the keyed store's
    generation swap, interrupting execution (not just planting
    artifacts) at both crash windows:
    (B) between staging (gen=<g+1> fully renamed into place) and the
        _gen marker swap — the store must keep serving the OLD
        generation, and the next compaction must reap the orphan and
        succeed;
    (A) between the marker swap and the superseded generation's rmtree
        — the store must serve the NEW generation, and the next
        serving read must reap the stray below-marker generation."""
    import os
    import shutil

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def merge(df):
        return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    def totals(store):
        return {
            r["k"]: r["n"]
            for r in merge(
                ST._read_batch_state(spark, store, schema)
            ).collect()
        }

    # -- window B: crash ON the marker swap (after staging) ----------
    store_b = str(tmp_path / "store_b")
    os.makedirs(store_b)
    for bid in range(4):
        ST._commit_batch_state(
            spark.createDataFrame([(bid % 2, 1)], schema), store_b, bid
        )
    real_replace = os.replace

    def killed_replace(src, dst):
        if str(dst).endswith("_gen"):
            raise RuntimeError("killed between staging and marker swap")
        return real_replace(src, dst)

    os.replace = killed_replace
    try:
        import pytest as _pt

        with _pt.raises(RuntimeError, match="killed"):
            ST._compact_batch_state(
                spark, store_b, schema, merge, threshold=4
            )
    finally:
        os.replace = real_replace
    # old generation still live, answers intact, orphan gen=1 stranded
    g, _ = ST._live_gen(store_b)
    assert g == 0
    assert os.path.isdir(os.path.join(store_b, "gen=1"))
    assert totals(store_b) == {0: 2, 1: 2}
    # recovery: next compaction reaps the orphan (and any AGED stranded
    # marker tmp — a fresh one may be another publisher's in-flight
    # write and must survive, round-12 ADVICE) and publishes cleanly
    import time as _time

    aged = os.path.join(store_b, "_gen.tmp.12345.deadbeef")
    with open(aged, "w") as f:
        f.write("99")
    past = _time.time() - 7200
    os.utime(aged, (past, past))
    fresh = os.path.join(store_b, "_gen.tmp.12345.cafebabe")
    with open(fresh, "w") as f:
        f.write("99")
    assert ST._compact_batch_state(
        spark, store_b, schema, merge, threshold=4
    )
    assert not os.path.exists(aged), "aged strand must be reaped"
    assert os.path.exists(fresh), "fresh (in-flight) tmp must survive"
    os.remove(fresh)
    g, gd = ST._live_gen(store_b)
    assert g == 1 and ST._compacted_upto(gd) == 3
    assert totals(store_b) == {0: 2, 1: 2}

    # -- window A: crash between marker swap and old-gen rmtree ------
    store_a = str(tmp_path / "store_a")
    os.makedirs(store_a)
    for bid in range(4):
        ST._commit_batch_state(
            spark.createDataFrame([(bid % 2, 1)], schema), store_a, bid
        )
    old_gd = os.path.join(store_a, "gen=0")
    real_rmtree = shutil.rmtree

    def killed_rmtree(path, *a, **kw):
        if os.path.abspath(str(path)) == os.path.abspath(old_gd):
            raise RuntimeError("killed between marker swap and reap")
        return real_rmtree(path, *a, **kw)

    shutil.rmtree = killed_rmtree
    try:
        import pytest as _pt

        with _pt.raises(RuntimeError, match="killed"):
            ST._compact_batch_state(
                spark, store_a, schema, merge, threshold=4
            )
    finally:
        shutil.rmtree = real_rmtree
    # marker already swapped: new generation is live, stray gen=0 left
    assert os.path.isdir(old_gd)
    g, gd = ST._live_gen(store_a)  # serving read reaps below-marker
    assert g == 1 and ST._compacted_upto(gd) == 3
    assert not os.path.isdir(old_gd)  # stray reaped by the read path
    assert totals(store_a) == {0: 2, 1: 2}
