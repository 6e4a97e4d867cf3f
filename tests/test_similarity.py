"""ANN quality tests: multi-table LSH must recover most of the exact
top-k (recall is the accept criterion, since LSH is approximate by
design)."""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_strapi_import_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
)
from conftest import SF_ORACLE


def test_lsh_recall_against_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, emb, k=5).collect()}
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(q, emb, k=5, tables=8, planes=4).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.6, f"multi-table LSH recall degraded: {recall:.2f}"


def test_ivf_recall_against_bruteforce(spark):
    from advanced_strapi_import_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, emb, k=5).collect()}
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, emb, k=5, cells=16, nprobe=4).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.6, f"IVF recall degraded: {recall:.2f}"


def test_lsh_scores_match_bruteforce_on_hits(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(q, emb, k=5).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk_lsh(q, emb, k=5).collect()
    }
    for pair in set(exact) & set(lsh):
        assert exact[pair] == lsh[pair]  # same cosine, same rounding


def test_pq_topk_recall_and_determinism(spark):
    from advanced_strapi_import_spark.operators import similarity as S
    from tests.conftest import SF_TEST

    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 97 == 0)
    pq = S.pq_topk(qs, emb, k=5).select("query_id", "neighbor_id")
    brute = S.cosine_topk(qs, emb, k=5).select("query_id", "neighbor_id")
    hits = {r.query_id: r["count"] for r in
            pq.join(brute, ["query_id", "neighbor_id"], "left_semi")
              .groupBy("query_id").count().collect()}
    q_ids = [r.vec_id for r in qs.select("vec_id").collect()]
    recalls = [hits.get(q, 0) / 5 for q in q_ids]
    assert min(recalls) >= 0.2          # every query finds a true neighbor
    assert sum(recalls) / len(recalls) >= 0.5
    # seeded training: two runs give identical neighbor sets
    again = S.pq_topk(qs, emb, k=5).select("query_id", "neighbor_id")
    assert sorted(map(tuple, pq.collect())) == sorted(map(tuple, again.collect()))


def test_ivf_index_build_and_serve(spark, tmp_path):
    """Stored IVF index: build once, serve with partition-pruned cell
    reads; recall vs brute force stays high on the clustered data."""
    from advanced_strapi_import_spark.operators import similarity as S

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(corpus, idx, cells=8)
    queries = corpus.limit(5)
    approx = S.ivf_query_index(spark, idx, queries, k=5, nprobe=3)
    exact = S.cosine_topk(queries, corpus, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.6  # nprobe=3/8 recall floor
    # the serve plan must read only probed cell partitions
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_near_dup_zero_norm_vector_is_dropped_not_nan(spark):
    """A zero-norm embedding must yield NULL cos (dropped by the
    threshold filter), never NaN — NaN compares GREATER than any double
    in Spark, so it would pass `cos >= t` and report bogus matches."""
    from advanced_strapi_import_spark.operators.similarity import embedding_near_dup

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, [0.0] * 8)],
        "id long, embedding array<double>",
    )
    out = embedding_near_dup(
        df, threshold=0.9, vec_col="embedding", id_col="id",
        tables=4, planes=2, dims=8,
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]


def test_cosine_topk_wrong_width_vectors_absent_not_wrong(spark):
    """A vector whose width differs from `dims` must be absent from
    the ranking — never scored as a silently-truncated prefix cosine
    (and never an ANSI element_at error)."""
    from advanced_strapi_import_spark.operators.similarity import cosine_topk

    rows = [(1, [1.0] * 8), (2, [1.0] * 8), (3, [1.0] * 4), (4, [1.0] * 12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(df, df, k=5, dims=8).collect()
    ids = {r["query_id"] for r in out} | {r["neighbor_id"] for r in out}
    assert ids == {1, 2}


def test_mmr_rerank_greedy_and_small_pool(spark):
    from advanced_strapi_import_spark.operators import similarity as S

    # query 1: three candidates where the top-2 by relevance are near-
    # identical vectors — MMR must pick the diverse third at step 2.
    # cos values are the (pre-rounded) relevance scores; rank orders
    # them. Hand computation: sim(11,12)=1.0, sim(11,13)=0.0 ->
    # step-2 scores: cand12 = 0.7*0.98 - 0.3*1.0 = 0.386,
    # cand13 = 0.7*0.50 - 0.3*0.0 = 0.35 -> picks 12? No: 0.386 > 0.35
    # -> picks 12. Make the near-dup penalty bite: cos12=0.90 ->
    # cand12 = 0.7*0.90 - 0.3*1.0 = 0.33 < 0.35 -> picks 13.
    rows = [
        (1, 11, 0.98, 1, [1.0, 0.0, 0.0, 0.0]),
        (1, 12, 0.90, 2, [1.0, 0.0, 0.0, 0.0]),
        (1, 13, 0.50, 3, [0.0, 1.0, 0.0, 0.0]),
        # query 2: pool of ONE -> exactly one pick, no crash
        (2, 21, 0.70, 1, [0.0, 0.0, 1.0, 0.0]),
    ]
    cand = spark.createDataFrame(
        rows, "query_id bigint, neighbor_id bigint, cos double, rank int, "
              "__nv array<double>"
    )
    got = {
        (r["query_id"], r["mmr_rank"]): (r["vec_id"], r["mmr_score"])
        for r in S.mmr_rerank(cand).collect()
    }
    assert got[(1, 1)] == (11, 0.98)
    assert got[(1, 2)][0] == 13 and abs(got[(1, 2)][1] - 0.35) < 1e-9
    # step 3 takes the remaining near-dup with the max-sim penalty:
    # 0.7*0.90 - 0.3*max(sim(12,11)=1.0, sim(12,13)=0.0) = 0.33
    assert got[(1, 3)][0] == 12 and abs(got[(1, 3)][1] - 0.33) < 1e-9
    assert got[(2, 1)] == (21, 0.70)
    assert len(got) == 4


def test_ivf_probe_rank_prefix_derivation(spark):
    # the nprobe sweep's core claim: filtering a keep_probe_rank=True
    # nprobe=N pass on __probe_rank < n and re-ranking reproduces the
    # standalone nprobe=n result EXACTLY (probe lists are stable
    # argsort prefixes) — checked here on real data for n in {1, 2}
    from pyspark.sql import Window
    from advanced_strapi_import_spark.operators import similarity as S
    from advanced_strapi_import_spark.plans.registry import load

    emb = load(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    cand = S.ivf_topk(
        q, emb, k=None, cells=16, nprobe=4, keep_probe_rank=True
    ).persist()
    try:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id")
        )
        for n in (1, 2):
            derived = {
                (r["query_id"], r["neighbor_id"], r["__r"])
                for r in cand.filter(F.col("__probe_rank") < n)
                .withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= 5)
                .collect()
            }
            standalone = {
                (r["query_id"], r["neighbor_id"], r["rank"])
                for r in S.ivf_topk(q, emb, k=5, cells=16, nprobe=n)
                .select("query_id", "neighbor_id", "rank")
                .collect()
            }
            assert derived == standalone, f"nprobe={n}"
    finally:
        cand.unpersist()


def test_ivf_precomputed_centers_match_default(spark):
    # the centers= pass-through must reproduce the default in-call fit
    # exactly (same seeded k-means, same corpus) — the serve-path
    # contract for fitting once and probing many query batches
    from advanced_strapi_import_spark.operators import similarity as S
    from advanced_strapi_import_spark.plans.registry import load

    emb = load(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    centers = S._kmeans_centers(emb, "embedding", 16, 42)
    got = sorted(
        tuple(r)
        for r in S.ivf_topk(q, emb, k=5, cells=16, nprobe=4, centers=centers)
        .select("query_id", "neighbor_id", "rank")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in S.ivf_topk(q, emb, k=5, cells=16, nprobe=4)
        .select("query_id", "neighbor_id", "rank")
        .collect()
    )
    assert got == want and len(got) > 0


def test_kmeans_centers_independent_of_partitioning(spark):
    # the trainer sample is the first rows by id, so the seeded centers
    # must not move when the same corpus arrives in another partition
    # layout (fan_out repartitions to the core count)
    import numpy as np

    from advanced_strapi_import_spark.operators import similarity as S
    from tests.conftest import SF_TEST

    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    one = S._kmeans_centers(emb.repartition(1), "embedding", 16, 42)
    seven = S._kmeans_centers(emb.repartition(7), "embedding", 16, 42)
    assert one.shape == seven.shape and np.array_equal(one, seven)


def test_pq_topk_independent_of_partitioning(spark):
    # same rule for the PQ codebooks: the top-k must not depend on the
    # corpus's partition layout
    from advanced_strapi_import_spark.operators import similarity as S
    from tests.conftest import SF_TEST

    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 97 == 0)

    def topk(corpus):
        return sorted(
            tuple(r)
            for r in S.pq_topk(qs, corpus, k=5)
            .select("query_id", "neighbor_id", "rank")
            .collect()
        )

    one = topk(emb.repartition(1))
    assert one and one == topk(emb.repartition(7))


def test_lsh_index_build_and_serve(spark, tmp_path):
    """Stored LSH index: deterministic bucket function, partition-pruned
    serve, results equal a direct bucket-gated brute force."""
    from pyspark.sql import functions as F

    from advanced_strapi_import_spark.operators import similarity as S

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "lsh")
    S.build_lsh_index(corpus, idx, planes=4)
    queries = corpus.limit(5)
    served = S.lsh_query_index(spark, idx, queries, k=5, planes=4)
    # reference: same bucket gating computed inline
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    withb = corpus.select(
        "vec_id", dbl.alias("v"),
        S.lsh_bucket(dbl, planes=4, dims=64).alias("bucket"),
    )
    q = withb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    ref = (
        q.join(withb, "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            F.round(S.cosine(F.col("qv"), F.col("v"), 64), 6).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    ref_top = ref.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 5
    )
    got = sorted(map(tuple, served.select(
        "query_id", "neighbor_id", "cos", "rnk").collect()))
    want = sorted(map(tuple, ref_top.select(
        "query_id", "neighbor_id", "cos", "rnk").collect()))
    assert got == want and len(got) > 0
    # serve plan reads only probed bucket partitions
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def _max_files_per_bucket(vdir: str) -> int:
    import os

    worst = 0
    for b in os.listdir(vdir):
        if b.startswith("bucket="):
            worst = max(
                worst,
                sum(
                    1 for f in os.listdir(os.path.join(vdir, b))
                    if f.endswith(".parquet")
                ),
            )
    return worst


def test_lsh_index_append_compaction_bounds_files(spark, tmp_path):
    """50-batch drain (round 10, VERDICT r9 task 5): streamed appends
    into the LSH index's bucket partitions stay BOUNDED in per-bucket
    file count under the generation-swap compaction, and the served
    results after compaction equal one fresh rebuild over the same
    rows — compaction moves bytes, never answers."""
    import os

    from advanced_strapi_import_spark.operators import similarity as S

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    base = corpus.filter("vec_id % 2 = 0")
    idx = str(tmp_path / "lsh_c")
    S.build_lsh_index(base, idx, planes=4)

    # one shared embedding -> every batch lands in the SAME bucket, so
    # the worst-bucket file count provably crosses the threshold
    seed = corpus.filter("vec_id % 2 = 1").limit(1).collect()[0]
    rows = [(100000 + i, seed["embedding"]) for i in range(50)]
    compactions = 0
    for vid, emb in rows:  # one row per micro-batch
        batch = spark.createDataFrame(
            [(vid, emb)], "vec_id long, embedding array<float>"
        )
        S.append_lsh_vectors(batch, idx)
        if S.compact_lsh_index(spark, idx, max_files_per_bucket=8):
            compactions += 1
        # invariant at EVERY point in the drain, not just the end:
        # one rewritten file per bucket + at most threshold appends
        assert _max_files_per_bucket(S._live_vectors_dir(idx)) <= 9
    assert compactions >= 5, "50 single-bucket batches barely compacted"

    # served answers equal a fresh one-shot rebuild over the same rows
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    rebuilt = str(tmp_path / "lsh_r")
    S.build_lsh_index(base.unionByName(planted), rebuilt, planes=4)
    queries = base.limit(7)
    got = sorted(map(tuple, S.lsh_query_index(
        spark, idx, queries, k=5).select(
        "query_id", "neighbor_id", "cos", "rnk").collect()))
    want = sorted(map(tuple, S.lsh_query_index(
        spark, rebuilt, queries, k=5).select(
        "query_id", "neighbor_id", "cos", "rnk").collect()))
    assert got == want and len(got) > 0

    # crash-orphan reaping: a stray pre-swap generation and a stale
    # superseded one both disappear on the next compaction call
    os.makedirs(os.path.join(idx, "vectors_gen999", "bucket=0"),
                exist_ok=True)
    os.makedirs(os.path.join(idx, "vectors", "bucket=0"), exist_ok=True)
    S.compact_lsh_index(spark, idx, max_files_per_bucket=8)
    left = {p for p in os.listdir(idx)
            if p == "vectors" or p.startswith("vectors_gen")}
    live = os.path.basename(S._live_vectors_dir(idx))
    assert left == {live}


def test_lsh_index_corrupt_meta_aborts_not_defaults(spark, tmp_path):
    """ADVICE r10 medium: a PRESENT-but-unreadable meta.json must abort
    every index operation rather than fall back to defaults — the
    default 'vectors_dir' would make compaction's generation reap
    rmtree the REAL live corpus, and default planes/dims would route
    appends into the wrong buckets."""
    import json
    import os

    import pytest

    from advanced_strapi_import_spark.operators import similarity as S

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    idx = str(tmp_path / "lsh_corrupt")
    S.build_lsh_index(corpus.filter("vec_id % 2 = 0"), idx, planes=4)
    # move the live generation off the default name, as compaction does
    os.rename(os.path.join(idx, "vectors"),
              os.path.join(idx, "vectors_gen1"))
    S._write_index_meta(
        idx, {"planes": 4, "dims": 64, "vectors_dir": "vectors_gen1"}
    )
    n_live = sum(len(fs) for _, _, fs in
                 os.walk(os.path.join(idx, "vectors_gen1")))
    assert n_live > 0

    # corrupt the meta IN PLACE (truncated json — external damage; the
    # atomic-rename publish can't produce this itself)
    with open(os.path.join(idx, "meta.json"), "w") as fh:
        fh.write('{"planes": 4, "dims": 64, "vectors_dir"')

    assert S._read_index_meta(idx) is None  # distinct from absent=={}

    # compaction: no-op, and — the data-loss case — NO reap of the
    # real live generation it can no longer identify
    assert S.compact_lsh_index(spark, idx, max_files_per_bucket=1) is False
    assert sum(len(fs) for _, _, fs in
               os.walk(os.path.join(idx, "vectors_gen1"))) == n_live

    # append + serve: refuse rather than hash into wrong buckets
    batch = corpus.filter("vec_id % 2 = 1").limit(1)
    with pytest.raises(OSError, match="unreadable"):
        S.append_lsh_vectors(batch, idx)
    with pytest.raises(OSError, match="unreadable"):
        S.lsh_query_index(spark, idx, corpus.limit(1), k=3)

    # restoring the meta restores full service
    S._write_index_meta(
        idx, {"planes": 4, "dims": 64, "vectors_dir": "vectors_gen1"}
    )
    assert S.lsh_query_index(spark, idx, corpus.limit(3), k=3).count() > 0

    # absent meta (pre-meta index) still gets default behavior
    legacy = str(tmp_path / "lsh_legacy")
    S.build_lsh_index(corpus.filter("vec_id % 2 = 0"), legacy, planes=6)
    os.remove(os.path.join(legacy, "meta.json"))
    assert S._read_index_meta(legacy) == {}
    assert S._live_vectors_dir(legacy).endswith("/vectors")

    # meta pointing at a MISSING live dir: compaction must not reap
    broken = str(tmp_path / "lsh_dangling")
    os.makedirs(os.path.join(broken, "vectors_gen7", "bucket=0"))
    S._write_index_meta(
        broken, {"planes": 4, "dims": 64, "vectors_dir": "vectors_gen9"}
    )
    assert S.compact_lsh_index(spark, broken) is False
    assert os.path.isdir(os.path.join(broken, "vectors_gen7"))


def test_lsh_query_index_empty_queries(spark, tmp_path):
    from advanced_strapi_import_spark.operators import similarity as S

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "lsh_e")
    S.build_lsh_index(corpus, idx, planes=4)
    empty = corpus.filter("vec_id < 0")
    out = S.lsh_query_index(spark, idx, empty, k=5, planes=4)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos", "rnk"]


def test_near_dup_auto_planes_rule():
    """Integer rule == the SQL form length(bin(n-1)) + 2 clamped: the
    cross-engine contract the adaptive oracle depends on."""
    from advanced_strapi_import_spark.operators.similarity import (
        NEAR_DUP_PLANES_CAP,
        NEAR_DUP_PLANES_FLOOR,
        near_dup_auto_planes,
    )

    assert near_dup_auto_planes(1) == NEAR_DUP_PLANES_FLOOR
    assert near_dup_auto_planes(1024) == 12   # bin(1023) is 10 bits
    assert near_dup_auto_planes(1025) == 13   # bin(1024) is 11 bits
    assert near_dup_auto_planes(4000) == 14
    assert near_dup_auto_planes(10**7) == NEAR_DUP_PLANES_CAP
    for n in (2, 999, 4096, 10**5):
        assert (
            near_dup_auto_planes(n)
            == min(24, max(12, (n - 1).bit_length() + 2))
        )


def test_near_dup_auto_mode_finds_planted_pairs(spark):
    """planes=None (corpus-adaptive gating) still catches planted
    near-identical pairs, and its fixed-stride buckets are a PREFIX
    relation: auto output == explicit (auto_planes(n), stride=cap)."""
    from advanced_strapi_import_spark.operators import similarity as S

    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(60, 16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    # planted: ids 100+i are tiny perturbations of ids 0..9
    rows += [
        (100 + i, [float(x) for x in base[i] + 0.01]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    out = S.embedding_near_dup(
        df, threshold=0.95, vec_col="embedding", id_col="id",
        tables=8, planes=None, dims=16,
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, 100 + i) for i in range(10)}
    assert planted <= got  # every planted pair gated in and scored


def test_near_dup_auto_equals_explicit_stride_params(spark):
    """The auto mode is EXACTLY the explicit (auto_planes(n), stride=
    cap) parameterization — the prefix-bucket contract the static SQL
    oracle depends on."""
    from advanced_strapi_import_spark.operators import similarity as S

    import numpy as np

    rng = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rng.randn(16)]) for i in range(40)
    ] + [(100 + i, [float(x) for x in rng.randn(16)]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    auto = S.embedding_near_dup(
        df, threshold=0.8, vec_col="embedding", id_col="id",
        tables=6, planes=None, dims=16,
    )
    n = df.count()
    p = S.near_dup_auto_planes(n)
    # planes=p with the cap stride is auto-only in the public
    # signature, so assert the prefix contract on the bucket frames
    vecs = df.select("id", "embedding")
    b_auto = S._multi_buckets(
        vecs, "embedding", "id", tables=6, planes=p, dims=16,
        stride=S.NEAR_DUP_PLANES_CAP,
    ).select("id", "__table", "__bucket")
    b_cap = S._multi_buckets(
        vecs, "embedding", "id", tables=6,
        planes=S.NEAR_DUP_PLANES_CAP, dims=16,
        stride=S.NEAR_DUP_PLANES_CAP,
    ).select(
        "id", "__table",
        F.substring("__bucket", 1, p).alias("__bucket"),
    )
    a = {(r["id"], r["__table"], r["__bucket"]) for r in b_auto.collect()}
    c = {(r["id"], r["__table"], r["__bucket"]) for r in b_cap.collect()}
    assert a == c  # adaptive bucket IS the prefix of the cap bucket
    assert auto.count() >= 0  # the public auto path plans and runs


def test_lsh_compaction_kill_points(spark, tmp_path):
    """VERDICT r10 task 8 — TRUE kill-point fuzz for the LSH index's
    generation swap (the bucket-partition twin of the keyed store's):
    (B) crash between staging the rewritten generation and the
        meta.json pointer swap — the index must keep serving the OLD
        generation and the next compaction must reap the orphan;
    (A) crash between the pointer swap and the superseded directory's
        rmtree — the index must serve the NEW generation and the next
        compaction call must reap the stray."""
    import os
    import shutil

    import pytest

    from advanced_strapi_import_spark.operators import similarity as S

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    base = corpus.filter("vec_id % 2 = 0")
    queries = base.limit(5)

    def served(idx):
        return sorted(map(tuple, S.lsh_query_index(
            spark, idx, queries, k=3).select(
            "query_id", "neighbor_id", "cos", "rnk").collect()))

    def force_fragmentation(idx):
        seed = corpus.filter("vec_id % 2 = 1").limit(1).collect()[0]
        for i in range(3):
            S.append_lsh_vectors(
                spark.createDataFrame(
                    [(900000 + i, seed["embedding"])],
                    "vec_id long, embedding array<float>",
                ),
                idx,
            )

    # -- window B: crash before the meta pointer swap -----------------
    idx_b = str(tmp_path / "lsh_kb")
    S.build_lsh_index(base, idx_b, planes=4)
    force_fragmentation(idx_b)
    want = served(idx_b)
    real_write = S._write_index_meta

    def killed_write(path, meta):
        raise RuntimeError("killed between staging and pointer swap")

    S._write_index_meta = killed_write
    try:
        with pytest.raises(RuntimeError, match="killed"):
            S.compact_lsh_index(spark, idx_b, max_files_per_bucket=2)
    finally:
        S._write_index_meta = real_write
    # old generation still live and serving; orphan gen staged
    assert S._live_vectors_dir(idx_b).endswith("/vectors")
    assert os.path.isdir(os.path.join(idx_b, "vectors_gen1"))
    assert served(idx_b) == want
    # a stranded meta tmp (crash inside the publish itself) is reaped
    # by the recovery call ONLY once aged — a fresh tmp may be another
    # publisher's in-flight write and must survive (round-12 ADVICE:
    # unique tmp names + age-gated reap)
    import time as _time

    aged_tmp = os.path.join(idx_b, "meta.json.tmp.111.aaaa")
    with open(aged_tmp, "w") as fh:
        fh.write("{garbage")
    past = _time.time() - 7200
    os.utime(aged_tmp, (past, past))
    fresh_tmp = os.path.join(idx_b, "meta.json.tmp.111.bbbb")
    with open(fresh_tmp, "w") as fh:
        fh.write("{}")
    # recovery: next compaction reaps the orphan, then publishes
    assert S.compact_lsh_index(spark, idx_b, max_files_per_bucket=2)
    assert not os.path.exists(aged_tmp), "aged strand must be reaped"
    assert os.path.exists(fresh_tmp), "fresh in-flight tmp must survive"
    os.remove(fresh_tmp)
    live = os.path.basename(S._live_vectors_dir(idx_b))
    gens = {p for p in os.listdir(idx_b)
            if p == "vectors" or p.startswith("vectors_gen")}
    assert gens == {live}
    assert served(idx_b) == want

    # -- window A: crash between pointer swap and old-dir rmtree ------
    idx_a = str(tmp_path / "lsh_ka")
    S.build_lsh_index(base, idx_a, planes=4)
    force_fragmentation(idx_a)
    want_a = served(idx_a)
    old_dir = os.path.join(idx_a, "vectors")
    real_rmtree = shutil.rmtree

    def killed_rmtree(path, *a, **kw):
        if os.path.abspath(str(path)) == os.path.abspath(old_dir):
            raise RuntimeError("killed between pointer swap and reap")
        return real_rmtree(path, *a, **kw)

    shutil.rmtree = killed_rmtree
    try:
        with pytest.raises(RuntimeError, match="killed"):
            S.compact_lsh_index(spark, idx_a, max_files_per_bucket=2)
    finally:
        shutil.rmtree = real_rmtree
    # pointer already swapped: new generation serves, stray old left
    assert os.path.isdir(old_dir)
    assert S._live_vectors_dir(idx_a).endswith("/vectors_gen1")
    assert served(idx_a) == want_a
    # next compaction call reaps the stray even when below threshold
    assert S.compact_lsh_index(
        spark, idx_a, max_files_per_bucket=999) is False
    assert not os.path.isdir(old_dir)
    assert served(idx_a) == want_a


def test_ivfpq_recall_determinism_and_serving_bounds(spark):
    """IVF+PQ composed ANN (round 11): recall floor vs brute force,
    run-to-run determinism (seeded trainer), and the serving-batch
    contract (oversized query frames raise instead of ballooning the
    driver)."""
    import pytest

    from advanced_strapi_import_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 97 == 0)
    got = S.ivfpq_topk(qs, emb, k=5, nprobe=8, m=32, codebook=64)
    assert got.columns == ["query_id", "neighbor_id", "approx_d2", "rank"]
    pairs = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(qs, emb, k=5).collect()
    }
    per_q: dict = {}
    for q, n in pairs & exact:
        per_q[q] = per_q.get(q, 0) + 1
    qids = {r["vec_id"] for r in qs.select("vec_id").collect()}
    assert all(per_q.get(q, 0) >= 1 for q in qids)  # pinned floor
    assert sum(per_q.get(q, 0) for q in qids) / (5 * len(qids)) >= 0.5

    again = sorted(map(tuple, S.ivfpq_topk(
        qs, emb, k=5, nprobe=8, m=32, codebook=64).collect()))
    assert again == sorted(map(tuple, got.collect()))

    with pytest.raises(ValueError, match="max_query_rows"):
        S.ivfpq_topk(emb, emb, k=5, max_query_rows=3)
    with pytest.raises(ValueError, match="must divide"):
        S.ivfpq_topk(qs, emb, m=7)
    # empty query batch: empty typed frame, no crash
    assert S.ivfpq_topk(qs.filter("vec_id < 0"), emb, k=5).count() == 0


def test_ivfpq_index_build_serve_matches_inline(spark, tmp_path):
    """Stored IVF+PQ index (round 11): one seeded trainer is shared
    with the inline operator, so serving from the stored index must
    EQUAL ivfpq_topk run inline with the same parameters; the serve
    plan must read only probed cell partitions; a corrupt meta.json
    must abort rather than guess index parameters."""
    import os

    import pytest

    from advanced_strapi_import_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 97 == 0)
    idx = str(tmp_path / "ivfpq")
    S.build_ivfpq_index(emb, idx, cells=16, m=32, codebook=64)
    served = S.ivfpq_query_index(spark, idx, qs, k=5, nprobe=8)
    inline = S.ivfpq_topk(qs, emb, k=5, cells=16, nprobe=8, m=32,
                          codebook=64)
    a = sorted(map(tuple, served.collect()))
    b = sorted(map(tuple, inline.collect()))
    assert a == b and len(a) > 0

    # partition pruning: only probed cell directories are read
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # serving caps + corrupt meta abort (same contract as the LSH index)
    with pytest.raises(ValueError, match="max_query_rows"):
        S.ivfpq_query_index(spark, idx, emb, k=5, max_query_rows=3)
    with open(os.path.join(idx, "meta.json"), "w") as fh:
        fh.write('{"m": 32, "codebook"')
    with pytest.raises(OSError, match="unreadable"):
        S.ivfpq_query_index(spark, idx, qs, k=5)


def test_trainer_degenerate_duplicate_heavy_sample():
    """Round-12 ADVICE: k-means++ seeding must not crash when the
    driver sample has fewer distinct vectors than requested
    cells/codebook entries (duplicate-heavy corpora; auto_cells can
    request up to 4096 cells against the fixed 8192-row sample).
    Cells clamp to the distinct count; PQ codebooks pad (shape
    contract for the flat-index ADC math) with never-selected
    duplicates."""
    import numpy as np

    from advanced_strapi_import_spark.operators.similarity import (
        _train_ivfpq,
    )

    base = np.random.RandomState(0).rand(3, 64)
    sample = base[np.arange(8192) % 3]
    centers, books = _train_ivfpq(sample, cells=16, m=16, codebook=32,
                                  seed=42)
    assert centers.shape == (3, 64)  # clamped to distinct count
    assert books.shape == (16, 32, 4)  # shape contract preserved
    assert np.isfinite(centers).all() and np.isfinite(books).all()

    # single distinct vector: the most degenerate corpus
    one = np.tile(np.arange(64.0), (8192, 1))
    c1, b1 = _train_ivfpq(one, cells=16, m=16, codebook=32, seed=42)
    assert c1.shape == (1, 64) and b1.shape == (16, 32, 4)

    # non-degenerate path: rng call sequence unchanged by the guard
    s2 = np.random.RandomState(1).rand(256, 64)
    ca, ba = _train_ivfpq(s2, 16, 16, 32, 42)
    cb_, bb = _train_ivfpq(s2, 16, 16, 32, 42)
    assert (ca == cb_).all() and (ba == bb).all()
    assert ca.shape == (16, 64)


def test_pq_and_kmeans_degenerate_duplicate_heavy(spark):
    """pq_topk and _kmeans_centers (ivf_topk trainer) share the same
    seeding pattern — duplicate-heavy corpora must degrade gracefully,
    not raise on NaN probabilities."""
    import numpy as np

    from advanced_strapi_import_spark.operators.similarity import (
        _kmeans_centers, pq_topk,
    )

    rows = [
        (i, [float(x) for x in np.arange(64.0) * ((i % 2) + 1)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = _kmeans_centers(df, "embedding", 16, 42)
    assert 1 <= len(centers) <= 16
    out = pq_topk(df.limit(2), df, k=3, m=16, codebook=32, dims=64)
    assert out.count() > 0


def test_meta_publish_unique_tmp_and_aged_reap(tmp_path):
    """Round-12 ADVICE: _write_index_meta must use a UNIQUE tmp name
    (a fixed name let compaction's strand-reap delete a concurrent
    publisher's in-flight tmp mid-rename) and _reap_stale_tmps must
    only remove AGED strands."""
    import json
    import os
    import time

    from advanced_strapi_import_spark.operators.similarity import (
        _reap_stale_tmps, _write_index_meta,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)

    seen = []
    real_rename = os.rename

    def spy_rename(src, dst):
        seen.append(os.path.basename(src))
        return real_rename(src, dst)

    os.rename = spy_rename
    try:
        _write_index_meta(d, {"a": 1})
        _write_index_meta(d, {"a": 2})
    finally:
        os.rename = real_rename
    assert len(seen) == 2 and seen[0] != seen[1], "tmp names must differ"
    assert all(s.startswith("meta.json.tmp.") for s in seen)
    assert json.load(open(f"{d}/meta.json")) == {"a": 2}

    # aged strand reaped; fresh strand (possible in-flight publish)
    # and the live meta.json survive
    aged = f"{d}/meta.json.tmp.1.aaaa"
    open(aged, "w").write("{}")
    past = time.time() - 7200
    os.utime(aged, (past, past))
    fresh = f"{d}/meta.json.tmp.2.bbbb"
    open(fresh, "w").write("{}")
    _reap_stale_tmps(d, "meta.json.tmp")
    assert not os.path.exists(aged)
    assert os.path.exists(fresh)
    assert os.path.exists(f"{d}/meta.json")


def test_ivfpq_residual_rerank_contracts(spark, tmp_path):
    """Round-12 IVFADC+R: (a) reranked serve is bit-equal to reranked
    inline (shared _exact_rerank helper), (b) rerank>0 without a
    corpus frame raises (the stored index holds byte-codes only),
    (c) serving a pre-residual index raises instead of silently
    mis-ranking with residual ADC tables."""
    import json
    import os

    import pytest

    from advanced_strapi_import_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id % 7 = 0")
    idx = str(tmp_path / "ivfpq_r")
    S.build_ivfpq_index(emb, idx, cells=16, m=32, codebook=64)
    served = sorted(map(tuple, S.ivfpq_query_index(
        spark, idx, qs, k=5, nprobe=8, rerank=10, rerank_corpus=emb,
    ).collect()))
    inline = sorted(map(tuple, S.ivfpq_topk(
        qs, emb, k=5, cells=16, nprobe=8, m=32, codebook=64, rerank=10,
    ).collect()))
    assert served == inline and len(served) > 0

    with pytest.raises(ValueError, match="rerank_corpus"):
        S.ivfpq_query_index(spark, idx, qs, k=5, rerank=10)

    # legacy (pre-residual) index must be refused
    meta = json.load(open(os.path.join(idx, "meta.json")))
    meta.pop("encoding")
    json.dump(meta, open(os.path.join(idx, "meta.json"), "w"))
    with pytest.raises(ValueError, match="pre-residual"):
        S.ivfpq_query_index(spark, idx, qs, k=5)


def test_ivfpq_compaction_kill_points(spark, tmp_path):
    """Round-12: the IVF+PQ codes store rides the same generation-swap
    machinery as the LSH store (_compact_index_store) — fuzz its two
    crash windows directly: (B) killed between the new-generation
    write and the meta pointer swap -> old generation stays live and
    serving is unchanged, next compaction recovers; (A) killed between
    the pointer swap and the old-generation rmtree -> new generation
    live, orphan reaped on the next call. Served answers must be
    identical through every state."""
    import os
    import shutil

    import pytest

    from advanced_strapi_import_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id % 97 = 0")
    idx = str(tmp_path / "ivfpq_kill")
    S.build_ivfpq_index(emb, idx, cells=16, m=32, codebook=64)

    def served():
        return sorted(map(tuple, S.ivfpq_query_index(
            spark, idx, qs, k=5, nprobe=16
        ).collect()))

    arr = emb.filter("vec_id % 5 = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    S.append_ivfpq_vectors(arr, idx)
    S.append_ivfpq_vectors(arr.filter("vec_id % 2 = 0"), idx)
    want = served()
    assert any(r[1] >= 100000 for r in want), "arrivals must serve"

    # -- window B: crash between generation write and pointer swap ---
    real_write = S._write_index_meta

    def killed_write(path, meta):
        raise RuntimeError("killed before pointer swap")

    S._write_index_meta = killed_write
    try:
        with pytest.raises(RuntimeError, match="killed"):
            S.compact_ivfpq_index(spark, idx, max_files_per_cell=2)
    finally:
        S._write_index_meta = real_write
    assert S._require_index_meta(idx).get("codes_dir", "codes") == "codes"
    assert os.path.isdir(os.path.join(idx, "codes_gen1"))  # orphan
    assert served() == want
    # recovery: next compaction reaps the orphan and publishes
    assert S.compact_ivfpq_index(spark, idx, max_files_per_cell=2)
    assert S._require_index_meta(idx)["codes_dir"] == "codes_gen1"
    assert served() == want

    # -- window A: crash between pointer swap and old-gen rmtree -----
    S.append_ivfpq_vectors(arr.filter("vec_id % 3 = 0"), idx)
    want2 = served()
    old_live = os.path.join(idx, "codes_gen1")
    real_rmtree = shutil.rmtree

    def killed_rmtree(path, *a, **kw):
        if os.path.abspath(str(path)) == os.path.abspath(old_live):
            raise RuntimeError("killed before old-gen reap")
        return real_rmtree(path, *a, **kw)

    shutil.rmtree = killed_rmtree
    try:
        with pytest.raises(RuntimeError, match="killed"):
            S.compact_ivfpq_index(spark, idx, max_files_per_cell=2)
    finally:
        shutil.rmtree = real_rmtree
    assert S._require_index_meta(idx)["codes_dir"] == "codes_gen2"
    assert os.path.isdir(old_live)  # superseded strand
    assert served() == want2
    # next call reaps the superseded generation (below threshold ->
    # returns False, but the reap still runs)
    S.compact_ivfpq_index(spark, idx, max_files_per_cell=99)
    assert not os.path.isdir(old_live)
    assert served() == want2

    # corrupt meta: compaction refuses to touch anything
    with open(os.path.join(idx, "meta.json"), "w") as fh:
        fh.write("{truncated")
    assert S.compact_ivfpq_index(spark, idx, max_files_per_cell=1) is False
    assert os.path.isdir(os.path.join(idx, "codes_gen2"))


def test_lloyd_means_bit_identical_to_mask_mean_form():
    """r12 optimization guard: the argsort-grouped Lloyd update
    (_lloyd_means) must be BITWISE equal to the naive per-cluster
    boolean-mask form it replaced — same member rows in the same order
    feed the same pairwise-summation mean, so trained
    centroids/codebooks (and every downstream code/recall hash) are
    unchanged. Covers empty clusters, duplicate-heavy assignments, and
    non-contiguous subspace views."""
    import numpy as np

    from advanced_strapi_import_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    for n, k, d, dup in [(1, 4, 2, False), (57, 8, 3, False),
                         (2000, 64, 2, False), (512, 64, 2, True)]:
        pts = rng.randn(n, 8)
        if dup:
            pts = np.repeat(pts[: max(1, n // 16)], 16, axis=0)[:n]
        view = pts[:, 1:1 + d]  # non-contiguous view, like resid slices
        assign = rng.randint(0, k, size=n)
        base = rng.randn(k, d)
        want = base.copy()
        for c_i in range(k):  # the pre-r12 form, verbatim
            members = view[assign == c_i]
            if len(members):
                want[c_i] = members.mean(axis=0)
        got = base.copy()
        S._lloyd_means(view, assign, got, k)
        assert got.tobytes() == want.tobytes()


def test_train_ivfpq_bit_identical_to_naive_loops():
    """End-to-end trainer guard: _train_ivfpq with the reused-buffer
    distance computation and _lloyd_means must reproduce the pre-r12
    naive trainer bit-for-bit (same rng stream, same float ops order)."""
    import numpy as np

    from advanced_strapi_import_spark.operators.similarity import (
        _train_ivfpq,
    )

    def naive(sample, cells, m, codebook, seed):
        sub_d = sample.shape[1] // m
        rng = np.random.RandomState(seed)
        centers = sample[[rng.randint(len(sample))]]
        d2min = ((sample - centers[0]) ** 2).sum(axis=1)
        for _ in range(cells - 1):
            tot = d2min.sum()
            if tot <= 0.0:
                break
            new = sample[rng.choice(len(sample), p=d2min / tot)]
            centers = np.vstack([new, *centers])
            d2min = np.minimum(d2min, ((sample - new) ** 2).sum(axis=1))
        cells = len(centers)
        s2 = (sample ** 2).sum(axis=1)[:, None]
        for _ in range(20):
            d2 = s2 - 2.0 * (sample @ centers.T) + (centers ** 2).sum(1)[None]
            assign = d2.argmin(axis=1)
            for c_i in range(cells):
                members = sample[assign == c_i]
                if len(members):
                    centers[c_i] = members.mean(axis=0)
        d2 = s2 - 2.0 * (sample @ centers.T) + (centers ** 2).sum(1)[None]
        resid = sample - centers[d2.argmin(axis=1)]
        books = np.empty((m, codebook, sub_d))
        for j in range(m):
            sub = resid[:, j * sub_d:(j + 1) * sub_d]
            cb = np.empty((codebook, sub_d))
            cb[0] = sub[rng.randint(len(sub))]
            cd2 = ((sub - cb[0]) ** 2).sum(1)
            for c_i in range(1, codebook):
                ctot = cd2.sum()
                if ctot <= 0.0:
                    cb[c_i:] = cb[0]
                    break
                cb[c_i] = sub[rng.choice(len(sub), p=cd2 / ctot)]
                cd2 = np.minimum(cd2, ((sub - cb[c_i]) ** 2).sum(1))
            x2 = (sub * sub).sum(1)[:, None]
            for _ in range(15):
                sd2 = x2 - 2.0 * (sub @ cb.T) + (cb * cb).sum(1)[None]
                sa = sd2.argmin(1)
                for c_i in range(codebook):
                    members = sub[sa == c_i]
                    if len(members):
                        cb[c_i] = members.mean(0)
            books[j] = cb
        return centers, books

    for trial, (n, dup) in enumerate([(800, False), (256, True)]):
        rng = np.random.RandomState(trial)
        sample = rng.randn(n, 64)
        if dup:
            sample = np.repeat(sample[: n // 8], 8, axis=0)[:n]
        sample /= np.linalg.norm(sample, axis=1, keepdims=True)
        c1, b1 = naive(sample.copy(), 16, 32, 64, 42)
        c2, b2 = _train_ivfpq(sample.copy(), 16, 32, 64, 42)
        assert c1.tobytes() == c2.tobytes()
        assert b1.tobytes() == b2.tobytes()


def test_cosine_sql_fast_path_bit_identical_to_column_form(spark):
    """cosine('a', 'b', dims) builds the unrolled tree via one JVM-side
    SQL parse; it must stay value-identical (string-exact doubles) to
    the Column-by-Column _dot_unrolled/_norm_unrolled form it replaced,
    including the 0.0 seed and left-assoc summation order."""
    from advanced_strapi_import_spark.operators import similarity as S

    df = spark.createDataFrame(
        [
            (list(float((i * 37 + d * 13) % 101 - 50) / 7.0 for d in range(8)),
             list(float((i * 11 + d * 29) % 97 - 48) / 5.0 for d in range(8)))
            for i in range(64)
        ],
        # no zero vectors: ANSI div-by-zero raises identically in both
        # forms; production callers filter zero norms before cosine
        "a array<double>, b array<double>",
    )
    old = S._dot_unrolled(F.col("a"), F.col("b"), 8) / (
        S._norm_unrolled(F.col("a"), 8) * S._norm_unrolled(F.col("b"), 8)
    )
    new = S.cosine("a", "b", 8)
    rows = df.select(
        old.cast("string").alias("o"), new.cast("string").alias("n")
    ).collect()
    assert all(r.o == r.n for r in rows)
