"""Parity queries for the training-data-pipeline operators: dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding similarity
(brute-force cosine top-k, LSH buckets), and text analysis.

The dedup corpus is `documents` doubled with known duplicates: ids
+100000 carry identical text when doc_id%3==0 (exact dups) and one
extra token otherwise (near dups) — so every operator has true
positives to find. All hashing is md5-based and identical across
engines; oracle SQL for signatures/bit-sums is generated from the same
constants the Spark operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_strapi_import_spark.caching import (
    checkpoint_tracked,
    persist_tracked,
    register_shared_releaser,
)
from advanced_strapi_import_spark.operators import dedup as D
from advanced_strapi_import_spark.operators import similarity as S
from advanced_strapi_import_spark.operators import text as TX
from advanced_strapi_import_spark.plans.registry import fan_out, load, query

NUM_HASHES = 16
BANDS = 4
SIMHASH_BITS = 32
LSH_PLANES = 6
EMB_DIMS = 64


# ---------------------------------------------------------------------------
# duplicated corpus (shared)
# ---------------------------------------------------------------------------
def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = d.select(F.col("doc_id").alias("id"), F.col("text"))
    dup = d.select(
        (F.col("doc_id") + 100000).alias("id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" extra token")))
        .alias("text"),
    )
    # single-row-group source file -> 1 scan split; everything downstream
    # of the corpus is per-row compute (md5-per-shingle, simhash bit
    # sums), so spread it across the cores first
    return fan_out(base.unionByName(dup))


# Session-scoped materialized subplans: four registry queries
# (minhash bands/pairs, ngram-Jaccard verify, duplicate clustering)
# share the shingle-hash explode and the banded-signature prefix. The
# explode + md5-per-shingle is the dominant map cost of the whole dedup
# family, so it is computed once per (session, sf_dir) and persisted
# (MEMORY_AND_DISK) — at 100 TB this is the "write the signature table
# once, read it from every dedup job" pattern; shingle hashes are
# ~tokens x 8 B, bands are 4 rows x 16 B per doc.
_SHARED: dict = {}


def _release_shared() -> None:
    while _SHARED:
        _, df = _SHARED.popitem()
        try:
            df.unpersist()
        except Exception:
            pass


register_shared_releaser(_release_shared)


def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, "shingles")
    if key not in _SHARED:
        _SHARED[key] = D.shingle_hashes(
            _corpus(spark, sf_dir), "text", "id"
        ).persist()
    return _SHARED[key]


def _shared_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-bigram sets of the dedup corpus, persisted once and
    shared by dedup_prefix_filter and dedup_family_recall (same reuse
    discipline as the shingle/band subplans)."""
    key = (spark.sparkContext.applicationId, sf_dir, "bigrams")
    if key not in _SHARED:
        _SHARED[key] = D.word_ngram_sets(
            _corpus(spark, sf_dir), "text", "id", n=2
        ).persist()
    return _SHARED[key]


def _shared_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, "bands")
    if key not in _SHARED:
        sig = D.minhash_signature_from_hashes(
            _shared_shingles(spark, sf_dir), num_hashes=NUM_HASHES
        )
        _SHARED[key] = D.lsh_bands(sig, num_hashes=NUM_HASHES, bands=BANDS).persist()
    return _SHARED[key]


def _shared_plain_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band table over the PLAIN documents corpus (no synthetic dups) —
    the 'stored corpus band table' both incremental-dedup queries join
    against; persisting it session-scoped IS the design being modeled
    (compute the signature table once, read it from every ingest)."""
    key = (spark.sparkContext.applicationId, sf_dir, "plain_bands")
    if key not in _SHARED:
        corpus = fan_out(
            load(spark, sf_dir, "documents").select(
                F.col("doc_id").alias("id"), "text"
            )
        )
        _SHARED[key] = D.lsh_bands(
            D.minhash_signature(corpus, "text", "id", num_hashes=NUM_HASHES),
            num_hashes=NUM_HASHES, bands=BANDS,
        ).persist()
    return _SHARED[key]


_CORPUS_SQL = """
corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' extra token' END
  FROM documents)
"""

_SHINGLES_SQL = """
toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
sh AS (
  SELECT id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1),
                             i -> array_to_string(list_slice(t, i, i + 2), ' '))
         ELSE [array_to_string(t, ' ')] END)) AS sh
  FROM toks)
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_groups",
    oracle=f"""
WITH {_CORPUS_SQL}
SELECT md5(text) AS text_hash, min(id) AS keep_id, count(*) AS dup_count
FROM corpus GROUP BY md5(text)
""",
    doc="Exact dedup via content-hash groupBy; keeps min id per group.",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_groups(_corpus(spark, sf_dir), "text", "id")


# ---------------------------------------------------------------------------
# MinHash signatures -> LSH bands -> candidate pairs
# ---------------------------------------------------------------------------
def _minhash_sig_sql() -> str:
    """Mirrors dedup.minhash_signature: one md5 base hash per shingle,
    then the same universal-hash constants (exact BIGINT arithmetic)."""
    p = D.UHASH_P
    mins = []
    for s in range(NUM_HASHES):
        a, b = D.uhash_consts(s)
        mins.append(f"min((__h * {a} + {b}) % {p}) AS h{s}")
    joined = ",\n    ".join(mins)
    return (
        "mh_base AS (\n"
        f"  SELECT id, ('0x' || substr(md5(sh), 1, 8))::BIGINT % {p} AS __h FROM sh),\n"
        f"sigs AS (\n  SELECT id, {joined}\n  FROM mh_base GROUP BY id)"
    )


def _bands_sql() -> str:
    """Mirrors dedup.lsh_bands: the band id is folded INTO the 63-bit
    band hash, so one bigint column is the whole bucket key."""
    rows = NUM_HASHES // BANDS
    parts = []
    for b in range(BANDS):
        cols = " || ',' || ".join(f"h{b * rows + r}" for r in range(rows))
        parts.append(
            f"SELECT id, {b} AS band, "
            f"('0x' || substr(md5({b} || ',' || {cols}), 1, 15))::BIGINT AS band_hash "
            f"FROM sigs"
        )
    return "bands AS (\n  " + "\n  UNION ALL ".join(parts) + ")"


@query(
    "dedup_minhash_bands",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()}
SELECT id, band, band_hash FROM bands
""",
    doc="MinHash(16) signatures banded 4x4 — the shuffle key for "
        "O(n) near-dup candidate generation.",
)
def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_bands(spark, sf_dir)


@query(
    "dedup_minhash_pairs",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()}
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b
  ON a.band_hash = b.band_hash AND a.id < b.id
""",
    doc="LSH candidate pairs: bucket on the 63-bit band key and expand "
        "pairs inside each bucket — never a cross join.",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))


# ---------------------------------------------------------------------------
# SimHash fingerprints + Hamming near-dup pairs
# ---------------------------------------------------------------------------
def _simhash_sql() -> str:
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
tok AS (SELECT id, unnest(list_distinct(string_split(text, ' '))) AS t FROM corpus),
hs AS (SELECT id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM tok),
bsum AS (SELECT id, {bit_sums} FROM hs GROUP BY id),
fp AS (SELECT id, CAST({fp} AS BIGINT) AS simhash FROM bsum)
"""


@query(
    "dedup_simhash",
    oracle=f"WITH {_CORPUS_SQL}, {_simhash_sql()} SELECT id, simhash FROM fp",
    doc="SimHash(32): sign of per-bit weighted sums over token hashes — "
        "one explode + one groupBy.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_corpus(spark, sf_dir), "text", "id", bits=SIMHASH_BITS)


@query(
    "dedup_hamming_pairs",
    oracle=f"""
WITH {_CORPUS_SQL}, {_simhash_sql()}
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    doc="SimHash near-dups within Hamming distance 3; Spark side uses "
        "pigeonhole chunk bucketing (exact, equi-join) vs the oracle's "
        "brute-force pairs.",
)
def dedup_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist fingerprints: the chunk-bucket self-join reads them twice
    # (tracked — released by the harness after the query is consumed)
    fp = persist_tracked(
        D.simhash(_corpus(spark, sf_dir), "text", "id", bits=SIMHASH_BITS)
    )
    return D.hamming_pairs(fp, max_distance=3, bits=SIMHASH_BITS)


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs
# ---------------------------------------------------------------------------
@query(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
shh AS (SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS sh FROM sh),
sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shh a ON a.id = c.id_a
  JOIN shh b ON b.id = c.id_b AND b.sh = a.sh
  GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) >= 0.5
""",
    doc="The production near-dup pipeline: MinHash-LSH proposes candidate "
        "pairs (O(n) shuffle), n-gram Jaccard verifies >= 0.5 — cost "
        "O(|candidates|), not all-pairs. The exploded shingle hashes are "
        "computed (and persisted) ONCE and feed both the minhash "
        "signatures and the Jaccard intersection — md5-per-shingle is "
        "the dominant map cost, so it must not run twice.",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    sh = _shared_shingles(spark, sf_dir)
    cand = D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))
    return D.jaccard_on_pairs(
        corpus, cand, "text", "id", threshold=0.5, shingle_df=sh
    )


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------
@query(
    "embedding_cosine_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 97 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
pairs AS (SELECT query_id, neighbor_id, qv, cv FROM q, c
          WHERE query_id <> neighbor_id),
expl AS (SELECT query_id, neighbor_id,
                unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
         FROM pairs),
dots AS (SELECT query_id, neighbor_id,
                sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
         FROM expl GROUP BY query_id, neighbor_id),
scored AS (SELECT query_id, neighbor_id,
                  round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos
           FROM dots)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored)
WHERE rank <= 5
""",
    doc="Brute-force cosine top-5 per query vector (broadcast queries x "
        "corpus, JVM-side fold, window top-k).",
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    return S.cosine_topk(queries, emb, k=5)


def _plane_signs(plane: int, dims: int) -> list[float]:
    """The exact constants similarity.hyperplane_sign embeds."""
    return S.plane_signs(plane, dims)


def _lsh_bucket_sql() -> str:
    cases = []
    for p in range(LSH_PLANES):
        arr = "[" + ",".join(str(x) for x in _plane_signs(p, EMB_DIMS)) + "]"
        cases.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {EMB_DIMS + 1}), "
            f"i -> embedding[i]::DOUBLE * ({arr})[i])) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(cases)


def _table_bucket_sql(
    table: int, planes_per_table: int, stride: int | None = None
) -> str:
    """One hash table's bucket expression over column `emb` (list of
    DOUBLE), planes [table*s, table*s + p) where the stride s defaults
    to p — mirrors similarity._multi_buckets exactly (including its
    round-8 fixed-stride mode for corpus-adaptive prefix gating)."""
    cases = []
    s = planes_per_table if stride is None else stride
    for p in range(planes_per_table):
        plane = table * s + p
        arr = "[" + ",".join(str(x) for x in _plane_signs(plane, EMB_DIMS)) + "]"
        cases.append(
            f"(CASE WHEN list_inner_product(emb, {arr}) >= 0"
            " THEN '1' ELSE '0' END)"
        )
    return " || ".join(cases)


_ND_TABLES = 16
_ND_CAP = 24    # == similarity.NEAR_DUP_PLANES_CAP (fixed plane stride)
_ND_FLOOR = 12  # == similarity.NEAR_DUP_PLANES_FLOOR

_ND_CORPUS_SQL = f"""
base AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> x::DOUBLE) AS emb
  FROM embeddings),
corpus AS (
  SELECT id, emb FROM base
  UNION ALL
  SELECT id + 100000, [emb[1] + 0.5] || emb[2:{EMB_DIMS}] FROM base)
"""

# corpus-adaptive plane count (round 8): ceil(log2(n)) + 2 clamped to
# [floor, cap], in INTEGER form — length(bin(n-1)) == (n-1).bit_length()
# — exactly similarity.near_dup_auto_planes. Each table's bucket is the
# pe-char PREFIX of its cap-length bucket (fixed stride), so one static
# SQL mirrors every corpus size.
_ND_PARAMS_SQL = (
    f"params AS (SELECT LEAST({_ND_CAP}, GREATEST({_ND_FLOOR}, "
    "length(bin(count(*) - 1)) + 2)) AS pe FROM corpus)"
)

_ND_BUCKETS_SQL = "buckets AS (\n  " + "\n  UNION ALL ".join(
    f"SELECT id, emb, {t} AS tbl, "
    f"substr({_table_bucket_sql(t, _ND_CAP, stride=_ND_CAP)}, 1, "
    "(SELECT pe FROM params)) AS bucket FROM corpus"
    for t in range(_ND_TABLES)
) + ")"


@query(
    "embedding_near_dup",
    oracle=f"""
WITH {_ND_CORPUS_SQL},
{_ND_PARAMS_SQL},
{_ND_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id),
va AS (SELECT id AS id_a, emb AS ea FROM corpus),
vb AS (SELECT id AS id_b, emb AS eb FROM corpus),
pairs AS (
  SELECT c.id_a, c.id_b, ea, eb FROM cand c JOIN va USING (id_a) JOIN vb USING (id_b)),
expl AS (
  SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs),
dots AS (
  SELECT id_a, id_b, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM expl GROUP BY id_a, id_b),
scored AS (
  SELECT id_a, id_b, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos FROM dots)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.9
""",
    doc="Embedding-cosine near-dup detection, multi-table LSH-gated "
        "(16 tables of md5-seeded hyperplanes): corpus doubled with "
        "planted perturbed copies; oracle replicates the gating "
        "exactly. Round 8: the plane count is CORPUS-ADAPTIVE "
        "(ceil(log2(n)) + 2 clamped to [12, 24], integer-exact on "
        "both engines via bin(); fixed 24-plane stride so the bucket "
        "is a prefix) — the fix for the measured superlinear shuffle "
        "curve (SCALING.md sh x10 was 12.9 under fixed 12-plane "
        "gating: random-pair candidates grow ~n^2/2^planes, so planes "
        "must track log2(n) for the candidate set to stay linear).",
)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    perturbed = base.select(
        (F.col("id") + 100000).alias("id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + 0.5),
            F.slice("embedding", 2, EMB_DIMS - 1),
        ).alias("embedding"),
    )
    corpus = base.unionByName(perturbed)
    return S.embedding_near_dup(
        corpus, threshold=0.9, vec_col="embedding", id_col="id",
        tables=_ND_TABLES, planes=None, dims=EMB_DIMS,
    )


@query(
    "embedding_ivf_topk",
    oracle="""
SELECT vec_id AS query_id, TRUE AS recall_floor_ok, TRUE AS mean_recall_ok
FROM embeddings WHERE vec_id % 97 = 0
""",
    doc="IVF ANN: k-means cells (learned buckets) + nprobe cell probing; "
        "equi-join on cell id — the data-adaptive scale path next to LSH. "
        "Value-checked via recall against brute-force cosine top-5 on the "
        "same data: every query must recover >= 1 of its 5 true neighbors "
        "(floor) and the mean recall across queries must be >= 0.5, both "
        "emitted as booleans the oracle pins to TRUE per query id. "
        "(Measured: mean 0.70 @ sf0.01, 0.60 @ sf0.1; per-query min 0.4 / "
        "0.2 — the k-means fit is seeded, so these are deterministic.)",
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    # fan_out the CORPUS side: cell assignment (Arrow kernel) and the
    # brute-force recall baseline both scan it row-heavy, and the
    # 1-split test file would serialize them; queries stay tiny
    corpus = fan_out(emb)
    # corpus-adaptive cell count (round 11): constant EXPECTED CELL
    # SIZE keeps per-query candidate volume bounded as the corpus
    # grows; returns the historical 16 at every oracle-gate SF
    cells = S.auto_cells(emb.count())
    ivf = S.ivf_topk(queries, corpus, k=5, cells=cells, nprobe=4).select(
        "query_id", "neighbor_id"
    )
    brute = S.cosine_topk(queries, corpus, k=5).select("query_id", "neighbor_id")
    hits = (
        ivf.join(brute, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    per_q = (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select("query_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    mean_recall = F.avg(F.col("hits") / 5.0).over(Window.partitionBy())
    return per_q.select(
        "query_id",
        (F.col("hits") >= 1).alias("recall_floor_ok"),
        (mean_recall >= 0.5).alias("mean_recall_ok"),
    )


@query(
    "embedding_lsh_bucket",
    oracle=f"""
SELECT vec_id, {_lsh_bucket_sql()} AS bucket FROM embeddings
""",
    doc="Random-hyperplane LSH bucket ids (md5-seeded deterministic "
        "planes) — the equi-join key for ANN at corpus scale.",
)
def embedding_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        S.lsh_bucket(F.col("embedding"), planes=LSH_PLANES, dims=EMB_DIMS).alias("bucket"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------
@query(
    "text_quality",
    oracle=r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         len(list_filter(string_split(lower(text), ' '),
             t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS stop_hits
  FROM documents)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       (CASE WHEN n_chars > 0 THEN round(CAST(n_punct AS DOUBLE) / n_chars, 4) ELSE 0.0 END) AS punct_ratio,
       (CASE WHEN n_chars > 0 THEN round(CAST(n_digit AS DOUBLE) / n_chars, 4) ELSE 0.0 END) AS digit_ratio,
       round(CAST(stop_hits AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
       round(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 4) AS mean_token_len
FROM f
""",
    doc="Quality features: length, punctuation/digit/stopword ratios, "
        "mean token length — all regexp_count/split JVM expressions.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in feats.items()])


def _lang_sql() -> str:
    hits = []
    for lang, words in TX.LANG_PROFILES.items():
        lst = "[" + ",".join(f"'{w}'" for w in words) + "]"
        hits.append(
            f"len(list_filter(string_split(lower(text), ' '), "
            f"t -> list_contains({lst}, t))) AS hits_{lang}"
        )
    langs = list(TX.LANG_PROFILES)
    # argmax with profile-order tie-break, matching text.lang_id's chain
    best_val, best_lang = f"hits_{langs[0]}", (
        f"CASE WHEN hits_{langs[0]} > 0 THEN '{langs[0]}' ELSE 'und' END"
    )
    for lang in langs[1:]:
        best_lang = f"CASE WHEN hits_{lang} > {best_val} THEN '{lang}' ELSE ({best_lang}) END"
        best_val = f"greatest(hits_{lang}, {best_val})"
    return f"WITH f AS (SELECT doc_id, {', '.join(hits)} FROM documents)\n" \
           f"SELECT doc_id, ({best_lang}) AS lang_pred FROM f"


@query(
    "text_lang_id",
    oracle=_lang_sql(),
    doc="Language ID by stopword-profile argmax (n-gram heuristic), "
        "deterministic tie-break in profile order.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: per-doc HOF/hash work would serialize on the 1-split scan
    d = fan_out(load(spark, sf_dir, "documents"))
    return d.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


@query(
    "text_token_counts",
    oracle=r"""
SELECT doc_id,
       CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
FROM documents
""",
    doc="Token counting: whitespace split + BPE-ish regex token count.",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("n_ws"),
        TX.token_count_bpe(F.col("text")).alias("n_bpe"),
    )


@query(
    "doc_fingerprint",
    oracle="""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents),
t AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n)
SELECT doc_id,
       md5(norm) AS fp_md5,
       list_min(list_transform(
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))
              ELSE [array_to_string(toks, ' ')] END,
         s -> md5(s))) AS fp_minshingle,
       ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp_hash64
FROM t
""",
    doc="Document fingerprints: normalized md5, min-shingle hash "
        "(1-hash MinHash), 63-bit content hash.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: per-doc HOF/hash work would serialize on the 1-split scan
    d = fan_out(load(spark, sf_dir, "documents"))
    fps = TX.fingerprint(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in fps.items()])


@query(
    "tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
ndocs AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
         (t.tf * (SELECT n FROM ndocs)) // d.df AS score
  FROM tf t JOIN df d USING (term)),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, CAST(score AS BIGINT) AS score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
""",
    doc="Per-doc top-3 salient terms by an integer TF-IDF proxy "
        "(tf * N_docs // doc_freq — exact integer arithmetic, no "
        "cross-engine float log): tokenize -> tf -> df -> score -> "
        "ranked window. The classic keyword-extraction pipeline; at "
        "scale the df table is the only global shuffle and broadcasts "
        "back.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id", "term",
            ((F.col("tf") * F.col("n")) / F.col("df")).cast("long").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "score", "rnk")
    )


@query(
    "doc_chunks",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents),
sized AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(1, CAST(ceil((len(toks) - 16) / 48.0) AS INT)) AS n_chunks
  FROM t),
expl AS (
  SELECT doc_id, toks, n_chunks, unnest(range(0, n_chunks)) AS ci
  FROM sized)
SELECT doc_id, CAST(ci AS INT) AS chunk_index, n_chunks,
       array_to_string(list_slice(toks, ci * 48 + 1, ci * 48 + 64), ' ') AS chunk_text,
       CAST(len(list_slice(toks, ci * 48 + 1, ci * 48 + 64)) AS INT) AS n_tokens
FROM expl
""",
    doc="LLM-corpus chunking: 64-token windows, 16-token overlap "
        "(stride 48) — one posexplode per doc, no shuffle; ragged "
        "tails keep their remainder tokens.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out before the window explode: single-row-group test files
    # give a 1-split scan that would serialize the chunk generation
    d = fan_out(load(spark, sf_dir, "documents"))
    out = TX.chunk_documents(d, "text", "doc_id", chunk_tokens=64, overlap=16)
    return out.select(
        F.col("id").alias("doc_id"), "chunk_index", "n_chunks",
        "chunk_text", "n_tokens",
    )


@query(
    "doc_redact_pii",
    oracle="""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1 (555) 010-'
              || doc_id || ' at 10.0.' || (doc_id % 256) || '.7' AS raw
  FROM documents)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
         '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM seeded
""",
    doc="PII redaction for corpus curation: emails -> <EMAIL>, IPv4 -> "
        "<IP>, phone-like runs -> <PHONE>, applied in that order; "
        "patterns stay in the Java/RE2 common regex subset so the "
        "oracle applies the identical expressions.",
)
def doc_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    k = F.col("doc_id")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), k.cast("string"), F.lit("@example.com or +1 (555) 010-"),
            k.cast("string"), F.lit(" at 10.0."), (k % 256).cast("string"), F.lit(".7"),
        ).alias("raw"),
    )
    return seeded.select("doc_id", TX.redact_pii(F.col("raw")).alias("redacted"))


@query(
    "doc_segment_dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
segs AS (
  SELECT doc_id, CAST(i AS INT) AS seg_no,
         array_to_string(list_slice(toks, i * 16 + 1, i * 16 + 16), ' ') AS seg
  FROM t, unnest(range(0, CAST(ceil(len(toks) / 16.0) AS INT))) AS u(i)),
ranked AS (
  SELECT doc_id, seg_no, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
  FROM segs)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       string_agg(seg, ' ' ORDER BY seg_no) AS text_dedup
FROM ranked WHERE rn = 1
GROUP BY doc_id
""",
    doc="Cross-document exact segment dedup (substring-level dedup at "
        "16-token granularity, first occurrence wins): explode to "
        "spans, rank occurrences in one shuffle partitioned by span "
        "text, reassemble survivors per doc. Fully-duplicated docs "
        "drop out of the result.",
)
def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    out = TX.segment_dedup(d, "text", "doc_id", segment_tokens=16)
    return out.select(F.col("id").alias("doc_id"), "n_kept", "text_dedup")


@query(
    "text_repetition",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
g AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                        i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS bi,
         list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                        i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS tri
  FROM t)
SELECT doc_id, n_tokens,
       CASE WHEN len(bi) > 0
            THEN round(1 - len(list_distinct(bi)) / CAST(len(bi) AS DOUBLE), 4)
            ELSE 0.0 END AS dup_bigram_ratio,
       CASE WHEN len(tri) > 0
            THEN round(1 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE), 4)
            ELSE 0.0 END AS dup_trigram_ratio
FROM g
""",
    doc="Within-document repetition signals (Gopher/MassiveText "
        "repetition filters): duplicate word-bigram and -trigram "
        "fractions — flags boilerplate docs that are unique as "
        "documents but internally repetitive. Pure codegen "
        "expressions, no shuffle.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: per-doc HOF/hash work would serialize on the 1-split scan
    d = fan_out(load(spark, sf_dir, "documents"))
    # staged form: tokenize once per row, each gram array built once
    return TX.repetition_features_df(d, "text", keep=["doc_id"])


# ---------------------------------------------------------------------------
# incremental dedup: arriving batch vs existing corpus
# ---------------------------------------------------------------------------
_INCR_CORPUS_SQL = """
corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000, text || ' update' FROM documents
  WHERE doc_id % 5 = 0)
"""


@query(
    "dedup_incremental",
    oracle=f"""
WITH {_INCR_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()}
SELECT DISTINCT a.id AS new_id, b.id AS dup_of
FROM bands a JOIN bands b
  ON a.band_hash = b.band_hash AND b.id < a.id
WHERE a.id >= 500000
""",
    doc="Incremental LSH dedup — the daily-ingest shape: an arriving "
        "batch (docs with doc_id%5=0, lightly mutated, re-keyed after "
        "the corpus) is shingled and banded, then joined against the "
        "stored corpus band table + itself. batch x (corpus + earlier "
        "batch) candidates only; corpus x corpus never re-runs, the "
        "corpus never shuffles (batch side broadcast).",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    batch = fan_out(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 500000).alias("id"),
            F.concat(F.col("text"), F.lit(" update")).alias("text"),
        )
    )
    # the batch band table feeds BOTH sides of the candidate join (the
    # union and the broadcast) — persist so the batch is shingled once
    batch_bands = persist_tracked(
        D.lsh_bands(
            D.minhash_signature(batch, "text", "id", num_hashes=NUM_HASHES),
            num_hashes=NUM_HASHES, bands=BANDS,
        )
    )
    return D.incremental_band_candidates(
        _shared_plain_bands(spark, sf_dir), batch_bands
    )


# ---------------------------------------------------------------------------
# embedding storage quantization (int8)
# ---------------------------------------------------------------------------
@query(
    "embedding_quantize",
    oracle="""
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings),
q AS (
  SELECT vec_id, maxabs,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT)) AS qv
  FROM s)
SELECT vec_id,
       round(maxabs / 127.0, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       CAST(list_min(qv) AS BIGINT) AS q_min
FROM q
""",
    doc="int8 storage quantization per vector (symmetric absmax scale, "
        "floor(x*127/maxabs + 0.5) — identical half-up rounding in both "
        "engines): 4x smaller vectors for the ANN corpus; emits scale "
        "and quantized checksums. One narrow projection, no shuffle.",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    qv = F.transform(
        v, lambda x: F.floor(x * F.lit(127.0) / maxabs + F.lit(0.5)).cast("long")
    )
    return emb.select(
        "vec_id",
        F.round(maxabs / F.lit(127.0), 6).alias("scale"),
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_max(qv).alias("q_max"),
        F.array_min(qv).alias("q_min"),
    )


# ---------------------------------------------------------------------------
# BM25-shaped retrieval scoring (integer fixed-point, exact cross-engine)
# ---------------------------------------------------------------------------
_BM25_TERMS = ["hash", "merge", "scan"]

# Shared oracle fragment: per-doc BM25 totals over _BM25_TERMS —
# consumed by doc_bm25_topk and retrieval_rrf_fusion.
_BM25_TOTALS_SQL = """
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
  FROM toks WHERE term <> '' GROUP BY doc_id),
stats AS (
  SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n FROM dl),
dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY term),
scored AS (
  SELECT f.doc_id,
         ((88 * s.t * f.tf * 1000000)
          // (40 * s.t * f.tf + 12 * s.t + 36 * l.dl * s.n))
         * (((s.n - d.df) * 2 + 1) * 1000000 // (d.df * 2 + 1))
         // 1000000 AS term_score
  FROM tf f
  JOIN dl l USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN stats s
  WHERE f.term IN ('hash', 'merge', 'scan')),
totals AS (
  SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_ppm
  FROM scored GROUP BY doc_id)
"""


@query(
    "doc_bm25_topk",
    oracle=f"""
WITH {_BM25_TOTALS_SQL.strip()}
SELECT doc_id, score_ppm,
       CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS INT) AS rnk
FROM totals
ORDER BY score_ppm DESC, doc_id LIMIT 10
""",
    doc="BM25-shaped retrieval: Okapi tf saturation + length "
        "normalization (k1=1.2, b=0.75) and a RATIONAL idf — all in "
        "exact fixed-point BIGINT arithmetic (score_ppm = "
        "tfnorm * idf, each scaled 1e6), so both engines agree "
        "bit-for-bit; the float-log idf is deliberately replaced by "
        "its rational core (N-df+.5)/(df+.5), documented divergence "
        "from textbook BM25. Plan: tf/dl/df aggregates, stats and the "
        "3-term query set broadcast, one top-k window.",
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    totals = _bm25_totals(spark, sf_dir)
    w = Window.orderBy(F.col("score_ppm").desc(), F.col("doc_id"))
    return (
        totals.withColumn("rnk", F.row_number().over(w).cast("int"))
        .orderBy(F.col("score_ppm").desc(), "doc_id")
        .limit(10)
        .select("doc_id", "score_ppm", "rnk")
    )


def _bm25_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fixed-point BM25 totals over _BM25_TERMS (docs with at
    least one query-term hit) — the Spark twin of _BM25_TOTALS_SQL."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.sum("dl").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    scored = (
        tf.filter(F.col("term").isin(_BM25_TERMS))
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        # `div` is true integral division (same as DuckDB //) — the
        # double-division-then-floor alternative silently loses
        # exactness past 2^53, which a corpus-sized T*tf*1e6 reaches.
        .select(
            "doc_id",
            F.expr(
                "((88 * t * tf * 1000000) div "
                " (40 * t * tf + 12 * t + 36 * dl * n))"
            ).alias("__tfn_ppm"),
            F.expr("(((n - df) * 2 + 1) * 1000000) div (df * 2 + 1)").alias(
                "__idf_ppm"
            ),
        )
        .select(
            "doc_id",
            F.expr("(__tfn_ppm * __idf_ppm) div 1000000").alias("term_score"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_score").cast("long").alias("score_ppm")
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction: first-merge pair frequencies
# ---------------------------------------------------------------------------
@query(
    "bpe_merge_candidates",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
words AS (SELECT term FROM toks WHERE term <> ''),
chars AS (
  SELECT term, regexp_extract_all(term, '.') AS cs FROM words),
pairs AS (
  SELECT unnest(list_transform(range(1, len(cs)),
                               i -> cs[i] || cs[i + 1])) AS pair
  FROM chars WHERE len(cs) >= 2),
counted AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY pair)
SELECT pair, n,
       CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk
FROM counted
ORDER BY n DESC, pair LIMIT 20
""",
    doc="BPE vocabulary induction, step 1: adjacent character-pair "
        "frequencies over all corpus word occurrences — the argmax "
        "pair is the first BPE merge. Explode words -> in-place pair "
        "expansion (JVM transform, no per-char rows until the explode) "
        "-> one count shuffle -> top-20. The iteration loop of full "
        "BPE training repeats this with merged symbols.",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    cs = F.split(F.col("term"), "")
    pairs = words.select(
        F.explode(
            F.when(
                F.size(cs) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(cs) - 1),
                    lambda i: F.concat(
                        F.element_at(cs, i), F.element_at(cs, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy(F.col("n").desc(), "pair")
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("int"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
        .select("pair", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# BPE vocabulary induction: ITERATIVE merges (round 6 — completes the
# bpe_merge_candidates story: recount between rounds, 3 merges learned)
# ---------------------------------------------------------------------------
_BPE_SEP = chr(31)  # symbol delimiter; words containing it are filtered
_BPE_SS = _BPE_SEP * 2


def _bpe_iter_oracle(rounds: int = 3) -> str:
    """Unrolled DuckDB twin of the Spark merge loop. Symbol sequences
    live as SEP SEP-delimited padded strings (``⟂⟂a⟂⟂b⟂⟂``), so applying
    merge (a,b) is plain replace('⟂a⟂⟂b⟂' -> '⟂ab⟂') — leftmost
    non-overlapping in BOTH engines, which IS greedy BPE application
    (verified on aaa/aaaa/llll/abab)."""
    sep, ss = _BPE_SEP, _BPE_SS
    sql = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[ \t\n\r]+')) AS term
  FROM documents),
wordtab1 AS (
  SELECT '{ss}' || array_to_string(regexp_extract_all(term, '.'), '{ss}')
         || '{ss}' AS s,
         CAST(count(*) AS BIGINT) AS wn
  FROM toks WHERE term <> '' AND term NOT LIKE '%{sep}%'
  GROUP BY 1)"""
    for r in range(1, rounds + 1):
        sql += f""",
pairs{r} AS (
  SELECT wn,
         unnest(list_transform(range(1, len(sy)),
                               i -> sy[i] || '{sep}' || sy[i + 1])) AS pair
  FROM (SELECT wn,
               list_filter(string_split(s, '{ss}'), x -> x <> '') AS sy
        FROM wordtab{r})
  WHERE len(sy) >= 2),
cnt{r} AS (
  SELECT string_split(pair, '{sep}')[1] AS a,
         string_split(pair, '{sep}')[2] AS b,
         CAST(sum(wn) AS BIGINT) AS n
  FROM pairs{r} GROUP BY pair),
best{r} AS (SELECT a, b, n FROM cnt{r} ORDER BY n DESC, a, b LIMIT 1),
wordtab{r + 1} AS (
  SELECT replace(w.s, '{sep}' || b.a || '{ss}' || b.b || '{sep}',
                 '{sep}' || b.a || b.b || '{sep}') AS s, w.wn
  FROM wordtab{r} w CROSS JOIN best{r} b)"""
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS rnd, a AS sym_a, b AS sym_b, n "
        f"FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return sql + "\n" + arms


@query(
    "bpe_iterative_merges",
    oracle=_bpe_iter_oracle(3),
    doc="BPE vocabulary induction, the ITERATIVE loop: 3 merge rounds "
        "with a full pair-recount between rounds — completes "
        "bpe_merge_candidates (which computes only the first argmax). "
        "The training state is the distinct-WORD frequency table (the "
        "classic Sennrich setup: vocab-sized, not corpus-sized — at "
        "100 TB the corpus tokenize+count happens once and every merge "
        "round touches only |vocab| rows). Symbol sequences are padded "
        "SEP SEP-joined strings, so applying a merge is one replace() "
        "with the same leftmost non-overlapping semantics in Spark and "
        "DuckDB == greedy BPE application; symbols can never contain "
        "the delimiter (filtered at ingest). Each round: adjacent-pair "
        "explode weighted by word count, one aggregate, a 1-row argmax "
        "(n desc, a, b) that is persisted+counted BEFORE the broadcast "
        "apply — the round-5 lesson: an unmaterialized scalar subtree "
        "shared with the main plan makes the broadcast build race the "
        "main job. Output: (rnd, sym_a, sym_b, n) per learned merge.",
)
def bpe_iterative_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    sep, ss = _BPE_SEP, _BPE_SS
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower("text"), "[ \t\n\r]+")).alias("term")
    ).filter((F.col("term") != "") & (~F.col("term").contains(sep)))
    cur = persist_tracked(
        words.select(
            F.concat(
                F.lit(ss), F.array_join(F.split("term", ""), ss), F.lit(ss)
            ).alias("s")
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
    )
    cur.count()  # materialize before the scalar argmax derives from it
    merges = []
    for r in (1, 2, 3):
        sy = F.filter(F.split("s", ss), lambda x: x != F.lit(""))
        pairs = cur.select(
            "wn",
            F.explode(
                F.when(
                    F.size(sy) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(sy) - 1),
                        lambda i: F.struct(
                            F.element_at(sy, i).alias("a"),
                            F.element_at(sy, i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("p"),
        )
        cnt = pairs.groupBy("p.a", "p.b").agg(
            F.sum("wn").cast("long").alias("n")
        )
        best = persist_tracked(
            cnt.orderBy(F.col("n").desc(), "a", "b").limit(1)
        )
        best.count()  # 1-row frame: fill the persist before both uses
        merges.append(
            best.select(
                F.lit(r).cast("int").alias("rnd"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                "n",
            )
        )
        if r < 3:
            nxt = cur.crossJoin(
                F.broadcast(best.select("a", "b"))
            ).select(
                F.replace(
                    F.col("s"),
                    F.concat(
                        F.lit(sep), F.col("a"), F.lit(ss), F.col("b"),
                        F.lit(sep),
                    ),
                    F.concat(F.lit(sep), F.col("a"), F.col("b"), F.lit(sep)),
                ).alias("s"),
                "wn",
            )
            # re-aggregate: two words can COLLIDE onto one symbol string
            # after a merge only if they were equal pre-merge (replace is
            # injective on the padded form), so grouping again is a no-op
            # logically but keeps the frame slim if that ever changes
            cur = persist_tracked(nxt)
            cur.count()
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


# ---------------------------------------------------------------------------
# classifier evaluation: language-ID confusion matrix
# ---------------------------------------------------------------------------
@query(
    "lang_id_confusion",
    oracle=(
        # _lang_sql is "WITH f AS (...)\nSELECT ... FROM f"; lift its
        # final SELECT into a pred CTE and aggregate against the labels
        _lang_sql().rsplit("\nSELECT", 1)[0]
        + ",\npred AS (SELECT"
        + _lang_sql().rsplit("\nSELECT", 1)[1]
        + """)
SELECT d.lang AS label, p.lang_pred AS pred, CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN pred p ON p.doc_id = d.doc_id
GROUP BY d.lang, p.lang_pred
"""
    ),
    doc="Classifier evaluation: the labeled lang column crossed with "
        "the stopword-argmax prediction — a confusion matrix as one "
        "groupBy; the shape every model-eval job reduces to, and the "
        "precision/recall source for the lang-ID heuristic.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # label and prediction live on the same row — one projection, one
    # partial-agg shuffle; a label-table join would only be needed when
    # predictions are materialized separately
    d = fan_out(load(spark, sf_dir, "documents"))
    return (
        d.select(
            F.col("lang").alias("label"),
            TX.lang_id(F.col("text")).alias("pred"),
        )
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# classifier agreement: Cohen's kappa (round 6)
# ---------------------------------------------------------------------------
@query(
    "doc_lang_kappa",
    oracle=(
        _lang_sql().rsplit("\nSELECT", 1)[0]
        + ",\npred AS (SELECT"
        + _lang_sql().rsplit("\nSELECT", 1)[1]
        + """),
conf AS (
  SELECT d.lang AS label, p.lang_pred AS pred,
         CAST(count(*) AS BIGINT) AS n
  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
  GROUP BY d.lang, p.lang_pred),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(CASE WHEN label = pred THEN n ELSE 0 END) AS BIGINT) AS po
  FROM conf),
rm AS (SELECT label AS cls, CAST(sum(n) AS BIGINT) AS r
       FROM conf GROUP BY label),
cm AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS c
       FROM conf GROUP BY pred),
sm AS (SELECT CAST(sum(r.r * c.c) AS BIGINT) AS s
       FROM rm r JOIN cm c USING (cls)),
k AS (
  SELECT nn, po, s,
         abs(nn * po - s) AS kx,
         CASE WHEN nn * po - s < 0 THEN -1 ELSE 1 END AS ksign,
         greatest(nn * nn - s, 1) AS kd
  FROM tot, sm)
SELECT nn AS n_docs,
       CAST(po * 1000000 // nn AS BIGINT) AS po_ppm,
       CAST(s // (nn * nn) * 1000000
            + (s % (nn * nn)) * 1000 // (nn * nn) * 1000
            + ((s % (nn * nn)) * 1000 % (nn * nn)) * 1000 // (nn * nn)
            AS BIGINT) AS pe_ppm,
       CAST(ksign * (kx // kd * 1000000
                     + (kx % kd) * 1000 // kd * 1000
                     + ((kx % kd) * 1000 % kd) * 1000 // kd)
            AS BIGINT) AS kappa_ppm
FROM k
"""
    ),
    doc="Cohen's kappa between the labeled lang column and the "
        "stopword-argmax predictor — chance-corrected agreement, the "
        "one-number summary of lang_id_confusion (raw accuracy "
        "flatters a classifier on skewed label mixes; kappa subtracts "
        "the marginal-product chance rate). Entirely BIGINT: kappa = "
        "(N*po - S) / (N^2 - S) with S = sum of row*column marginal "
        "products, emitted in ppm with truncating integer division — "
        "Spark's `div` and DuckDB's `//` agree on negatives (verified "
        "-7/2 = -3 both), so even a worse-than-chance kappa hashes "
        "identically. The ppm steps use the chained-remainder identity "
        "(never forming X*1e6 over the quadratic marginal products), "
        "exact while nn^2*1000 < 2^63 (~9.6e7 docs; widen to DECIMAL "
        "beyond). The confusion matrix is one partial-agg shuffle "
        "over label x pred (25 cells); everything after is "
        "domain-sized.",
)
def doc_lang_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"))
    conf = persist_tracked(
        d.select(
            F.col("lang").alias("label"),
            TX.lang_id(F.col("text")).alias("pred"),
        )
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    conf.count()  # 25-cell frame: fill before the three derived aggs
    tot = conf.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.when(F.col("label") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("po"),
    )
    rm = conf.groupBy(F.col("label").alias("cls")).agg(
        F.sum("n").cast("long").alias("r")
    )
    cm = conf.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").cast("long").alias("c")
    )
    sm = rm.join(cm, "cls").agg(
        F.sum(F.col("r") * F.col("c")).cast("long").alias("s")
    )
    # chained-remainder exact ppm (see events_model_auc): s and
    # |nn*po - s| are <= nn^2, so forming X*1e6 would overflow BIGINT
    # past ~3e6 docs; the identity never does, staying exact while
    # nn^2 * 1000 < 2^63 (~9.6e7 docs; widen to DECIMAL beyond).
    # kappa can be NEGATIVE: chain on |X| and re-apply the sign (both
    # engines' % and integer division truncate toward zero on the
    # non-negative operands used here). greatest(...,1): pe=1 (single
    # class on both sides) zeroes the numerator too, so both engines
    # emit 0 instead of ANSI-error-vs-NULL divergence.
    k = tot.crossJoin(F.broadcast(sm)).select(
        "nn", "po", "s",
        F.expr("abs(nn * po - s)").alias("kx"),
        F.expr("CASE WHEN nn * po - s < 0 THEN -1 ELSE 1 END").alias(
            "ksign"
        ),
        F.expr("greatest(nn * nn - s, 1)").alias("kd"),
    )
    return k.select(
        F.col("nn").alias("n_docs"),
        F.expr("CAST(po * 1000000 div nn AS BIGINT)").alias("po_ppm"),
        F.expr(
            "CAST(s div (nn * nn) * 1000000 "
            "+ (s % (nn * nn)) * 1000 div (nn * nn) * 1000 "
            "+ ((s % (nn * nn)) * 1000 % (nn * nn)) * 1000 "
            "  div (nn * nn) AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            "CAST(ksign * (kx div kd * 1000000 "
            "+ (kx % kd) * 1000 div kd * 1000 "
            "+ ((kx % kd) * 1000 % kd) * 1000 div kd) AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# containment dedup: docs that are substrings of another doc
# ---------------------------------------------------------------------------
@query(
    "dedup_containment",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id)
SELECT c.id_a AS contained_id, c.id_b AS container_id
FROM cand c
JOIN corpus x ON x.id = c.id_a
JOIN corpus y ON y.id = c.id_b
WHERE length(x.text) < length(y.text) AND position(x.text IN y.text) > 0
UNION ALL
SELECT c.id_b, c.id_a
FROM cand c
JOIN corpus x ON x.id = c.id_b
JOIN corpus y ON y.id = c.id_a
WHERE length(x.text) < length(y.text) AND position(x.text IN y.text) > 0
""",
    doc="Containment dedup: a doc strictly contained in a longer doc "
        "is a duplicate even when shingle Jaccard is low. The "
        "substring test runs ONLY on LSH candidate pairs (shared band "
        "table), so the quadratic arm stays bucket-bounded; texts join "
        "back to the narrow pair list after candidate dedup.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))
    xa = corpus.select(F.col("id").alias("id_a"), F.col("text").alias("__ta"))
    xb = corpus.select(F.col("id").alias("id_b"), F.col("text").alias("__tb"))
    joined = pairs.join(xa, "id_a").join(xb, "id_b")
    a_in_b = joined.filter(
        (F.length("__ta") < F.length("__tb"))
        & (F.instr(F.col("__tb"), F.col("__ta")) > 0)
    ).select(
        F.col("id_a").alias("contained_id"), F.col("id_b").alias("container_id")
    )
    b_in_a = joined.filter(
        (F.length("__tb") < F.length("__ta"))
        & (F.instr(F.col("__ta"), F.col("__tb")) > 0)
    ).select(
        F.col("id_b").alias("contained_id"), F.col("id_a").alias("container_id")
    )
    return a_in_b.unionByName(b_in_a)


@query(
    "embedding_pq_topk",
    oracle="""
SELECT vec_id AS query_id, TRUE AS recall_floor_ok, TRUE AS mean_recall_ok
FROM embeddings WHERE vec_id % 97 = 0
""",
    doc="Product-quantization ANN (ADC): vectors compress to 32 "
        "byte-codes (seeded per-subspace k-means codebooks trained on "
        "a driver sample); query scoring reads only the codes via "
        "per-query distance-table lookups — no vector traffic. "
        "Value-checked like IVF: recall vs brute-force cosine top-5 — "
        "every query recovers >= 1 true neighbor (floor) and mean "
        "recall >= 0.5, both booleans the oracle pins TRUE. (Measured: "
        "mean 0.83 @ sf0.01, 0.73 @ sf0.1, per-query min 0.8 / 0.4 — "
        "seeded training, deterministic.)",
)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    # fan_out the corpus (see embedding_ivf_topk)
    corpus = fan_out(emb)
    pq = S.pq_topk(queries, corpus, k=5).select("query_id", "neighbor_id")
    brute = S.cosine_topk(queries, corpus, k=5).select("query_id", "neighbor_id")
    hits = (
        pq.join(brute, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    per_q = (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select("query_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    mean_recall = F.avg(F.col("hits") / 5.0).over(Window.partitionBy())
    return per_q.select(
        "query_id",
        (F.col("hits") >= 1).alias("recall_floor_ok"),
        (mean_recall >= 0.5).alias("mean_recall_ok"),
    )


@query(
    "embedding_ivfpq_topk",
    oracle="""
SELECT vec_id AS query_id, TRUE AS recall_floor_ok, TRUE AS mean_recall_ok
FROM embeddings WHERE vec_id % 97 = 0
""",
    doc="IVF+PQ composed ANN (round 11; round 12 adds RESIDUAL "
        "encoding + IVFADC+R re-ranking) — the canonical "
        "billion-scale serving shape: IVF gates WHICH rows get scored "
        "(each query touches only its nprobe=8 nearest of "
        "auto_cells(n) k-means cells — constant expected cell size, "
        "so candidate volume is corpus-size-invariant), PQ makes each "
        "score CHEAP (rows are 32 byte-codes quantizing the RESIDUAL "
        "v - c_cell, classical IVFADC; the per-(query,cell) distance "
        "table decomposes into a per-query table + a per-cell table + "
        "the already-computed probe scalar, so no table blowup), and "
        "the rerank=20 refinement arm fetches the 20 ADC winners' "
        "true vectors BY ID (point lookups, not a scan) for an exact "
        "L2 re-rank — Jegou et al.'s IVFADC+R, the standard "
        "production shape. Value-checked: recall vs brute-force "
        "cosine top-5 — every query recovers >= 1 true neighbor and "
        "mean recall >= 0.7 (raised from 0.5 this round), both "
        "pinned TRUE (measured min/mean: 0.60/0.83 @ sf0.001, "
        "0.80/0.93 @ sf0.01, 0.60/0.83 @ sf0.1 — seeded, "
        "deterministic; pre-rerank ADC alone reads 0.40/0.70 @ "
        "sf0.1 vs the nprobe=8 exact-scan ceiling 0.60/0.80).",
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    corpus = fan_out(emb)
    got = S.ivfpq_topk(
        queries, corpus, k=5, nprobe=8, m=32, codebook=64, rerank=20
    ).select("query_id", "neighbor_id")
    brute = S.cosine_topk(queries, corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = (
        got.join(brute, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    per_q = (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select("query_id", F.coalesce("hits", F.lit(0)).alias("hits"))
    )
    mean_recall = F.avg(F.col("hits") / 5.0).over(Window.partitionBy())
    return per_q.select(
        "query_id",
        (F.col("hits") >= 1).alias("recall_floor_ok"),
        (mean_recall >= 0.7).alias("mean_recall_ok"),
    )


@query(
    "embedding_ivfpq_index_serve",
    oracle="""
SELECT vec_id AS query_id, TRUE AS matches_inline, TRUE AS recall_floor_ok
FROM embeddings WHERE vec_id % 97 = 0
""",
    doc="STORED IVF+PQ index serve (round 11; round 12: residual "
        "codes + IVFADC+R — the serve-many-times lifecycle form of "
        "embedding_ivfpq_topk): build_ivfpq_index trains once and "
        "writes centroids/books (KBs) plus the residual byte-code "
        "table partitioned by cell (meta records encoding=residual; "
        "serving a pre-residual index RAISES instead of silently "
        "mis-ranking); ivfpq_query_index loads the KB-sized trainer "
        "output to the driver and scans ONLY the probed cell "
        "partitions (cell IN (...) -> parquet partition pruning, "
        "plan-asserted in pytest), then the rerank=20 arm fetches the "
        "ADC winners' true vectors by id for the exact re-rank (the "
        "stored index holds no vectors — the caller provides the "
        "corpus frame). The gate pins two booleans TRUE per query: "
        "the served top-5 EQUALS the inline operator's top-5 "
        "bit-for-bit (one shared seeded trainer + the SAME "
        "_exact_rerank helper), and the served pool recovers >= 1 "
        "exact top-5 neighbor.",
)
def embedding_ivfpq_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.plans.parity_stream import (
        _ann_index_dir,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    idx = _ann_index_dir(
        spark, sf_dir, "ivfpq",
        lambda p: S.build_ivfpq_index(emb, p, m=32, codebook=64),
    )
    # served feeds BOTH the bit-equality diff and the recall hits —
    # eager checkpoint_tracked so the index scan + ADC + rerank subtree
    # runs once (two consumers racing an unmaterialized cache duplicate
    # the serve scan — the kcore race class) and the serve lineage is
    # truncated before the diff re-analyzes it.
    served = S.ivfpq_query_index(
        spark, idx, queries, k=5, nprobe=8,
        rerank=20, rerank_corpus=fan_out(emb),
    ).select("query_id", "neighbor_id").transform(checkpoint_tracked)
    # r12 optimization: the inline twin reuses the STORED index's
    # frozen trainer — it is the identical seeded trainer (same
    # ordered 8192-row sample, float64 parquet round-trips bit-exact),
    # so retraining (corpus count + sample collect + driver k-means)
    # inside this query only re-derived the same arrays. The served ==
    # inline bit-equality the gate pins is unchanged; plan shape diff:
    # 2 fewer driver jobs. (_load_ivfpq_trainer is memoized per path,
    # so this read is free after ivfpq_query_index.)
    _meta, _centers, _books = S._load_ivfpq_trainer(spark, idx)
    inline = S.ivfpq_topk(
        queries, fan_out(emb), k=5, nprobe=8, m=32, codebook=64,
        rerank=20, trainer=(_centers, _books),
    ).select("query_id", "neighbor_id")
    diff = (
        served.withColumn("__a", F.lit(1))
        .join(
            inline.withColumn("__b", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .filter(F.col("__a").isNull() | F.col("__b").isNull())
    )
    mism = diff.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_bad"))
    brute = S.cosine_topk(queries, fan_out(emb), k=5).select(
        "query_id", "neighbor_id"
    )
    hits = (
        served.join(brute, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(mism, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_bad", F.lit(0)).eqNullSafe(0)
            .alias("matches_inline"),
            (F.coalesce("hits", F.lit(0)) >= 1).alias("recall_floor_ok"),
        )
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style keep/drop verdicts over embeddings)
# ---------------------------------------------------------------------------
_SEMDEDUP_ORACLE = f"""
WITH {_ND_CORPUS_SQL},
{_ND_PARAMS_SQL},
{_ND_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id),
va AS (SELECT id AS id_a, emb AS ea FROM corpus),
vb AS (SELECT id AS id_b, emb AS eb FROM corpus),
pairs AS (
  SELECT c.id_a, c.id_b, ea, eb FROM cand c JOIN va USING (id_a) JOIN vb USING (id_b)),
expl AS (
  SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs),
dots AS (
  SELECT id_a, id_b, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM expl GROUP BY id_a, id_b),
dropped AS (
  SELECT DISTINCT id_b AS id FROM dots
  WHERE round(dot / (sqrt(nx) * sqrt(ny)), 6) >= 0.9)
SELECT c.id, d.id IS NULL AS kept
FROM corpus c LEFT JOIN dropped d ON d.id = c.id
"""


@query(
    "embedding_semdedup",
    oracle=_SEMDEDUP_ORACLE,
    doc="Semantic dedup (SemDeDup-shaped): per-vector keep/drop "
        "verdicts — a vector is dropped when any LOWER-id vector in a "
        "shared LSH bucket sits at cosine >= 0.9 (lowest id is the "
        "cluster representative). The same multi-table LSH gating as "
        "embedding_near_dup, materialized as the curation decision "
        "instead of the pair list; candidate shuffle carries ids only.",
)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_near_dup_q(spark, sf_dir)
    dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(F.col("vec_id").alias("id"))
    corpus = base.unionByName(base.select((F.col("id") + 100000).alias("id")))
    return corpus.join(
        dropped.withColumn("__d", F.lit(True)), "id", "left"
    ).select("id", F.col("__d").isNull().alias("kept"))


# ---------------------------------------------------------------------------
# sketch-accuracy evaluation: minhash estimate vs exact Jaccard
# ---------------------------------------------------------------------------
def _est_matches_sql() -> str:
    terms = " + ".join(
        f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END"
        for s in range(NUM_HASHES)
    )
    return f"""
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
est AS (
  SELECT c.id_a, c.id_b, CAST({terms} AS BIGINT) AS matches
  FROM cand c
  JOIN sigs sa ON sa.id = c.id_a
  JOIN sigs sb ON sb.id = c.id_b)"""


@query(
    "minhash_est_error",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
{_est_matches_sql()},
shh AS (SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS sh FROM sh),
sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY id),
inter AS (
  SELECT e.id_a, e.id_b, count(*) AS i
  FROM est e
  JOIN shh a ON a.id = e.id_a
  JOIN shh b ON b.id = e.id_b AND b.sh = a.sh
  GROUP BY e.id_a, e.id_b)
SELECT e.id_a, e.id_b,
       CAST(e.matches * 1000000 // {NUM_HASHES} AS BIGINT) AS est_ppm,
       CAST(coalesce(i.i, 0) * 1000000
            // (sa.n + sb.n - coalesce(i.i, 0)) AS BIGINT) AS jaccard_ppm,
       CAST(abs(e.matches * 1000000 // {NUM_HASHES}
                - coalesce(i.i, 0) * 1000000
                  // (sa.n + sb.n - coalesce(i.i, 0))) AS BIGINT) AS err_ppm
FROM est e
LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
JOIN sizes sa ON sa.id = e.id_a
JOIN sizes sb ON sb.id = e.id_b
""",
    doc="Sketch-accuracy audit: per LSH-candidate pair, the MinHash(16) "
        "similarity estimate (matching signature positions / 16) "
        "against the exact shingle Jaccard, with the absolute error — "
        "all in integer ppm so cross-engine hashes are exact. This is "
        "the query you run before trusting a sketch at 100 TB: it "
        "reuses the persisted shingle/band subplans (no re-explode) "
        "and only ever scores LSH candidates, never all pairs.",
)
def minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shared_shingles(spark, sf_dir)
    cand = D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))
    # r13 A/B note: materializing sigs (persist+count, deduping the
    # sa/sb double evaluation of the 16-min-agg) measured EXACTLY
    # neutral same-window (floors 4.01 vs 4.09, means equal) — the
    # duplicate agg over the persisted shingle frame costs what the
    # extra fill job costs. Left as the simpler lazy form.
    sigs = D.minhash_signature_from_hashes(sh, num_hashes=NUM_HASHES)
    sa = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"h{s}").alias(f"__a{s}") for s in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"h{s}").alias(f"__b{s}") for s in range(NUM_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"__a{s}") == F.col(f"__b{s}"), 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", matches.cast("long").alias("matches"))
    )
    # set-array layout via the shared helper (one array row per doc
    # instead of per-shingle join rows): values identical to the
    # exploded count-join, ~2x less wall time
    out = D.set_overlap_on_pairs(
        sh.select("id", F.col("sh64").alias("sh")), est
    ).withColumn("__i", F.col("inter").cast("long"))
    return out.select(
        "id_a", "id_b",
        F.expr(f"matches * 1000000 div {NUM_HASHES}").cast("long")
         .alias("est_ppm"),
        F.expr("__i * 1000000 div (na + nb - __i)").cast("long")
         .alias("jaccard_ppm"),
        F.expr(f"abs(matches * 1000000 div {NUM_HASHES}"
               " - __i * 1000000 div (na + nb - __i))").cast("long")
         .alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of BM25 and rarity rankers
# ---------------------------------------------------------------------------
@query(
    "retrieval_rrf_fusion",
    oracle=f"""
WITH {_BM25_TOTALS_SQL.strip()},
rtoks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
rt2 AS (SELECT * FROM rtoks WHERE tok <> ''),
rcounts AS (SELECT tok, count(*) AS cnt FROM rt2 GROUP BY tok),
rar AS (
  SELECT doc_id,
         CAST(floor(sum(floor(1000000 / cnt)) / count(*)) AS BIGINT)
           AS rarity_mean
  FROM rt2 JOIN rcounts USING (tok) GROUP BY doc_id),
ra AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS rnk_bm25
  FROM totals),
rb AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY rarity_mean DESC, doc_id) AS rnk_rarity
  FROM rar),
fused AS (
  SELECT doc_id,
         CAST(ra.rnk_bm25 AS INT) AS rnk_bm25,
         CAST(rb.rnk_rarity AS INT) AS rnk_rarity,
         CAST(coalesce(1000000 // (60 + ra.rnk_bm25), 0)
              + coalesce(1000000 // (60 + rb.rnk_rarity), 0) AS BIGINT)
           AS rrf_ppm
  FROM (SELECT * FROM ra WHERE rnk_bm25 <= 1000) ra
  FULL OUTER JOIN (SELECT * FROM rb WHERE rnk_rarity <= 1000) rb
    USING (doc_id))
SELECT doc_id, rnk_bm25, rnk_rarity, rrf_ppm,
       CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS INT) AS rnk
FROM fused
ORDER BY rrf_ppm DESC, doc_id LIMIT 10
""",
    doc="Hybrid retrieval: reciprocal-rank fusion (k=60, integer "
        "1e6//(k+rank) so both engines agree exactly) of the BM25 "
        "lexical ranker and the unigram-rarity ranker, each capped at "
        "its top-1000 list (standard RRF practice — and what keeps the "
        "rank window bounded at 100 TB: rank only the per-ranker top-k "
        "survivors via 2-phase top-k, never a global sort of the "
        "corpus). Full-outer join on doc_id, missing list membership "
        "contributes 0.",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from advanced_strapi_import_spark.operators import curation as CU

    d = load(spark, sf_dir, "documents")
    totals = _bm25_totals(spark, sf_dir)
    rar = CU.doc_rarity(d).select("doc_id", "rarity_mean")
    wa = Window.orderBy(F.col("score_ppm").desc(), F.col("doc_id"))
    wb = Window.orderBy(F.col("rarity_mean").desc(), F.col("doc_id"))
    ra = (
        totals.withColumn("rnk_bm25", F.row_number().over(wa).cast("int"))
        .filter(F.col("rnk_bm25") <= 1000)
        .select("doc_id", "rnk_bm25")
    )
    rb = (
        rar.withColumn("rnk_rarity", F.row_number().over(wb).cast("int"))
        .filter(F.col("rnk_rarity") <= 1000)
        .select("doc_id", "rnk_rarity")
    )
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id", "rnk_bm25", "rnk_rarity",
        (
            F.coalesce(F.expr("1000000 div (60 + rnk_bm25)"), F.lit(0))
            + F.coalesce(F.expr("1000000 div (60 + rnk_rarity)"), F.lit(0))
        ).cast("long").alias("rrf_ppm"),
    )
    w = Window.orderBy(F.col("rrf_ppm").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("int"))
        .orderBy(F.col("rrf_ppm").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# PageRank over the LSH candidate-pair graph (iterative, integer-exact)
# ---------------------------------------------------------------------------
def _pagerank_iters_sql(n_iters: int) -> str:
    its = ["it0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes)"]
    for i in range(1, n_iters + 1):
        its.append(f"""
it{i} AS (
  SELECT n.id,
         CAST(150000 + (850 * coalesce(c.s, 0)) // 1000 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum(r.r // d.deg) AS s
    FROM edges e
    JOIN it{i - 1} r ON r.id = e.src
    JOIN deg d ON d.id = e.src
    GROUP BY e.dst) c ON c.id = n.id)""")
    return ",\n".join(its)


@query(
    "dedup_pagerank",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b, id_a FROM cand),
deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT id FROM corpus),
{_pagerank_iters_sql(3)}
SELECT id, r AS rank_ppm FROM it3
""",
    doc="PageRank (3 iterations, damping 0.85) over the symmetrized "
        "MinHash-LSH candidate graph — centrality inside near-dup "
        "neighborhoods (high rank = hub of a template family). All "
        "arithmetic is integer ppm with floor division, so every "
        "iteration is bit-identical across engines (the oracle unrolls "
        "the same three iterations). Spark side: edges+degrees built "
        "once from the persisted band table and persisted; each "
        "iteration is one join+groupBy (shuffle on dst) against the "
        "full node list — the bounded-lineage loop shape of "
        "connected_components, applied to ranking.",
)
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))
    edges = cand.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        cand.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    edges = persist_tracked(edges)
    # r13 (ADVICE r12): eager fill BEFORE the src_deg checkpoint job
    # consumes edges on two sides at once (the deg broadcast-build
    # thread + the probe scan) — an unmaterialized persisted frame
    # under concurrent consumers recomputes raced partitions through
    # the whole shingle/band lineage (the kcore race class).
    edges.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # r12 (same change as dedup_weighted_pagerank): the loop's two base
    # frames are eager localCheckpoints, so every iteration analyzes a
    # LogicalRDD leaf instead of the whole shingle/band lineage (57
    # printed exchanges in the old static plan, re-optimized per
    # action). Both are dup-graph-sized; floor 6.97 -> 5.31 s, shuffle
    # bytes -4%, oracle MATCH at all three SFs.
    src_deg = edges.join(deg, "src").select(
        "src", "dst", "deg"
    ).transform(checkpoint_tracked)
    nodes = _corpus(spark, sf_dir).select("id").transform(checkpoint_tracked)
    ranks = nodes.select("id", F.lit(1000000).cast("long").alias("r"))
    n_iters, ckpt_every = 3, 8
    for i in range(n_iters):
        contrib = (
            src_deg.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.expr("r div deg")).alias("s"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (F.lit(150000)
             + F.expr("(850 * coalesce(s, 0)) div 1000")).cast("long")
            .alias("r"),
        )
        # Lineage policy: each iteration references the previous ranks
        # exactly once (a LINEAR chain — no exponential re-expansion),
        # so a short fixed unroll runs fastest as ONE AQE-planned DAG.
        # Checkpoint only every ckpt_every iterations: the barrier +
        # block write cost 3-4x the whole 3-iteration query at bench
        # scale, while long loops (where plan size/scheduler pressure
        # actually accumulates) still get bounded lineage.
        if (i + 1) % ckpt_every == 0 and (i + 1) < n_iters:
            ranks = ranks.transform(checkpoint_tracked, eager=False)
    return ranks.select("id", F.col("r").alias("rank_ppm"))


# ---------------------------------------------------------------------------
# landmark BFS distances over the candidate graph (round 6)
# ---------------------------------------------------------------------------
def _bfs_round_sql(r: int) -> str:
    return f"""
f{r} AS (
  SELECT d.landmark, e.nbr AS node, {r} AS d
  FROM d{r - 1} d JOIN edges e ON e.node = d.node
  WHERE d.d = {r - 1}),
d{r} AS (
  SELECT landmark, node, CAST(min(d) AS INT) AS d
  FROM (SELECT * FROM d{r - 1} UNION ALL SELECT * FROM f{r})
  GROUP BY landmark, node)"""


@query(
    "dedup_landmark_distances",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
edges AS (
  SELECT id_a AS node, id_b AS nbr FROM cand
  UNION ALL
  SELECT id_b, id_a FROM cand),
lm AS (SELECT DISTINCT node FROM edges ORDER BY node LIMIT 3),
d0 AS (SELECT node AS landmark, node, CAST(0 AS INT) AS d FROM lm),
{_bfs_round_sql(1)},
{_bfs_round_sql(2)},
{_bfs_round_sql(3)}
SELECT landmark, node, d AS dist FROM d3
""",
    doc="Landmark BFS over the LSH candidate graph: exact shortest-path "
        "distances (<= 3 hops) from the 3 lowest-id connected nodes — "
        "the landmark/pivot primitive behind closeness-centrality "
        "estimates and 'how far is this doc from the template hub' "
        "triage. Each round is one frontier-edges equi-join plus a "
        "min-distance groupBy, both hash-partitioned on node — O(E)/"
        "round with no driver state, the same bounded-loop shape as "
        "dedup_pagerank; the frontier filter (d = r-1) keeps "
        "re-exploration from settled nodes out of the join. The oracle "
        "unrolls the same three rounds; distances are small INTs so "
        "every row is engine-exact by construction.",
)
def dedup_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))
    # 4 consumers (landmark pick + 3 rounds) — materialize first; the
    # eager checkpoint (r12, was persist+count) also keeps each round's
    # frontier join from re-analyzing the whole band lineage
    edges = (
        cand.select(F.col("id_a").alias("node"), F.col("id_b").alias("nbr"))
        .unionByName(
            cand.select(F.col("id_b").alias("node"), F.col("id_a").alias("nbr"))
        )
        .transform(checkpoint_tracked)
    )
    lm = edges.select("node").distinct().orderBy("node").limit(3)
    dist = lm.select(
        F.col("node").alias("landmark"),
        "node",
        F.lit(0).cast("int").alias("d"),
    )
    for r in (1, 2, 3):
        frontier = dist.filter(F.col("d") == r - 1)
        nd = (
            frontier.join(edges, "node")
            .select("landmark", F.col("nbr").alias("node"),
                    F.lit(r).cast("int").alias("d"))
        )
        # each round reads the PREVIOUS dist twice (frontier filter +
        # union), so the frame must be materialized per round or the
        # chain duplicates partition computation through the whole peel
        # history (the kcore race class — measured 7.5s -> ~3s when the
        # rounds were first made eager). r12: eager localCheckpoint
        # instead of persist+count — same one materialization job per
        # round, but it also TRUNCATES the logical plan, whose
        # unioned-lineage growth (1343 Exchange nodes in the round-3
        # static plan) made every later round's analysis+optimization
        # pay for the whole peel history on the driver. The dist table
        # is tiny (landmarks x reached nodes), so checkpoint storage is
        # negligible at any corpus size.
        dist = (
            dist.unionByName(nd)
            .groupBy("landmark", "node")
            .agg(F.min("d").cast("int").alias("d"))
            .transform(checkpoint_tracked)
        )
    return dist.select("landmark", "node", F.col("d").alias("dist"))


# ---------------------------------------------------------------------------
# WEIGHTED PageRank over the candidate graph (round 6): edge weight =
# exact shingle Jaccard in ppm — closes the unweighted-only caveat on
# the centrality story.
# ---------------------------------------------------------------------------
def _weighted_pr_iters_sql(n_iters: int) -> str:
    its = ["it0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes)"]
    for i in range(1, n_iters + 1):
        its.append(f"""
it{i} AS (
  SELECT n.id,
         CAST(150000 + (850 * coalesce(c.s, 0)) // 1000 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum((r.r * e.w) // d.tw) AS s
    FROM edges e
    JOIN it{i - 1} r ON r.id = e.src
    JOIN wdeg d ON d.id = e.src
    GROUP BY e.dst) c ON c.id = n.id)""")
    return ",\n".join(its)


@query(
    "dedup_weighted_pagerank",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
shh AS (SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS sh FROM sh),
sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shh a ON a.id = c.id_a
  JOIN shh b ON b.id = c.id_b AND b.sh = a.sh
  GROUP BY c.id_a, c.id_b),
wpairs AS (
  SELECT c.id_a, c.id_b,
         CAST(coalesce(i.i, 0) * 1000000
              // (sa.n + sb.n - coalesce(i.i, 0)) AS BIGINT) AS w
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.id = c.id_a
  JOIN sizes sb ON sb.id = c.id_b),
edges AS (
  SELECT id_a AS src, id_b AS dst, w FROM wpairs WHERE w > 0
  UNION ALL
  SELECT id_b, id_a, w FROM wpairs WHERE w > 0),
wdeg AS (SELECT src AS id, sum(w) AS tw FROM edges GROUP BY src),
nodes AS (SELECT id FROM corpus),
{_weighted_pr_iters_sql(3)}
SELECT id, r AS rank_ppm FROM it3
""",
    doc="WEIGHTED PageRank (3 iterations, damping 0.85) over the LSH "
        "candidate graph, edge weight = EXACT shingle Jaccard in ppm "
        "(the verified similarity, not the sketch estimate): a node's "
        "rank mass flows to neighbors proportionally to w/sum(w) "
        "instead of 1/deg, so hub score concentrates on genuinely "
        "similar families and weak accidental-band edges (w = 0 after "
        "verification) drop out entirely. All arithmetic is BIGINT ppm "
        "with floor division placed identically in both engines "
        "(per-edge r*w div W, then sum). Weights reuse the persisted "
        "shingle/band subplans and are computed ONCE on LSH candidates "
        "only (never all pairs), then persisted with their weighted "
        "out-degree — each iteration is one join+groupBy shuffled on "
        "dst, O(E)/round, no driver state; same bounded-lineage loop "
        "shape as dedup_pagerank. Overflow headroom: r <= ~n*1e6 and "
        "w <= 1e6, so r*w <= ~1e16 << 2^63.",
)
def dedup_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shared_shingles(spark, sf_dir)
    cand = D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))
    # set-array layout via the shared helper (one array row per doc
    # instead of per-shingle join rows) — measured ~2x on the whole
    # query vs the exploded count-join
    wpairs = (
        D.set_overlap_on_pairs(sh.select("id", F.col("sh64").alias("sh")),
                               cand)
        .select(
            "id_a", "id_b",
            F.expr("inter * 1000000 div (na + nb - inter)")
            .cast("long")
            .alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    edges = wpairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "w"
    ).unionByName(
        wpairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"),
                      "w")
    )
    edges = persist_tracked(edges)
    # r13 (ADVICE r12): eager fill BEFORE the src_w checkpoint job
    # consumes edges on two sides (wdeg build + probe) — the kcore
    # race class, same as dedup_pagerank above.
    edges.count()
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    # edges has two consumers (wdeg + the join) and src_w/nodes feed
    # every iteration — materialize before the loop fans out over them
    # (unmaterialized multi-consumer chains duplicate partitions, the
    # kcore race class). r12: eager localCheckpoint instead of
    # persist+count — the same one materialization job each, but it
    # also TRUNCATES the logical plan: src_w's lineage is the whole
    # shingle/band/Jaccard build (the round-3 static plan carried 399
    # Exchange nodes), and every iteration + the final action was
    # re-paying its analysis/optimization on the driver. Both frames
    # are edge-/node-sized — tiny next to the corpus at any scale.
    src_w = edges.join(wdeg, "src").select(
        "src", "dst", "w", "tw"
    ).transform(checkpoint_tracked)
    nodes = _corpus(spark, sf_dir).select("id").transform(checkpoint_tracked)
    ranks = nodes.select("id", F.lit(1000000).cast("long").alias("r"))
    n_iters, ckpt_every = 3, 8
    for i in range(n_iters):
        contrib = (
            src_w.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.expr("(r * w) div tw")).alias("s"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (F.lit(150000)
             + F.expr("(850 * coalesce(s, 0)) div 1000")).cast("long")
            .alias("r"),
        )
        # same lineage policy as dedup_pagerank: linear chain, short
        # unroll, checkpoint only on long loops
        if (i + 1) % ckpt_every == 0 and (i + 1) < n_iters:
            ranks = ranks.transform(checkpoint_tracked, eager=False)
    return ranks.select("id", F.col("r").alias("rank_ppm"))


# Shared sorted-neighborhood (SNM) blocking primitives: ONE definition
# of the normalization, 2-char block, 24-char sort key and w=3 rank
# window, used by dedup_sorted_neighborhood (candidate generation +
# verify) and dedup_link_prediction (graph over the same candidates) —
# the two must never desynchronize or the link-prediction premise
# ("missed edges of THE SNM graph") silently breaks.
_SNM_RANK_SQL = r"""n AS (
  SELECT doc_id,
         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm
  FROM documents),
r AS (
  SELECT doc_id,
         substr(norm, 1, 2)  AS blk,
         substr(norm, 1, 24) AS key,
         substr(norm, 1, 40) AS pre40,
         row_number() OVER (
           PARTITION BY substr(norm, 1, 2)
           ORDER BY substr(norm, 1, 24), doc_id) AS rn
  FROM n)"""


def _snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, __pa, __pb) rank-window candidate pairs.

    The probe side explodes each record into its w-1 forward rank
    slots so pair generation is a pure equi-join on (blk, rn): O(n*w)
    candidate rows, never a within-block cross product — a dense
    block (common boilerplate prefix) costs |block|*w, not
    |block|^2."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")
    r = d.select(
        "doc_id",
        F.substring(norm, 1, 2).alias("blk"),
        F.substring(norm, 1, 24).alias("key"),
        F.substring(norm, 1, 40).alias("pre40"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("blk").orderBy("key", "doc_id")
        ),
    )
    a = r.select(
        F.col("blk"),
        F.col("doc_id").alias("id_a"), F.col("pre40").alias("__pa"),
        F.explode(
            F.array(F.col("rn") + 1, F.col("rn") + 2)
        ).alias("rn"),
    )
    b = r.select(
        F.col("blk"), F.col("rn"),
        F.col("doc_id").alias("id_b"), F.col("pre40").alias("__pb"),
    )
    return a.join(b, ["blk", "rn"]).select("id_a", "id_b", "__pa", "__pb")


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH {_SNM_RANK_SQL}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       a.pre40 = b.pre40 AS is_dup
FROM r a JOIN r b
  ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 2
""",
    doc="Sorted-neighborhood dedup blocking (Hernandez-Stolfo SNM): "
        "records sort by a normalized 24-char key WITHIN 2-char prefix "
        "blocks and only rank-neighbors within a w=3 window become "
        "candidate pairs — O(n*w) candidates instead of O(n^2). "
        "Blocked ranking is the scale-correct form: one shuffle on the "
        "block key, per-block row_number (no global single-reducer "
        "sort), pairs via an equi-join on (block, rank). Complements "
        "MinHash-LSH: SNM catches prefix-aligned near-dups (boilerplate "
        "headers, versioned docs) that token-shingle LSH can miss.",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _snm_pairs(spark, sf_dir).select(
        "id_a", "id_b", (F.col("__pa") == F.col("__pb")).alias("is_dup")
    )


@query(
    "dedup_prefix_filter",
    oracle=f"""
WITH {_CORPUS_SQL},
base AS (
  SELECT id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM corpus),
btoks AS (
  SELECT DISTINCT id, ws[i] || ' ' || ws[i+1] AS tok
  FROM base, unnest(generate_series(1, len(ws)-1)) AS t(i)
  WHERE len(ws) >= 2),
dfreq AS (SELECT tok, count(*) AS dfreq FROM btoks GROUP BY tok),
ranked AS (
  SELECT t.id, t.tok, d.dfreq,
         row_number() OVER (PARTITION BY t.id
                            ORDER BY d.dfreq, t.tok) AS rn,
         count(*) OVER (PARTITION BY t.id) AS n
  FROM btoks t JOIN dfreq d USING (tok)),
pfx AS (SELECT id, tok, n FROM ranked WHERE rn <= 3 AND dfreq <= 50),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b
  FROM pfx a JOIN pfx b USING (tok)
  WHERE a.id < b.id),
inter AS (
  SELECT c.id_a, c.id_b, c.n_a, c.n_b, count(*) AS n_inter
  FROM cand c
  JOIN btoks ta ON ta.id = c.id_a
  JOIN btoks tb ON tb.id = c.id_b AND tb.tok = ta.tok
  GROUP BY c.id_a, c.id_b, c.n_a, c.n_b)
SELECT id_a, id_b,
       CAST(n_inter * 1000000 // (n_a + n_b - n_inter) AS BIGINT)
         AS jacc_ppm
FROM inter
WHERE n_inter * 1000000 // (n_a + n_b - n_inter) >= 500000
""",
    doc="Prefix-filter set-similarity join (SSJoin/PPJoin family) over "
        "word-BIGRAM sets: candidates must share a bigram in their "
        "rarest-3 prefix (document-frequency-ascending order), then "
        "exact bigram-set Jaccard >= 0.5 verifies only the candidates "
        "— a candidate-gated equi-join costing O(|cand| x |grams per "
        "doc|), never all-pairs. Bigrams carry word order, so "
        "templated same-vocabulary docs don't collide the way unigram "
        "sets would (unigram prefixes here generated 15x the "
        "candidates). Completes the three classic blocking families "
        "(MinHash-LSH, sorted-neighborhood, prefix filter) so near-dup "
        "recall can be cross-checked across independent candidate "
        "generators.",
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _shared_bigrams(spark, sf_dir)
    cand = D.prefix_filter_candidates(toks, prefix_k=3)
    ta = toks.select(F.col("id").alias("id_a"), "tok")
    tb = toks.select(F.col("id").alias("id_b"), "tok")
    inter = (
        cand.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    jacc = F.expr("__inter * 1000000 div (n_a + n_b - __inter)").cast("long")
    return (
        inter.join(cand, ["id_a", "id_b"])
        .select("id_a", "id_b", jacc.alias("jacc_ppm"))
        .filter(F.col("jacc_ppm") >= 500000)
    )


@query(
    "dedup_family_recall",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
lsh AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
wsx AS (SELECT id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM corpus),
bg AS (
  SELECT DISTINCT id, ws[i] || ' ' || ws[i+1] AS tok
  FROM wsx, unnest(generate_series(1, len(ws)-1)) AS t(i)
  WHERE len(ws) >= 2),
dfreq AS (SELECT tok, count(*) AS dfreq FROM bg GROUP BY tok),
ranked AS (
  SELECT b.id, b.tok, d.dfreq,
         row_number() OVER (PARTITION BY b.id ORDER BY d.dfreq, b.tok) AS rn
  FROM bg b JOIN dfreq d USING (tok)),
pfx AS (SELECT id, tok FROM ranked WHERE rn <= 3 AND dfreq <= 50),
pf AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pfx a JOIN pfx b USING (tok)
  WHERE a.id < b.id),
cand AS (SELECT * FROM lsh UNION SELECT * FROM pf),
shh AS (SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS sh FROM sh),
sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shh a ON a.id = c.id_a
  JOIN shh b ON b.id = c.id_b AND b.sh = a.sh
  GROUP BY c.id_a, c.id_b),
truth AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) >= 0.5),
fam AS (
  SELECT 'lsh' AS family, id_a, id_b FROM lsh
  UNION ALL SELECT 'prefix', id_a, id_b FROM pf),
famt AS (
  SELECT f.family, t.id_a IS NOT NULL AS is_true
  FROM fam f LEFT JOIN truth t
    ON t.id_a = f.id_a AND t.id_b = f.id_b),
tot AS (SELECT count(*) AS n_truth FROM truth)
SELECT family,
       CAST(count(*) AS BIGINT) AS n_cand,
       CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       CAST((SELECT n_truth FROM tot) AS BIGINT) AS n_truth,
       CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) * 1000000
            // greatest((SELECT n_truth FROM tot), 1) AS BIGINT)
         AS recall_ppm
FROM famt GROUP BY family
""",
    doc="Cross-family dedup recall audit: MinHash-LSH and prefix-filter "
        "candidate generators run on the SAME corpus; ground truth = "
        "exact 3-gram-shingle Jaccard >= 0.5 computed ONLY on the union "
        "of both candidate sets (relative recall — the standard way to "
        "audit blocking quality without an all-pairs pass). Each "
        "family's candidates, true-pair hits, and recall_ppm land in "
        "one row per family. Reuses the persisted shingle/band "
        "subplans; the only new work is the bigram prefix arm and the "
        "union-gated verification.",
)
def dedup_family_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    # each family frame feeds BOTH the truth-candidate union and the
    # per-family audit rows; unpersisted, the LSH distinct and the
    # prefix-rank window would each run twice (the old 7.5s tail)
    # r12: the three shared frames are eager localCheckpoints (were
    # lazy persists filled by one truth count). Each family table has
    # two consumers (truth union + its audit arm) and truth itself two
    # (left join + the n_truth broadcast scalar) — eager checkpoints
    # remove the unmaterialized-chain race (the round-5 kcore lesson)
    # the old fill worked around AND truncate the 122-exchange static
    # lineage the final audit re-analyzed per action. All three are
    # candidate-pair-sized at any corpus scale.
    lsh = D.lsh_candidate_pairs(_shared_bands(spark, sf_dir)) \
           .transform(checkpoint_tracked)
    toks = _shared_bigrams(spark, sf_dir)
    pf = D.prefix_filter_candidates(toks, prefix_k=3) \
          .select("id_a", "id_b").transform(checkpoint_tracked)
    cand = lsh.select("id_a", "id_b").union(pf).distinct()
    truth = D.jaccard_on_pairs(
        corpus, cand, "text", "id",
        shingle_df=_shared_shingles(spark, sf_dir), threshold=0.5,
    ).select("id_a", "id_b", F.lit(True).alias("__is_true")) \
     .transform(checkpoint_tracked)
    fam = lsh.select(F.lit("lsh").alias("family"), "id_a", "id_b").unionByName(
        pf.select(F.lit("prefix").alias("family"), "id_a", "id_b")
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return (
        fam.join(truth, ["id_a", "id_b"], "left")
        .groupBy("family")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand"),
            F.sum(F.when(F.col("__is_true"), 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
        )
        .crossJoin(n_truth)
        .select(
            "family",
            "n_cand",
            "n_found",
            "n_truth",
            F.expr("n_found * 1000000 div greatest(n_truth, 1)")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


@query(
    "dedup_triangle_count",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM cand e1
  JOIN cand e2 ON e2.id_a = e1.id_b
  JOIN cand e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT a) + count(DISTINCT b) + count(DISTINCT c)
            AS BIGINT) AS tri_node_degree_sum
FROM tri
""",
    doc="Distributed triangle counting over the LSH candidate graph "
        "(the clustering-coefficient primitive): with edges oriented "
        "id_a < id_b every triangle a<b<c is generated exactly once by "
        "two equi-joins (wedge build on the shared middle vertex, then "
        "the closing-edge join) — the standard MR/Spark algorithm, no "
        "enumeration of open wedges beyond the join. Cost is "
        "O(wedges) shuffled on vertex ids; at 100 TB the wedge "
        "explosion is bounded by orienting edges toward the "
        "higher-degree endpoint (same join shape). Triangle density "
        "over dup-candidate graphs separates clique-like boilerplate "
        "families from chain-like near-dup drift.",
)
def dedup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = persist_tracked(
        D.lsh_candidate_pairs(_shared_bands(spark, sf_dir))
    )
    e1 = cand.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = cand.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = cand.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    n_edges = cand.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        tri.agg(
            F.count(F.lit(1)).cast("long").alias("n_triangles"),
            (
                F.countDistinct("a")
                + F.countDistinct("b")
                + F.countDistinct("c")
            ).cast("long").alias("tri_node_degree_sum"),
        )
        .crossJoin(n_edges)
        .select("n_triangles", "n_edges", "tri_node_degree_sum")
    )


def _lpa_iter_sql(prev: str, step: int) -> str:
    """One synchronous label-propagation round (majority neighbor label,
    ties to the smallest label) — mirrors the Spark loop body."""
    return f"""
n{step} AS (
  SELECT e.node, l.label FROM edges e JOIN {prev} l ON l.node = e.nbr),
c{step} AS (
  SELECT node, label, count(*) AS c FROM n{step} GROUP BY node, label),
l{step} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{step}) WHERE rn = 1)"""


@query(
    "dedup_label_propagation",
    oracle=f"""
WITH corpus AS (SELECT doc_id AS id, text FROM documents),
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
edges AS (
  SELECT id_a AS node, id_b AS nbr FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs),
l0 AS (SELECT DISTINCT node, node AS label FROM edges),
{_lpa_iter_sql("l0", 1)},
{_lpa_iter_sql("l1", 2)}
SELECT label, CAST(count(*) AS BIGINT) AS n_members
FROM l2 GROUP BY label
""",
    doc="Synchronous label propagation (2 rounds) over the LSH "
        "candidate graph — community detection distinct from connected "
        "components (dedup_clusters finds reachability; LPA finds "
        "densely-linked groups and can SPLIT a chain that CC merges). "
        "Updates are deterministic: each node adopts its majority "
        "neighbor label, ties broken toward the smallest label, all "
        "nodes updating simultaneously from the previous round's "
        "labels. Each round is one equi-join (edges x labels, both "
        "hash-partitioned on node id) + a count + a partitioned rank "
        "filter — O(E) shuffle per round with NO driver-side state, "
        "the standard scalable LPA shape. The oracle unrolls the same "
        "two rounds as CTEs.",
)
def dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = persist_tracked(
        D.lsh_candidate_pairs(_shared_plain_bands(spark, sf_dir)).select(
            "id_a", "id_b"
        )
    )
    return (
        D.label_propagation(pairs, iterations=2)
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    )


# ---------------------------------------------------------------------------
# cross-source duplication matrix
# ---------------------------------------------------------------------------
@query(
    "source_overlap_matrix",
    oracle=f"""
WITH corpus AS (SELECT doc_id AS id, text FROM documents),
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_candidate_pairs
FROM pairs
JOIN documents sa ON sa.doc_id = pairs.id_a
JOIN documents sb ON sb.doc_id = pairs.id_b
GROUP BY 1, 2
""",
    doc="Cross-source duplication matrix — the 'how much does source A "
        "overlap source B' curation staple (e.g. CommonCrawl vs "
        "Wikipedia): MinHash/LSH candidate pairs over the RAW documents "
        "table, each side joined back to its source label, counted per "
        "unordered source pair. Candidates come from the band "
        "equi-join (never all-pairs); the source lookup joins a "
        "pairs-sized frame against an id->source projection, so at "
        "100 TB the heavy side shuffles once on the band key and the "
        "matrix aggregation is a low-cardinality groupBy.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # the plain-documents band table is the same one the incremental
    # queries join against — reuse the session-scoped helper instead of
    # rebuilding (one NUM_HASHES/BANDS source of truth)
    pairs = D.lsh_candidate_pairs(_shared_plain_bands(spark, sf_dir))
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"))
    )


# ---------------------------------------------------------------------------
# distributed k-means iteration (IVF training step)
# ---------------------------------------------------------------------------
@query(
    "embedding_kmeans_step",
    oracle="""
WITH seeds AS (
  SELECT vec_id AS seed_id, embedding AS seed
  FROM embeddings ORDER BY vec_id LIMIT 8),
expl AS (
  SELECT e.vec_id, s.seed_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(s.seed)::DOUBLE AS y
  FROM embeddings e CROSS JOIN seeds s),
dists AS (
  SELECT vec_id, seed_id, round(sum((x - y) * (x - y)), 6) AS d2
  FROM expl GROUP BY vec_id, seed_id),
assign AS (
  SELECT vec_id, seed_id FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, seed_id) AS rn
    FROM dists) WHERE rn = 1),
comp AS (
  SELECT a.seed_id AS cluster,
         unnest(e.embedding)::DOUBLE AS x,
         unnest(range(0, len(e.embedding))) AS dim
  FROM assign a JOIN embeddings e USING (vec_id))
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(dim AS INT) AS dim,
       CAST(sum(CAST(CASE WHEN x >= 0 THEN floor(x * 1000000 + 0.5)
                     ELSE -floor(-x * 1000000 + 0.5) END AS BIGINT))
            AS BIGINT) AS sum_ppm,
       CAST(count(*) AS BIGINT) AS n_assigned
FROM comp GROUP BY cluster, dim
""",
    doc="One distributed Lloyd (k-means) iteration — the full-corpus "
        "IVF-cell refinement step (build_ivf_index fits centers on a "
        "bounded sample; this is the pass that re-fits them over "
        "everything). Seeds = the 8 lowest-id vectors; assignment is "
        "IN-ROW (all 8 squared-L2 distances as one codegen expression "
        "over literal seed arrays, argmin by (round(d2,6), seed_id)) "
        "so the corpus never shuffles for assignment; the update emits "
        "integer-exact fixed-point component sums per (cluster, dim) "
        "— BIGINT sums are order-independent, hence bit-identical in "
        "any engine. One tiny shuffle (k x dims groups) after "
        "map-side partials.",
)
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators import similarity as S

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    return S.kmeans_step(emb, k=8)


# ---------------------------------------------------------------------------
# contrastive triplet mining
# ---------------------------------------------------------------------------
@query(
    "embedding_triplets",
    oracle="""
WITH n AS (SELECT count(*) AS n_vec FROM embeddings),
a AS (SELECT vec_id AS anchor_id, embedding AS av FROM embeddings
      WHERE vec_id % 97 = 0),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
expl AS (SELECT anchor_id, cand_id,
                unnest(av)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
         FROM a, c WHERE anchor_id <> cand_id),
dots AS (SELECT anchor_id, cand_id,
                sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
         FROM expl GROUP BY anchor_id, cand_id),
scored AS (SELECT anchor_id, cand_id,
                  round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos
           FROM dots),
pos AS (SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM (
          SELECT *, row_number() OVER (
              PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS rn
          FROM scored) WHERE rn = 1),
neg0 AS (
  SELECT p.anchor_id, p.pos_id, p.pos_cos,
         ((p.anchor_id % 2147483647) * 2654435761 + 12345) % n.n_vec AS h
  FROM pos p, n),
neg AS (
  SELECT anchor_id, pos_id, pos_cos,
         CASE WHEN h2 IN (anchor_id, pos_id)
              THEN (h2 + 1) % (SELECT n_vec FROM n) ELSE h2 END AS neg_id
  FROM (SELECT *, CASE WHEN h IN (anchor_id, pos_id)
                       THEN (h + 1) % (SELECT n_vec FROM n) ELSE h END AS h2
        FROM neg0)),
nexpl AS (
  SELECT g.anchor_id, g.pos_id, g.pos_cos, g.neg_id,
         unnest(a.av)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
  FROM neg g
  JOIN a ON a.anchor_id = g.anchor_id
  JOIN embeddings e ON e.vec_id = g.neg_id)
SELECT anchor_id, pos_id, pos_cos, neg_id,
       round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS neg_cos
FROM nexpl GROUP BY anchor_id, pos_id, pos_cos, neg_id
""",
    doc="Contrastive triplet mining for embedding-model training: per "
        "anchor (vec_id %% 97), the hardest POSITIVE is its top-1 "
        "cosine neighbor (broadcast anchors x corpus, the corpus never "
        "shuffles) and the NEGATIVE is a deterministic pseudo-random "
        "pick — Knuth-hash ((anchor mod 2^31-1)*2654435761+12345) mod "
        "N (pre-reduction bounds the product under 2^63 for any id "
        "magnitude) with a "
        "collision-bump past anchor/positive, identical integer math "
        "in both engines — fetched by one equi-join. Output "
        "(anchor, pos, pos_cos, neg, neg_cos) is the (a,p,n) batch a "
        "contrastive trainer consumes; at 100 TB the positive arm is "
        "the documented brute-force baseline, swappable for the LSH/"
        "IVF candidate path.",
)
def embedding_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 97 == 0)
    pos = (
        S.cosine_topk(anchors, emb, k=1)
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("pos_id"),
            F.col("cos").alias("pos_cos"),
        )
    )
    n_vec = emb.agg(F.count(F.lit(1)).alias("__n"))
    # Pre-reduce the anchor id mod 2^31-1 before the Knuth multiply:
    # (2^31-2) * 2654435761 ~= 5.7e18 < 2^63, so the product can never
    # overflow BIGINT under ANSI mode regardless of raw id magnitude
    # (DuckDB would silently widen to HUGEINT; Spark would hard-error).
    h = (
        (F.col("anchor_id") % F.lit(2147483647)) * F.lit(2654435761)
        + F.lit(12345)
    ) % F.col("__n")
    bump = lambda c: F.when(  # noqa: E731
        c.isin(F.col("anchor_id"), F.col("pos_id")),
        (c + 1) % F.col("__n"),
    ).otherwise(c)
    neg = (
        pos.crossJoin(F.broadcast(n_vec))
        .withColumn("__h", h)
        .withColumn("__h2", bump(F.col("__h")))
        .withColumn("neg_id", bump(F.col("__h2")))
        .drop("__h", "__h2", "__n")
    )
    av = F.broadcast(
        anchors.select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("__av"))
    )
    nv = emb.select(F.col("vec_id").alias("neg_id"), F.col("embedding").alias("__nv"))
    return (
        neg.join(av, "anchor_id")
        .join(nv, "neg_id")
        .select(
            "anchor_id", "pos_id", "pos_cos", "neg_id",
            F.round(S.cosine("__av", "__nv", 64), 6).alias("neg_cos"),
        )
    )


# ---------------------------------------------------------------------------
# unigram language-model scoring (round 4)
# ---------------------------------------------------------------------------
@query(
    "doc_unigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
model AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c FROM t2 GROUP BY term),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS t_total,
         CAST(count(DISTINCT term) AS BIGINT) AS v
  FROM t2)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       floor((CAST(sum(mn) AS DOUBLE) / count(*) / 1000000) * 10000 + 0.5)
           / 10000 AS avg_logprob,
       floor(exp(-(CAST(sum(mn) AS DOUBLE) / count(*) / 1000000)) * 100
             + 0.5) / 100 AS ppl
FROM (
  SELECT d.doc_id,
         CAST(floor(ln((m.c + 1) * 1.0 / (c.t_total + c.v)) * 1000000)
              AS BIGINT) AS mn
  FROM t2 d
  JOIN model m USING (term)
  CROSS JOIN corpus c)
GROUP BY doc_id
""",
    doc="Unigram language-model scoring — the cheapest perplexity "
        "proxy used to rank web documents for training-data quality "
        "(counts-only stand-in for a KenLM pass): add-one-smoothed "
        "corpus unigram probabilities, then per-doc mean log-prob and "
        "perplexity. The model (term -> count) is the only global "
        "shuffle and broadcasts back onto the token stream; the "
        "per-doc reduce reuses the doc partitioning. Self-scoring "
        "means every token is in-vocabulary; the smoothing constant "
        "still matters for parity with a held-out scorer. Numeric "
        "discipline: each token's log-prob is fixed-pointed to BIGINT "
        "micro-nats (floor(ln(p)*1e6)) and summed EXACTLY — a float "
        "avg's summation order differs between Spark partial aggs and "
        "DuckDB, so a mean landing within ~1e-12 of a rounding "
        "boundary could flip the last digit; the single divide at the "
        "end and the floor(x*1e4+0.5) half-up are identical IEEE ops "
        "on identical inputs in both engines (same pattern as "
        "doc_tfidf_cosine_pairs' milli-nat idf). ULP CAVEAT: the "
        "per-token floor(ln(p)*1e6) itself assumes Spark's Math.log "
        "and DuckDB's libm log agree to the last bit; neither is "
        "correctly rounded, so a probability whose scaled log lands "
        "within ~1 ulp of an integer COULD floor apart across engines "
        "on other data — if this query's hash ever mismatches on a new "
        "dataset with rows off by exactly 1 micro-nat, this is why "
        "(same caveat as the 2^53 notes; doc_dsir_importance's w_mil "
        "shares it).",
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # persisted: the exploded token stream feeds the model aggregation,
    # the corpus totals AND the final scoring join — without the
    # persist the corpus re-tokenizes three times
    toks = persist_tracked(
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
        ).filter(F.col("term") != "")
    )
    model = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    corpus = toks.agg(
        F.count(F.lit(1)).cast("long").alias("t_total"),
        F.countDistinct("term").cast("long").alias("v"),
    )
    # BIGINT micro-nats per token: the sum is exact and order-
    # independent; one divide at the end (see oracle note)
    mn = F.floor(
        F.log((F.col("c") + 1) * 1.0 / (F.col("t_total") + F.col("v")))
        * 1000000
    ).cast("long")
    scored = (
        toks.join(F.broadcast(model), "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(mn).alias("smn"),
        )
    )
    avg_lp = F.col("smn").cast("double") / F.col("n_tokens") / 1000000
    return scored.select(
        "doc_id",
        "n_tokens",
        (F.floor(avg_lp * 10000 + 0.5) / 10000).alias("avg_logprob"),
        (F.floor(F.exp(-avg_lp) * 100 + 0.5) / 100).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# bigram LM with stupid backoff, held-out scoring (round 6)
# ---------------------------------------------------------------------------
@query(
    "doc_bigram_backoff_logprob",
    oracle="""
WITH tt AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
  FROM documents),
train_toks AS (
  SELECT unnest(ts) AS term FROM tt WHERE doc_id % 2 = 0),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cu FROM train_toks GROUP BY term),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t_total,
         CAST(count(DISTINCT term) AS BIGINT) AS v
  FROM train_toks),
train_bg AS (
  SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
         unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
  FROM tt WHERE doc_id % 2 = 0 AND len(ts) >= 2),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
  FROM train_bg GROUP BY w1, w2),
score_bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
         unnest(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
  FROM tt WHERE len(ts) >= 2),
mn AS (
  SELECT s.doc_id,
         CASE WHEN b.cb IS NOT NULL
              THEN CAST(floor(ln(b.cb * 1.0 / u1.cu) * 1000000) AS BIGINT)
              ELSE CAST(floor(ln(0.4 * (coalesce(u2.cu, 0) + 1)
                                 / greatest(t.t_total + t.v, 1))
                              * 1000000) AS BIGINT)
         END AS m,
         CASE WHEN b.cb IS NULL THEN 1 ELSE 0 END AS backed
  FROM score_bg s
  LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w2
  LEFT JOIN uni u1 ON u1.term = s.w1
  LEFT JOIN uni u2 ON u2.term = s.w2
  CROSS JOIN tot t)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(m) AS BIGINT) AS lp_micro,
       CAST(sum(backed) * 1000000 // count(*) AS BIGINT) AS backoff_ppm
FROM mn GROUP BY doc_id
""",
    doc="Bigram language model with stupid backoff, HELD-OUT scoring — "
        "the KenLM-shaped quality pass one level above "
        "doc_unigram_logprob: the model (bigram counts + unigram "
        "counts) trains on the EVEN-doc_id half of the corpus and "
        "scores EVERY document, so unseen bigrams genuinely exercise "
        "the backoff arm (p = cb/cu(w1) when the bigram was seen, else "
        "0.4 * add-one-unigram(w2) — Brants et al.'s stupid backoff, "
        "the web-scale choice exactly because counts need no "
        "discounting renormalization and shard-sum trivially). "
        "Bigrams come from an in-row transform over the filtered token "
        "array (no window, no self-join); both count tables broadcast "
        "back onto the scoring stream; per-bigram log-probs are BIGINT "
        "micro-nats so the per-doc sum is order-independent and "
        "bit-identical across engines (ULP caveat as in "
        "doc_unigram_logprob). SCALE CAVEAT: the count tables grow "
        "with model vocabulary, not corpus size, so the broadcasts "
        "hold only while |unigrams|+|bigrams| fits the driver (real "
        "natural-language vocabularies plateau in the low millions — "
        "hundreds of MB — but an unbounded/pruned-nothing bigram "
        "table would not); past that threshold drop the broadcast "
        "hints and let AQE plan shuffle joins keyed on (w1,w2)/w1/w2, "
        "or prune the bigram table by min-count as KenLM does. "
        "backoff_ppm per doc doubles as drift telemetry: a doc whose "
        "bigrams are mostly unseen by the reference half is "
        "out-of-domain.",
)
def doc_bigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))
    base = persist_tracked(d.select("doc_id", ts.alias("ts")))
    # four broadcast count tables + the scoring scan all consume base;
    # fill the persist first or their build threads race the cold
    # tokenize lineage (kcore race class)
    base.count()
    train_toks = base.filter(F.col("doc_id") % 2 == 0).select(
        F.explode("ts").alias("term")
    )
    uni = train_toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cu")
    )
    tot = train_toks.agg(
        F.count(F.lit(1)).cast("long").alias("t_total"),
        F.countDistinct("term").cast("long").alias("v"),
    )
    bg = F.explode(
        F.when(
            F.size("ts") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.struct(
                    F.element_at("ts", i).alias("w1"),
                    F.element_at("ts", i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    )
    train_bg = base.filter(F.col("doc_id") % 2 == 0).select(bg.alias("p"))
    bi = train_bg.groupBy("p.w1", "p.w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    score = base.select("doc_id", bg.alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("cu").alias("cu2"))
    joined = (
        score.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    m = F.when(
        F.col("cb").isNotNull(),
        F.floor(F.log(F.col("cb") * 1.0 / F.col("cu1")) * 1000000),
    ).otherwise(
        F.floor(
            F.log(
                F.lit(0.4)
                * (F.coalesce(F.col("cu2"), F.lit(0)) + 1)
                # greatest(...,1): an empty training half must not hit
                # ANSI DIVIDE_BY_ZERO (degenerate-data guard, both sides)
                / F.greatest(F.col("t_total") + F.col("v"), F.lit(1))
            )
            * 1000000
        )
    ).cast("long")
    backed = F.when(F.col("cb").isNull(), 1).otherwise(0)
    return (
        joined.select("doc_id", m.alias("m"), backed.alias("backed"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("m").cast("long").alias("lp_micro"),
            F.expr("CAST(sum(backed) * 1000000 div count(1) AS BIGINT)")
            .alias("backoff_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# sparse tf-idf cosine pairs via inverted-index join (round 4)
# ---------------------------------------------------------------------------
@query(
    "doc_tfidf_cosine_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
w AS (
  SELECT t.doc_id, t.term,
         t.tf * CAST(floor(ln(nd.n * 1.0 / d.df) * 1000) AS BIGINT) AS wt
  FROM tf t JOIN df d USING (term) CROSS JOIN nd
  WHERE d.df BETWEEN 2 AND 100),
norms AS (
  SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS ss FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.wt * b.wt) AS BIGINT) AS dot,
         CAST(count(*) AS BIGINT) AS shared_terms
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, shared_terms,
       round(dot / (sqrt(na.ss) * sqrt(nb.ss)), 6) AS cos
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE dot / (sqrt(na.ss) * sqrt(nb.ss)) >= 0.2
""",
    doc="Sparse tf-idf cosine similarity via the inverted-index "
        "self-join — the scalable text-similarity pattern (no dense "
        "vectors, no all-pairs): vocabulary pruned to 2 <= df <= 100 "
        "(singleton terms cannot form pairs; stopword-grade terms "
        "would make the term-join quadratic — df-capping bounds each "
        "term's contribution at df^2 pairs, the standard "
        "inverted-index blocking), idf fixed-pointed to BIGINT "
        "milli-nats so dot products and norms are exact integer sums "
        "(order-independent, engine-identical); the single sqrt/div "
        "at the end is correctly-rounded IEEE on exact inputs, so the "
        "0.2 threshold cannot float-flip. Integer headroom: safe "
        "while tf*idf_mil < 3e7 and shared vocab < 1e4 terms/pair "
        "(product sums < 9e18); df-cap keeps the join linear in "
        "corpus size at 100 TB.",
)
def doc_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = d.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    w = (
        tf.join(df.filter(F.col("df").between(2, 100)), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.floor(F.log(F.col("n") * 1.0 / F.col("df")) * 1000).cast(
                    "long"
                )
            ).alias("wt"),
        )
    )
    w = persist_tracked(w)
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wt") * F.col("wt")).cast("long").alias("ss")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("wt").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("wt").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"),
            F.count(F.lit(1)).cast("long").alias("shared_terms"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    # try_divide: a doc whose surviving terms all have idf_mil = 0
    # (universal terms in a tiny corpus) has ss = 0 — Spark ANSI
    # hard-errors on the double 0/0 where DuckDB yields NULL (and the
    # threshold filter then drops the row in both engines)
    cos = F.try_divide(F.col("dot"), F.sqrt("ssa") * F.sqrt("ssb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= 0.2)
        .select(
            "doc_a", "doc_b", "shared_terms", F.round(cos, 6).alias("cos")
        )
    )


# ---------------------------------------------------------------------------
# signed-random-projection bucketing over embeddings (round 4)
# ---------------------------------------------------------------------------
@query(
    "embedding_srp_buckets",
    oracle="""
WITH pl AS (SELECT CAST(range AS BIGINT) AS p FROM range(16)),
proj AS (
  SELECT e.vec_id, e.label, pl.p,
         CAST(list_sum(list_transform(e.embedding, (x, i) ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           * (1 - 2 * (CAST(floor(
                 ((pl.p * 1009 + i - 1) * 2654435761 % 2147483648)
                 / 65536) AS BIGINT) % 2))
         )) AS BIGINT) AS proj_int
  FROM embeddings e CROSS JOIN pl),
sig AS (
  SELECT vec_id, label,
         CAST(sum(CASE WHEN proj_int >= 0
                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, label)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
       CAST(min(vec_id) AS BIGINT) AS sample_vec
FROM sig GROUP BY bucket
""",
    doc="Signed-random-projection (SRP) LSH over the embedding "
        "column: 16 hyperplanes with deterministic +/-1 coefficients "
        "(integer hash of (plane, dim) — bit 16 of a Knuth multiply, "
        "identical in every engine), embeddings fixed-pointed to "
        "1e-6 before the dot product so each projection is an exact "
        "BIGINT sum whose SIGN cannot flip on float summation order. "
        "The 16-bit sign signature is the cosine-LSH bucket key "
        "(collision probability 1 - theta/pi per plane, Charikar): "
        "bucket histogram + label purity here; the near-dup path "
        "joins on the bucket instead of all-pairs. Per-vector work is "
        "16 x dims multiply-adds, row-local until the final "
        "bucket-count shuffle.",
)
def embedding_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    planes = emb.select(
        "vec_id", "label", "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("p"),
    )
    dims = F.sequence(F.lit(0), F.size("embedding") - 1)
    proj = planes.select(
        "vec_id", "label", "p",
        F.aggregate(
            F.zip_with(
                "embedding",
                dims,
                lambda x, d: F.struct(x.alias("x"), d.alias("d")),
            ),
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.floor(s["x"].cast("double") * 1000000 + 0.5).cast("long")
            * (
                1
                - 2
                * (
                    F.floor(
                        (
                            (F.col("p") * 1009 + s["d"])
                            * F.lit(2654435761)
                            % F.lit(2147483648)
                        )
                        / 65536
                    ).cast("long")
                    % 2
                )
            ),
        ).alias("proj_int"),
    )
    sig = proj.groupBy("vec_id", "label").agg(
        F.sum(
            F.when(
                F.col("proj_int") >= 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), p)"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("bucket")
    )
    return sig.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.countDistinct("label").cast("long").alias("n_labels"),
        F.min("vec_id").cast("long").alias("sample_vec"),
    )


# ---------------------------------------------------------------------------
# k-core peeling over the candidate graph (round 4)
# ---------------------------------------------------------------------------
def _kcore_peel_sql(prev: str, i: int, k: int = 2) -> str:
    return f"""kc{i} AS (
  SELECT node FROM {prev} GROUP BY node HAVING count(*) >= {k}),
e{i} AS (
  SELECT e.node, e.nbr FROM {prev} e
  JOIN kc{i} a ON a.node = e.node
  JOIN kc{i} b ON b.node = e.nbr)"""


@query(
    "dedup_kcore",
    oracle=f"""
WITH corpus AS (SELECT doc_id AS id, text FROM documents),
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
e0 AS (
  SELECT id_a AS node, id_b AS nbr FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs),
{_kcore_peel_sql("e0", 1)},
{_kcore_peel_sql("e1", 2)},
{_kcore_peel_sql("e2", 3)}
SELECT node, CAST(count(*) AS BIGINT) AS degree,
       min(count(*)) OVER () >= 2 AS converged
FROM e3 GROUP BY node
""",
    doc="k-core peeling (k=2, 3 fixed rounds) over the LSH candidate "
        "graph — the densest-region filter for duplicate families: "
        "LSH emits chains/stars whose degree-1 fringe is usually a "
        "false positive; nodes keeping >= 2 neighbors after peeling "
        "sit in genuinely duplicated clusters (complementary to "
        "dedup_clusters, which keeps every reachable node, and LPA, "
        "which labels but does not prune). Each round is one degree "
        "aggregation plus two node-id semi-joins — O(E) shuffle per "
        "round, no driver state; the oracle unrolls the identical "
        "three peels as CTEs. The `converged` column is the operator's "
        "output contract made visible: TRUE iff the returned subgraph "
        "is already a fixpoint (min residual degree >= k — the exact "
        "k-core); on chain graphs needing more rounds it reads FALSE "
        "and callers re-enter with a higher round count. Computed as "
        "a window over the output frame — any scalar-broadcast "
        "formulation makes the flag a second consumer of the "
        "unmaterialized peel chain and races it (measured ~2x).",
)
def dedup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = persist_tracked(
        D.lsh_candidate_pairs(_shared_plain_bands(spark, sf_dir)).select(
            "id_a", "id_b"
        )
    )
    return D.kcore(pairs, k=2, rounds=3)


# ---------------------------------------------------------------------------
# power iteration: one exact step toward the top singular vector (round 4)
# ---------------------------------------------------------------------------
@query(
    "embedding_power_iteration",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings),
rs AS (
  SELECT vec_id, xq, CAST(list_sum(xq) AS BIGINT) AS s FROM q),
w AS (
  SELECT CAST(i AS INT) AS dim, CAST(sum(x * s) AS BIGINT) AS w
  FROM rs, LATERAL (
    SELECT unnest(xq) AS x, generate_subscripts(xq, 1) - 1 AS i)
  GROUP BY i),
nrm AS (
  SELECT sqrt(sum(CAST(w AS DOUBLE) * CAST(w AS DOUBLE))) AS norm FROM w)
SELECT dim, w, round(CAST(w AS DOUBLE) / nrm.norm, 6) AS v1
FROM w CROSS JOIN nrm
""",
    doc="One power-iteration step toward the corpus's top singular "
        "vector — the building block of distributed PCA/spectral "
        "embedding quality checks — computed WITHOUT materializing "
        "the d x d Gram matrix: (X^T X) 1 = X^T (X 1), so a row-sum "
        "pass then a per-dimension weighted sum gives the step in one "
        "explode + one 64-group aggregation. Embeddings are "
        "fixed-pointed to 1e-6 BIGINT, making every accumulation an "
        "exact integer sum (engine-identical regardless of row "
        "order); only the final normalization touches doubles. "
        "Integer headroom: |xq| <= 1e6-ish, row sums <= dims * 1e6, "
        "per-dim products <= 6.4e13, exact up to ~1e5 rows per "
        "aggregation group at these magnitudes — at 100 TB the "
        "accumulator widens to DECIMAL(38,0) or re-scales to 1e-3. "
        "Further iterations are this same plan re-entered with v_k as "
        "the weight column.",
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast("long"),
        ).alias("xq"),
    )
    rs = q.withColumn(
        "s",
        F.aggregate("xq", F.lit(0).cast("long"), lambda acc, x: acc + x),
    )
    w = (
        rs.select(
            F.posexplode("xq").alias("dim", "x"), F.col("s")
        )
        .groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(F.sum(F.col("x") * F.col("s")).cast("long").alias("w"))
    )
    nrm = w.agg(
        F.sqrt(F.sum(F.col("w").cast("double") * F.col("w").cast("double")))
        .alias("norm")
    )
    return w.crossJoin(F.broadcast(nrm)).select(
        "dim",
        "w",
        # try_divide: an all-zero (or cancellation-degenerate) corpus
        # gives norm = 0 — ANSI double /0 hard-errors in Spark, NULL
        # in the DuckDB oracle
        F.round(F.try_divide(F.col("w").cast("double"), F.col("norm")), 6)
        .alias("v1"),
    )


# ---------------------------------------------------------------------------
# collocation mining: bigram PMI (round 4)
# ---------------------------------------------------------------------------
@query(
    "doc_bigram_pmi",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks WHERE len(tk) >= 2),
bc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY bigram),
ug AS (
  SELECT unnest(tk) AS term FROM toks WHERE len(tk) >= 2),
uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM ug GROUP BY term),
tot AS (
  SELECT CAST((SELECT sum(c_ab) FROM bc) AS BIGINT) AS t,
         CAST((SELECT sum(c) FROM uc) AS BIGINT) AS u)
SELECT b.bigram, b.c_ab,
       round(ln((b.c_ab * 1.0 * tot.u * tot.u)
                / (tot.t * 1.0 * ua.c * ub.c)), 4) + 0.0 AS pmi
FROM bc b
JOIN uc ua ON ua.term = string_split(b.bigram, ' ')[1]
JOIN uc ub ON ub.term = string_split(b.bigram, ' ')[2]
CROSS JOIN tot
WHERE b.c_ab >= 5
""",
    doc="Collocation mining via pointwise mutual information over "
        "word bigrams: PMI = ln(p(ab) / (p(a) p(b))) computed from "
        "exact integer counts with ONE double expression per "
        "surviving bigram (same multiply order both engines, so the "
        "ln argument is bit-identical). The c_ab >= 5 support floor "
        "is the standard collocation cut — it also bounds the "
        "bigram-unigram join to frequent bigrams. This is the phrase "
        "detector run before tokenizer training (word2vec-style "
        "phrase merging); bigram generation is a row-local "
        "zip_with/slice, the only shuffles are the two count "
        "aggregations and the frequent-bigram joins against the "
        "broadcast unigram model. Empty-text note: split('') yields "
        "[''] in both engines, len 1 < 2, filtered.",
)
def doc_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    # persisted: the tokenized frame feeds bigram generation, the
    # unigram model AND the corpus totals -- without it the corpus
    # re-tokenizes per consumer
    toks = persist_tracked(
        d.select(tk.alias("tk")).filter(F.size("tk") >= 2)
    )
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.slice("tk", 1, F.size("tk") - 1),
                F.slice("tk", 2, F.size("tk") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    bc = persist_tracked(
        bg.groupBy("bigram").agg(
            F.count(F.lit(1)).cast("long").alias("c_ab")
        )
    )
    ug = toks.select(F.explode("tk").alias("term"))
    uc = ug.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = bc.agg(F.sum("c_ab").cast("long").alias("t")).crossJoin(
        ug.agg(F.count(F.lit(1)).cast("long").alias("u"))
    )
    freq = bc.filter(F.col("c_ab") >= 5)
    parts = F.split("bigram", " ")
    ua = uc.select(F.col("term").alias("__ta"), F.col("c").alias("__ca"))
    ub = uc.select(F.col("term").alias("__tb"), F.col("c").alias("__cb"))
    return (
        freq.withColumn("__ta", parts[0])
        .withColumn("__tb", parts[1])
        .join(F.broadcast(ua), "__ta")
        .join(F.broadcast(ub), "__tb")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "c_ab",
            # + 0.0 normalizes IEEE -0.0 (a just-below-1 ratio rounds
            # to -0.0 in DuckDB, 0.0 in Spark — the hash compare sees
            # the sign)
            (
                F.round(
                    F.log(
                        (F.col("c_ab") * 1.0 * F.col("u") * F.col("u"))
                        / (F.col("t") * 1.0 * F.col("__ca") * F.col("__cb"))
                    ),
                    4,
                )
                + 0.0
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# link prediction on the candidate graph (round 4)
# ---------------------------------------------------------------------------
@query(
    "dedup_link_prediction",
    oracle=f"""
WITH {_SNM_RANK_SQL},
pairs AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b
  FROM r a JOIN r b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 2),
edges AS (
  SELECT id_a AS node, id_b AS nbr FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY node),
cn AS (
  SELECT a.node AS id_a, b.node AS id_b, CAST(count(*) AS BIGINT) AS common
  FROM edges a JOIN edges b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY a.node, b.node),
cand AS (
  SELECT cn.id_a, cn.id_b, cn.common
  FROM cn
  LEFT JOIN pairs p ON p.id_a = cn.id_a AND p.id_b = cn.id_b
  WHERE p.id_a IS NULL AND cn.common >= 1)
SELECT c.id_a, c.id_b, c.common,
       CAST(c.common * 1000000
            // (da.deg + db.deg - c.common) AS BIGINT) AS jaccard_ppm
FROM cand c
JOIN deg da ON da.node = c.id_a
JOIN deg db ON db.node = c.id_b
""",
    doc="Link prediction over the sorted-neighborhood blocking graph: "
        "for every NON-edge pair at distance 2, the common-neighbor "
        "count and neighborhood-Jaccard score (integer ppm — "
        "denominator >= common >= 1, no /0 path). SNM's rank-window "
        "chains are exactly where link prediction earns its keep: a "
        "w=3 window links rank r to r+1/r+2 only, so near-dups 3+ "
        "ranks apart are MISSED edges that their shared neighbors "
        "vouch for — the standard recall-recovery pass over any "
        "blocked candidate graph (the LSH band graph on this corpus "
        "is all cliques, leaving nothing at distance 2 by "
        "construction). The wedge join costs sum(deg^2), bounded by "
        "the window width w, never all-pairs; the existing-edge "
        "anti-join and degree lookups are id-keyed equi-joins.",
)
def dedup_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _snm_pairs(spark, sf_dir)
    pairs = persist_tracked(
        raw.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        ).distinct()
    )
    edges = persist_tracked(
        pairs.select(F.col("id_a").alias("node"), F.col("id_b").alias("nbr"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("node"), F.col("id_a").alias("nbr")
            )
        )
    )
    deg = edges.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    ea = edges.select(F.col("node").alias("id_a"), "nbr")
    eb = edges.select(F.col("node").alias("id_b"), "nbr")
    cn = (
        ea.join(eb, "nbr")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    cand = cn.join(pairs, ["id_a", "id_b"], "left_anti").filter(
        F.col("common") >= 1
    )
    da = deg.select(F.col("node").alias("id_a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("id_b"), F.col("deg").alias("__db"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            F.expr(
                "common * 1000000 div (__da + __db - common)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diversified retrieval (round 4)
# ---------------------------------------------------------------------------
@query(
    "embedding_mmr_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 97 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
expl AS (SELECT query_id, neighbor_id,
                unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
         FROM q, c WHERE query_id <> neighbor_id),
dots AS (SELECT query_id, neighbor_id,
                sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
         FROM expl GROUP BY query_id, neighbor_id),
scored AS (SELECT query_id, neighbor_id,
                  round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos
           FROM dots),
cand AS (
  SELECT query_id, neighbor_id, cos FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored) WHERE rnk <= 10),
pexp AS (
  SELECT a.query_id, a.neighbor_id AS id_i, b.neighbor_id AS id_j,
         unnest(ei.embedding)::DOUBLE AS x, unnest(ej.embedding)::DOUBLE AS y
  FROM cand a
  JOIN cand b ON b.query_id = a.query_id AND b.neighbor_id <> a.neighbor_id
  JOIN embeddings ei ON ei.vec_id = a.neighbor_id
  JOIN embeddings ej ON ej.vec_id = b.neighbor_id),
psim AS (
  SELECT query_id, id_i, id_j,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
  FROM pexp GROUP BY query_id, id_i, id_j),
s1 AS (
  SELECT query_id, neighbor_id AS sel1, cos AS score1 FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM cand) WHERE rnk = 1),
st2 AS (
  SELECT c2.query_id, c2.neighbor_id,
         floor((CAST(0.7 AS DOUBLE) * c2.cos
               - CAST(0.3 AS DOUBLE) * ps.sim) * 1000000 + 0.5)
             / 1000000 AS score2
  FROM cand c2
  JOIN s1 ON s1.query_id = c2.query_id AND c2.neighbor_id <> s1.sel1
  JOIN psim ps ON ps.query_id = c2.query_id
              AND ps.id_i = c2.neighbor_id AND ps.id_j = s1.sel1),
s2 AS (
  SELECT query_id, neighbor_id AS sel2, score2 FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score2 DESC, neighbor_id) AS rnk
    FROM st2) WHERE rnk = 1),
st3 AS (
  SELECT c3.query_id, c3.neighbor_id,
         floor((CAST(0.7 AS DOUBLE) * c3.cos
               - CAST(0.3 AS DOUBLE) * greatest(pa.sim, pb.sim)) * 1000000
               + 0.5) / 1000000 AS score3
  FROM cand c3
  JOIN s1 ON s1.query_id = c3.query_id AND c3.neighbor_id <> s1.sel1
  JOIN s2 ON s2.query_id = c3.query_id AND c3.neighbor_id <> s2.sel2
  JOIN psim pa ON pa.query_id = c3.query_id
              AND pa.id_i = c3.neighbor_id AND pa.id_j = s1.sel1
  JOIN psim pb ON pb.query_id = c3.query_id
              AND pb.id_i = c3.neighbor_id AND pb.id_j = s2.sel2),
s3 AS (
  SELECT query_id, neighbor_id AS sel3, score3 FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score3 DESC, neighbor_id) AS rnk
    FROM st3) WHERE rnk = 1)
SELECT query_id, 1 AS mmr_rank, sel1 AS vec_id, score1 AS mmr_score FROM s1
UNION ALL
SELECT query_id, 2, sel2, score2 FROM s2
UNION ALL
SELECT query_id, 3, sel3, score3 FROM s3
""",
    doc="Maximal Marginal Relevance diversified retrieval (lambda=0.7, "
        "3 greedy picks from the exact top-10 candidate pool): each "
        "step takes argmax of 0.7*rel(q,d) - 0.3*max_sim(d, selected) "
        "— the de-duplicating reranker for RAG context assembly "
        "(pure-relevance top-k hands the generator near-identical "
        "passages; MMR trades redundancy for coverage). Candidate "
        "generation is the distributed half (exact top-10, the "
        "documented brute-force exactness baseline; "
        "embedding_mmr_ivf is the index-served scale path); the "
        "rerank is S.mmr_rerank — one shuffle by query_id, one "
        "Arrow-batched greedy kernel doing the k^2-per-query "
        "arithmetic with engine-identical rounding (sims round "
        "half-up-away-from-zero at 6 decimals, step scores "
        "floor(x*1e6+0.5)/1e6), so both engines select identical "
        "sets with vec_id tie-breaks.",
)
def embedding_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    # fan_out the corpus: the exactness-baseline crossJoin scans it
    # row-heavy and the single-row-group test parquet would otherwise
    # serialize the scoring stage (no-op at real multi-split scale).
    # keep_vec carries each candidate's vector through the top-k cut so
    # the MMR reranker never joins back to the corpus.
    cand = S.cosine_topk(queries, fan_out(emb), k=10, keep_vec=True)
    return S.mmr_rerank(cand)


@query(
    "embedding_mmr_ivf",
    oracle="""
SELECT vec_id AS query_id, TRUE AS pool_floor_ok, TRUE AS pool_mean_ok,
       TRUE AS picks_floor_ok, TRUE AS picks_mean_ok, TRUE AS three_picks_ok
FROM embeddings WHERE vec_id % 97 = 0
""",
    doc="MMR diversified retrieval over the INDEX-SERVED candidate "
        "pool — the 100 TB shape of embedding_mmr_topk: candidates "
        "come from ivf_topk (k-means cells, nprobe probing — the "
        "corpus shuffles once by cell id, never brute-force-scanned "
        "per query), then the same S.mmr_rerank Arrow kernel "
        "diversifies each pool. Value-checked like embedding_ivf_topk: "
        "the IVF pool must recover >= 1 of the exact top-10 per query "
        "with mean pool-recall >= 0.4, the 3 MMR picks must include "
        ">= 1 exact-top-10 member per query with mean pick-relevance "
        ">= 0.6, and every query must yield exactly min(3, pool) "
        "picks; all pinned TRUE by the oracle (seeded k-means makes "
        "the booleans deterministic; measured pool means 0.57-0.62, "
        "pick means 0.83-0.94 across sf0.001/0.01/0.1). The exact "
        "brute-force arm exists ONLY to measure recall — it is the "
        "audit, not the serve path.",
)
def embedding_mmr_ivf(
    spark: SparkSession, sf_dir: str, *, emit_metrics: bool = False
) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    corpus = fan_out(emb)
    # corpus-adaptive cells (round 11): the x9 wide probe measured
    # shuffle x59 on a x9 corpus with FIXED cells=16 — query count and
    # cell size both grow, so candidate volume goes ~quadratic. Cell
    # size pinned ~128 keeps nprobe x cell_size constant per query ->
    # probe shuffle scales with the query count alone. Identical plan
    # (cells=16) at every oracle-gate SF.
    cells = S.auto_cells(emb.count())
    cand = persist_tracked(
        S.ivf_topk(queries, corpus, k=10, cells=cells, nprobe=4,
                   keep_vec=True)
    )
    # persisted: picks feeds BOTH audit aggregations (pick count and
    # exact-top-10 hits) — unpersisted, the query_id shuffle and the
    # Arrow MMR kernel would run twice
    picks = persist_tracked(S.mmr_rerank(cand))
    brute = persist_tracked(
        S.cosine_topk(queries, corpus, k=10).select("query_id", "neighbor_id")
    )
    # broadcast-pin every audit-side join: all frames are queries- or
    # pool-sized, but behind persisted subtrees Catalyst lacks stats
    # and would sort-merge them
    pool_hits = (
        cand.join(F.broadcast(brute), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("pool_hits"))
    )
    pool_size = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("pool_size")
    )
    pick_stats = picks.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_picks")
    )
    pick_hits = (
        picks.select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(F.broadcast(brute), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("pick_hits"))
    )
    per_q = (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(F.broadcast(pool_hits), "query_id", "left")
        .join(F.broadcast(pool_size), "query_id", "left")
        .join(F.broadcast(pick_stats), "query_id", "left")
        .join(F.broadcast(pick_hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("pool_hits", F.lit(0)).alias("pool_hits"),
            F.coalesce("pool_size", F.lit(0)).alias("pool_size"),
            F.coalesce("n_picks", F.lit(0)).alias("n_picks"),
            F.coalesce("pick_hits", F.lit(0)).alias("pick_hits"),
        )
    )
    mean_pool = F.avg(F.col("pool_hits") / 10.0).over(Window.partitionBy())
    mean_pick = F.avg(F.col("pick_hits") / 3.0).over(Window.partitionBy())
    if emit_metrics:
        # recalibration surface (tools/recalibrate.py): the measured
        # values the pinned booleans threshold — NOT oracle-compared
        return per_q.select(
            "query_id", "pool_hits", "pool_size", "n_picks", "pick_hits",
            F.floor(mean_pool * 1000000).cast("long").alias("mean_pool_ppm"),
            F.floor(mean_pick * 1000000).cast("long").alias("mean_pick_ppm"),
        )
    return per_q.select(
        "query_id",
        (F.col("pool_hits") >= 1).alias("pool_floor_ok"),
        (mean_pool >= 0.4).alias("pool_mean_ok"),
        (F.col("pick_hits") >= 1).alias("picks_floor_ok"),
        (mean_pick >= 0.6).alias("picks_mean_ok"),
        (
            F.col("n_picks") == F.least(F.lit(3), F.col("pool_size"))
        ).alias("three_picks_ok"),
    )


# ---------------------------------------------------------------------------
# community quality: exact modularity of the LPA labeling (round 5)
# ---------------------------------------------------------------------------
@query(
    "dedup_modularity",
    oracle=f"""
WITH corpus AS (SELECT doc_id AS id, text FROM documents),
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{_bands_sql()},
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash AND a.id < b.id),
edges AS (
  SELECT id_a AS node, id_b AS nbr FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs),
l0 AS (SELECT DISTINCT node, node AS label FROM edges),
{_lpa_iter_sql("l0", 1)},
{_lpa_iter_sql("l1", 2)},
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
intra AS (
  SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
  FROM pairs p
  JOIN l2 la ON la.node = p.id_a
  JOIN l2 lb ON lb.node = p.id_b AND lb.label = la.label
  GROUP BY la.label),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY node),
dsum AS (
  SELECT l.label, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(d.d) AS BIGINT) AS d_c
  FROM l2 l JOIN deg d USING (node) GROUP BY l.label)
SELECT ds.label, ds.n_members,
       CAST(coalesce(i.e_c, 0) AS BIGINT) AS intra_edges,
       ds.d_c AS degree_sum,
       CAST(floor(CAST(4 * m.m * coalesce(i.e_c, 0) - ds.d_c * ds.d_c
                       AS DOUBLE) * 1000000 / (4.0 * m.m * m.m))
            AS BIGINT) AS q_ppm
FROM dsum ds LEFT JOIN intra i USING (label) CROSS JOIN m
""",
    doc="Newman modularity of the LPA communities on the LSH candidate "
        "graph — the community-QUALITY metric the k-core/LPA/PageRank "
        "family was missing: per community c, q_c = e_c/m - "
        "(d_c/2m)^2 (intra-edge share minus the share a random graph "
        "with the same degrees would give); sum(q_ppm) ~ total Q in "
        "ppm. High-Q labelings mean the dup families are genuinely "
        "denser than chance — low Q says the blocking is emitting "
        "noise. All inputs are exact BIGINTs (edge counts, degree "
        "sums); the single floor(double) division is identical IEEE "
        "on identical integers in both engines — exact while "
        "|4*m*e_c - d_c^2| * 1e6 < 2^53, i.e. m up to ~5e7 candidate "
        "edges; beyond that rescale to DECIMAL(38,6). Scale shape: "
        "one pairs-sized join per side (labels are node-sized), "
        "degree/label aggregates are O(E) hash shuffles — same "
        "partitioning family as the LPA rounds it audits.",
)
def dedup_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = persist_tracked(
        D.lsh_candidate_pairs(_shared_plain_bands(spark, sf_dir)).select(
            "id_a", "id_b"
        )
    )
    labels = persist_tracked(D.label_propagation(pairs, iterations=2))
    m = pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = labels.select(
        F.col("node").alias("id_a"), F.col("label").alias("__la")
    )
    lb = labels.select(
        F.col("node").alias("id_b"), F.col("label").alias("__lb")
    )
    intra = (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dsum = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("d").cast("long").alias("d_c"),
        )
    )
    num = (
        4 * F.col("m") * F.coalesce("e_c", F.lit(0)) - F.col("d_c") * F.col("d_c")
    ).cast("double")
    return (
        dsum.join(F.broadcast(intra), "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_members",
            F.coalesce("e_c", F.lit(0)).cast("long").alias("intra_edges"),
            F.col("d_c").alias("degree_sum"),
            F.floor(num * 1000000 / (4.0 * F.col("m") * F.col("m")))
            .cast("long")
            .alias("q_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# matryoshka prefix-dimension retrieval recall (round 5)
# ---------------------------------------------------------------------------
@query(
    "embedding_matryoshka_recall",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 97 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
ef AS (SELECT query_id, neighbor_id,
              unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
       FROM q, c WHERE query_id <> neighbor_id),
sf AS (SELECT query_id, neighbor_id,
              round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos
       FROM ef GROUP BY query_id, neighbor_id),
tf AS (SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         FROM sf) WHERE rn <= 5),
ep AS (SELECT query_id, neighbor_id,
              unnest(qv[1:16])::DOUBLE AS x, unnest(cv[1:16])::DOUBLE AS y
       FROM q, c WHERE query_id <> neighbor_id),
sp AS (SELECT query_id, neighbor_id,
              round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos
       FROM ep GROUP BY query_id, neighbor_id),
tp AS (SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         FROM sp) WHERE rn <= 5)
SELECT tf.query_id,
       CAST(count(tp.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(count(tp.neighbor_id) * 200000 AS BIGINT) AS recall_ppm
FROM tf LEFT JOIN tp
  ON tp.query_id = tf.query_id AND tp.neighbor_id = tf.neighbor_id
GROUP BY tf.query_id
""",
    doc="Matryoshka-representation evaluation (Kusupati et al. 2022): "
        "how much top-5 retrieval quality survives truncating the "
        "embedding to its FIRST 16 of 64 dimensions — the audit run "
        "before shipping prefix-dim ANN (search on a 4x cheaper "
        "prefix, rerank survivors on full width). Both top-5 sets are "
        "exact (brute force on query x corpus with the usual rounded-6 "
        "tie-broken ranking); output is per-query overlap and recall "
        "in exact ppm (n_overlap * 1e6 / 5). Scale shape: the prefix "
        "arm is the point — slice(embedding, 1, 16) runs row-local "
        "before scoring, so the candidate stage moves 4x less data "
        "through the same broadcast(queries) x corpus pass; in a "
        "production serve the prefix feeds the IVF/LSH index instead "
        "of brute force.",
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    corpus = fan_out(emb)
    full = S.cosine_topk(queries, corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    q16 = queries.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    c16 = corpus.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    pref = S.cosine_topk(q16, c16, k=5, dims=16).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    # both top-5 frames are queries*5 rows — broadcast the prefix side
    # (persisted-subtree stats would otherwise sort-merge a 30-row join)
    ov = full.join(F.broadcast(pref), ["query_id", "neighbor_id"], "left")
    return ov.groupBy("query_id").agg(
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_overlap"),
        (F.sum(F.coalesce("__hit", F.lit(0))) * 200000)
        .cast("long")
        .alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# 1-bit (sign) binary quantization recall audit (round 6)
# ---------------------------------------------------------------------------
def _bincode_sql(lo: int, hi: int) -> str:
    """BIGINT sign-bit code over embedding dims [lo, hi] (1-based)."""
    return (
        f"list_sum(list_transform(range({lo}, {hi + 1}), "
        f"i -> CASE WHEN embedding[i] >= 0 "
        f"THEN (1::BIGINT << (i - {lo})) ELSE 0::BIGINT END))::BIGINT"
    )


@query(
    "embedding_binary_quantize_recall",
    oracle=f"""
WITH codes AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
         {_bincode_sql(1, 32)} AS lo, {_bincode_sql(33, 64)} AS hi
  FROM embeddings),
q AS (SELECT * FROM codes WHERE vec_id % 97 = 0),
ham AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS hamming
  FROM q CROSS JOIN codes c WHERE c.vec_id <> q.vec_id),
btop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming, neighbor_id) AS rn
    FROM ham) WHERE rn <= 5),
expl AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         unnest(q.emb) AS x, unnest(c.emb) AS y
  FROM q CROSS JOIN codes c WHERE c.vec_id <> q.vec_id),
dots AS (
  SELECT query_id, neighbor_id,
         sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM expl GROUP BY query_id, neighbor_id),
ctop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 6)
                                       DESC, neighbor_id) AS rn
    FROM dots) WHERE rn <= 5)
SELECT c.query_id,
       CAST(count(b.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(count(b.neighbor_id) * 200000 AS BIGINT) AS recall_ppm
FROM ctop c
LEFT JOIN btop b
  ON b.query_id = c.query_id AND b.neighbor_id = c.neighbor_id
GROUP BY c.query_id
""",
    doc="1-bit binary-quantization recall audit: each 64-dim float "
        "vector compresses to 64 SIGN BITS (two BIGINT halves, 8 bytes "
        "total — a 32x compression), candidates rank by Hamming "
        "distance (bit_count of xor, pure codegen — no float math at "
        "all on the scan side), and the audit reports per-query top-5 "
        "overlap with the exact cosine ranking in exact ppm, the same "
        "output shape as embedding_matryoshka_recall. This is the "
        "cheapest vector-search rung (BQ/RaBitQ-style sign codes, "
        "SRP-LSH's code used as a DISTANCE, not just a bucket): at "
        "1e9 vectors the code table is 8 GB where floats are 256 GB, "
        "and the Hamming scan is SIMD-able integer work. The two-half "
        "layout dodges the BIGINT sign bit (bit 63 never set, so "
        "ordering and xor semantics are identical across engines); "
        "ham/cosine tie-break both end on neighbor_id. Exact oracle — "
        "no pinned booleans; the measured recall IS the output.",
)
def embedding_binary_quantize_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")

    def code(lo: int, hi: int):
        return F.expr(
            f"aggregate(sequence({lo}, {hi}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CASE WHEN element_at(embedding, i) >= 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), i - {lo}) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )

    codes = fan_out(
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
            code(1, 32).alias("lo"),
            code(33, 64).alias("hi"),
        )
    )
    q = codes.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("__qv"),
        F.col("lo").alias("__qlo"),
        F.col("hi").alias("__qhi"),
    )
    pairs = F.broadcast(q).crossJoin(
        codes.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("emb").alias("__cv"),
            F.col("lo").alias("__clo"),
            F.col("hi").alias("__chi"),
        )
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    # ONE pass scores both rankings (the float cosine exists only for
    # the audit; a production BQ scan would carry the codes alone)
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            F.expr("bit_count(__qlo ^ __clo) + bit_count(__qhi ^ __chi)")
        ).alias("hamming"),
        F.round(S.cosine("__qv", "__cv", EMB_DIMS), 6).alias(
            "cos"
        ),
    )
    wb = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        (F.row_number().over(wb) <= 5).alias("__in_b"),
        (F.row_number().over(wc) <= 5).alias("__in_c"),
    )
    return (
        ranked.filter(F.col("__in_c"))
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("__in_b"), 1).otherwise(0))
            .cast("long")
            .alias("n_overlap"),
            (F.sum(F.when(F.col("__in_b"), 1).otherwise(0)) * 200000)
            .cast("long")
            .alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# IVF nprobe cost/recall sweep (round 5)
# ---------------------------------------------------------------------------
@query(
    "embedding_ivf_nprobe_sweep",
    oracle="""
SELECT CAST(x AS INT) AS nprobe, TRUE AS monotone_ok, TRUE AS floor_ok
FROM (VALUES (1), (2), (4), (8)) t(x)
""",
    doc="The IVF cost/recall dial measured in one query: top-5 recall "
        "vs the exact baseline at nprobe = 1, 2, 4, 8 over the same "
        "16-cell index — k-means fits ONCE because the whole sweep is "
        "a single nprobe=16 candidate pass (keep_probe_rank + k=None). "
        "Probing all 16 cells covers the ENTIRE corpus with the exact "
        "pair domain, round-6 cosine, and tie-break of cosine_topk, so "
        "the overall per-query rank IS the brute-force truth and no "
        "separate exact pass exists at all. The binding invariant is "
        "structural, not a tuned bound: a query's probe list is the "
        "stable argsort PREFIX of its cell distances, so candidate "
        "sets are NESTED in nprobe and recall against the fixed truth "
        "is monotone non-decreasing — monotone_ok pins that per step; "
        "floor_ok pins mean recall >= 0.2 even at nprobe=1 (measured "
        "0.31-0.47 across sf0.001/0.01/0.1, seeded and deterministic: "
        "k-means trains on the first rows by vec_id, so the centers "
        "do not depend on the core count). "
        "Scale: ONE ANN pass, ONE WindowExec (truth rank + all four "
        "nested-prefix arm ranks as running conditional counts in the "
        "same total order), one conditional aggregate unpivoted to 4 "
        "rows. At production scale you would NOT probe all cells for "
        "truth — you'd reuse a stored exact-truth sample; full "
        "coverage here is what makes the audit exact.",
)
def embedding_ivf_nprobe_sweep(
    spark: SparkSession, sf_dir: str, *, emit_metrics: bool = False
) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    corpus = fan_out(emb)
    # ONE pass serves both the four arms AND the exact truth: probing
    # ALL 16 cells covers the entire corpus (minus self, same pair
    # domain, same round-6 cosine and tie-break as cosine_topk), so the
    # overall per-query rank IS the brute-force rank, and within the
    # same total order the running count of rows with __probe_rank < n
    # IS the row_number a separate nprobe=n pass would assign
    # (candidate sets are nested prefixes). One WindowExec evaluates
    # the truth rank plus all four arm ranks; one conditional aggregate
    # replaces the former separate brute pass + four
    # filter/rank/semi-join/agg job chains.
    cand = S.ivf_topk(
        queries, corpus, k=None, cells=16, nprobe=16, keep_probe_rank=True,
    ).select("query_id", "neighbor_id", "cos", "__probe_rank")
    n_q = queries.agg(F.count(F.lit(1)).cast("long").alias("n_q"))
    wq = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cos").desc(), F.col("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cand.select(
        "__probe_rank",
        F.sum(F.lit(1)).over(wq).alias("__rt"),  # exact (full-coverage) rank
        *[
            F.sum(F.when(F.col("__probe_rank") < n, 1).otherwise(0))
            .over(wq)
            .alias(f"__r{n}")
            for n in (1, 2, 4, 8)
        ],
    )
    agg = ranked.agg(
        *[
            F.sum(
                F.when(
                    (F.col("__probe_rank") < n)
                    & (F.col(f"__r{n}") <= 5)
                    & (F.col("__rt") <= 5),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"__h{n}")
            for n in (1, 2, 4, 8)
        ]
    )
    arms = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("nprobe"),
                        F.col(f"__h{n}").alias("hits"),
                    )
                    for n in (1, 2, 4, 8)
                ]
            )
        ).alias("a")
    ).select("a.nprobe", "a.hits")
    rec = arms.crossJoin(F.broadcast(n_q)).select(
        "nprobe",
        F.expr("CAST(hits * 1000000 div (n_q * 5) AS BIGINT)").alias(
            "recall_ppm"
        ),
    )
    if emit_metrics:
        # recalibration surface (tools/recalibrate.py): the measured
        # recall the pinned booleans threshold — NOT oracle-compared
        return rec
    w = Window.orderBy("nprobe")  # 4 rows — domain, not data
    return rec.select(
        "nprobe",
        (
            F.col("recall_ppm")
            >= F.coalesce(F.lag("recall_ppm").over(w), F.lit(0))
        ).alias("monotone_ok"),
        (F.col("recall_ppm") >= 200000).alias("floor_ok"),
    )


# ---------------------------------------------------------------------------
# simhash fingerprint bit-balance QA (round 5)
# ---------------------------------------------------------------------------
@query(
    "dedup_simhash_bit_balance",
    oracle=f"""
WITH {_CORPUS_SQL},
{_simhash_sql()},
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM fp),
bits AS (SELECT CAST(unnest(range(0, {SIMHASH_BITS})) AS INT) AS bit)
SELECT bits.bit,
       CAST(sum((fp.simhash >> bits.bit) & 1) AS BIGINT) AS n_set,
       CAST(sum((fp.simhash >> bits.bit) & 1) * 1000000 // n.n_docs
            AS BIGINT) AS set_ppm
FROM fp CROSS JOIN bits CROSS JOIN n
GROUP BY bits.bit, n.n_docs
""",
    doc="SimHash fingerprint bit-balance QA: the fraction of documents "
        "with each of the 32 bits set, in exact ppm — the health check "
        "run before trusting Hamming distances (a bit stuck near 0 or "
        "1 carries no discriminating information, silently shrinking "
        "the effective fingerprint and inflating near-dup false "
        "positives; healthy md5-derived bits sit near 500000 ppm). "
        "One posexplode over the persisted fingerprint frame + a "
        "32-group aggregate; the doc count is the usual 1-row scalar "
        "broadcast. Shift base is the BIGINT simhash, so the 5-bit "
        "shift-count masking trap on INT never applies.",
)
def dedup_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    fp = persist_tracked(D.simhash(corpus, "text", "id"))
    n = fp.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    bits_arr = F.array(
        *[
            F.shiftright("simhash", i).bitwiseAND(F.lit(1)).cast("int")
            for i in range(SIMHASH_BITS)
        ]
    )
    exploded = fp.select(F.posexplode(bits_arr).alias("bit", "is_set"))
    return (
        exploded.groupBy(F.col("bit").cast("int").alias("bit"))
        .agg(F.sum("is_set").cast("long").alias("n_set"))
        .crossJoin(F.broadcast(n))
        .select(
            "bit",
            "n_set",
            F.expr("CAST(n_set * 1000000 div n_docs AS BIGINT)").alias(
                "set_ppm"
            ),
        )
    )


@query(
    "doc_collocation_llr",
    oracle="""
WITH toks AS (
  SELECT string_split(lower(text), ' ') AS tk FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 2),
bg AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks),
bc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY bigram),
ra AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         CAST(sum(c_ab) AS BIGINT) AS r FROM bc GROUP BY 1),
cb AS (
  SELECT string_split(bigram, ' ')[2] AS w2,
         CAST(sum(c_ab) AS BIGINT) AS c FROM bc GROUP BY 1),
tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM bc),
cells AS (
  SELECT b.bigram, b.c_ab,
         b.c_ab AS k11, ra.r - b.c_ab AS k12, cb.c - b.c_ab AS k21,
         tot.n - ra.r - cb.c + b.c_ab AS k22,
         ra.r AS r1, tot.n - ra.r AS r2, cb.c AS c1, tot.n - cb.c AS c2,
         tot.n AS n
  FROM bc b
  JOIN ra ON ra.w1 = string_split(b.bigram, ' ')[1]
  JOIN cb ON cb.w2 = string_split(b.bigram, ' ')[2]
  CROSS JOIN tot
  WHERE b.c_ab >= 5)
SELECT bigram, c_ab,
       round(2 * (
         (CASE WHEN k11 > 0
               THEN k11 * ln((k11 * 1.0 * n) / (r1 * 1.0 * c1)) ELSE 0 END)
       + (CASE WHEN k12 > 0
               THEN k12 * ln((k12 * 1.0 * n) / (r1 * 1.0 * c2)) ELSE 0 END)
       + (CASE WHEN k21 > 0
               THEN k21 * ln((k21 * 1.0 * n) / (r2 * 1.0 * c1)) ELSE 0 END)
       + (CASE WHEN k22 > 0
               THEN k22 * ln((k22 * 1.0 * n) / (r2 * 1.0 * c2)) ELSE 0 END)
       ), 4) + 0.0 AS llr
FROM cells
""",
    doc="Collocation significance via Dunning's log-likelihood ratio "
        "(Dunning 1993) — the test that, unlike doc_bigram_pmi, does "
        "not over-rank rare pairs: the 2x2 contingency table per "
        "bigram (k11=c_ab against the row/column marginals of the "
        "bigram table itself) feeds G2 = 2*sum k*ln(kN/(rowsum*"
        "colsum)) with zero-count cells contributing 0. Every ln "
        "argument is a ratio of exact BIGINT counts multiplied in the "
        "same order in both engines, so the doubles are bit-identical "
        "up to libm ULP (same caveat class as doc_bigram_pmi, masked "
        "by round 4). Marginals come from the COUNT table, not a "
        "re-scan of the corpus; the c_ab >= 5 support floor bounds "
        "the scoring join. Scale: two token-table aggregations and "
        "two broadcast-marginal joins — the corpus shuffles once into "
        "bigram counts and never again.",
)
def doc_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    toks = d.select(tk.alias("tk")).filter(F.size("tk") >= 2)
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.slice("tk", 1, F.size("tk") - 1),
                F.slice("tk", 2, F.size("tk") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    # persisted: the bigram-count table feeds BOTH marginals, the total
    # and the scoring join
    bc = persist_tracked(
        bg.groupBy("bigram").agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    bc.count()  # eager fill: four consumers race the cold lineage otherwise
    parts = F.split("bigram", " ")
    ra = bc.groupBy(parts[0].alias("w1")).agg(
        F.sum("c_ab").cast("long").alias("r")
    )
    cb = bc.groupBy(parts[1].alias("w2")).agg(
        F.sum("c_ab").cast("long").alias("c")
    )
    tot = bc.agg(F.sum("c_ab").cast("long").alias("n"))
    cells = (
        bc.filter(F.col("c_ab") >= 5)
        .withColumn("w1", parts[0])
        .withColumn("w2", parts[1])
        .join(F.broadcast(ra), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(tot))
    )
    k11 = F.col("c_ab")
    k12 = F.col("r") - k11
    k21 = F.col("c") - k11
    k22 = F.col("n") - F.col("r") - F.col("c") + k11
    r1, r2 = F.col("r"), F.col("n") - F.col("r")
    c1, c2 = F.col("c"), F.col("n") - F.col("c")

    def term(k, rs, cs):
        return F.when(
            k > 0, k * F.log((k * 1.0 * F.col("n")) / (rs * 1.0 * cs))
        ).otherwise(F.lit(0.0))

    llr = (
        F.round(
            2 * (term(k11, r1, c1) + term(k12, r1, c2)
                 + term(k21, r2, c1) + term(k22, r2, c2)),
            4,
        )
        + 0.0
    )
    return cells.select("bigram", "c_ab", llr.alias("llr"))


@query(
    "doc_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 8),
grams AS (
  SELECT doc_id,
         md5(unnest(list_transform(range(1, len(tk) - 6),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                  || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' '
                  || tk[i+6] || ' ' || tk[i+7]))) AS g
  FROM toks),
first_doc AS (
  SELECT g, min(doc_id) AS fd FROM grams GROUP BY g)
SELECT grams.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_doc.fd = grams.doc_id THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS novel_ppm
FROM grams JOIN first_doc ON first_doc.g = grams.g
GROUP BY grams.doc_id
""",
    doc="Per-document 8-gram NOVELTY — the forward-contamination / "
        "memorization-risk telemetry of a training corpus: an 8-gram "
        "occurrence is novel iff this doc_id is the gram's FIRST "
        "appearance in corpus order (min doc_id attribution), and each "
        "doc reports its novel fraction in exact ppm (integer div). A "
        "boilerplate-heavy doc scores low; the doc that introduced the "
        "boilerplate scores high — complements doc_repeated_ngrams "
        "(within-doc repetition) and contamination_8gram (against an "
        "eval set). Scale discipline: grams shuffle as 32-char md5 "
        "digests, never the raw 8-gram text (corpus_dedup_rate_by_"
        "source's digest-key trick), one groupBy for first-appearance, "
        "one digest-keyed join back — both keyed on the same column, "
        "so AQE plans one Exchange per side.",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    toks = fan_out(
        d.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 8)
    )
    gram = F.md5(
        F.concat_ws(
            " ", *[F.element_at("tk", F.col("i") + i) for i in range(8)]
        )
    )
    grams = persist_tracked(
        toks.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("tk") - 7)).alias("i"),
            "tk",
        ).select("doc_id", gram.alias("g"))
    )
    first_doc = grams.groupBy("g").agg(F.min("doc_id").alias("fd"))
    return (
        grams.join(first_doc, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.expr(
                "CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) "
                "* 1000000 div count(1) AS BIGINT)"
            ).alias("novel_ppm"),
        )
    )


_RAKE_STOPS = TX.LANG_PROFILES["en"]


@query(
    "doc_keyword_rake",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
pos AS (
  SELECT doc_id, unnest(tk) AS term,
         unnest(range(1, len(tk) + 1)) AS p
  FROM toks),
seg AS (
  SELECT doc_id, term, p,
         term IN ({", ".join("'" + w + "'" for w in _RAKE_STOPS)})
           OR term = '' AS is_stop,
         sum(CASE WHEN term IN ({", ".join("'" + w + "'" for w in _RAKE_STOPS)})
                    OR term = '' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS sid
  FROM pos),
phrases AS (
  SELECT doc_id, sid,
         string_agg(term, ' ' ORDER BY p) AS phrase,
         CAST(count(*) AS BIGINT) AS wlen
  FROM seg WHERE NOT is_stop GROUP BY doc_id, sid),
words AS (
  SELECT unnest(string_split(phrase, ' ')) AS w, wlen FROM phrases),
wscore AS (
  SELECT w, CAST(sum(wlen) * 1000000 // count(*) AS BIGINT) AS s
  FROM words GROUP BY w),
dp AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur FROM phrases
  GROUP BY phrase),
scored AS (
  SELECT dp.phrase, dp.n_occur,
         CAST(sum(ws.s) AS BIGINT) AS score_ppm
  FROM dp, unnest(string_split(dp.phrase, ' ')) AS u(w)
  JOIN wscore ws ON ws.w = u.w
  GROUP BY dp.phrase, dp.n_occur)
SELECT phrase, n_occur, score_ppm FROM scored
ORDER BY score_ppm DESC, phrase LIMIT 20
""",
    doc="RAKE keyword extraction (Rose et al. 2010): candidate phrases "
        "are maximal stopword-free token runs (the en stopword profile "
        "from operators/text.py marks the delimiters); each word "
        "scores degree/frequency where degree sums the word-lengths of "
        "every phrase containing it, and a phrase scores the sum of "
        "its words' scores. All arithmetic is integer ppm (deg*1e6 div "
        "freq, then BIGINT sums) so ranking ties break identically in "
        "both engines; top-20 by (score desc, phrase). Spark shape: "
        "posexplode + one per-doc running-count window assigns segment "
        "ids, collect_list-of-structs rebuilds phrase text in position "
        "order, and the word-stat and phrase-score joins are keyed on "
        "word — the corpus shuffles once into phrase rows, the rest is "
        "phrase-vocabulary-sized.",
)
def doc_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), " ")
    pos = fan_out(d.select("doc_id", tk.alias("tk"))).select(
        "doc_id", F.posexplode("tk").alias("p0", "term")
    )
    is_stop = F.col("term").isin(*_RAKE_STOPS) | (F.col("term") == "")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p0")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = pos.select(
        "doc_id",
        "term",
        "p0",
        is_stop.alias("is_stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(w).alias("sid"),
    )
    phrases = persist_tracked(
        seg.filter(~F.col("is_stop"))
        .groupBy("doc_id", "sid")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p0", "term"))),
                    lambda x: x["term"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("wlen"),
        )
    )
    phrases.count()  # eager fill: word stats + phrase dedup both consume
    words = phrases.select(F.explode(F.split("phrase", " ")).alias("w"), "wlen")
    wscore = words.groupBy("w").agg(
        F.expr("CAST(sum(wlen) * 1000000 div count(1) AS BIGINT)").alias("s")
    )
    dp = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occur")
    )
    scored = (
        dp.select("phrase", "n_occur", F.explode(F.split("phrase", " ")).alias("w"))
        .join(F.broadcast(wscore), "w")
        .groupBy("phrase", "n_occur")
        .agg(F.sum("s").cast("long").alias("score_ppm"))
    )
    return scored.orderBy(F.col("score_ppm").desc(), "phrase").limit(20)


@query(
    "embedding_gram_matrix",
    oracle="""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE len(embedding) >= 16),
q AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT)
           AS qv
  FROM (SELECT vec_id, embedding, unnest(range(0, 16)) AS i FROM base)),
g AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS s
  FROM q a JOIN q b USING (vec_id) WHERE a.i <= b.i GROUP BY a.i, b.i),
sums AS (
  SELECT i, CAST(sum(qv) AS BIGINT) AS sv FROM q GROUP BY i),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, n.n AS n,
       p.s AS s_ij,
       CASE WHEN (n.n * di.s - si.sv * si.sv) > 0
             AND (n.n * dj.s - sj.sv * sj.sv) > 0
            THEN round((n.n * 1.0 * p.s - si.sv * 1.0 * sj.sv)
                       / sqrt((n.n * di.s - si.sv * si.sv) * 1.0
                              * (n.n * dj.s - sj.sv * sj.sv)), 4) + 0.0
       END AS corr
FROM g p
JOIN g di ON di.i = p.i AND di.j = p.i
JOIN g dj ON dj.i = p.j AND dj.j = p.j
JOIN sums si ON si.i = p.i
JOIN sums sj ON sj.i = p.j
CROSS JOIN n
WHERE p.i < p.j
""",
    doc="Distributed Gram matrix / dimension-correlation audit over the "
        "first 16 embedding dims (the Matryoshka prefix "
        "embedding_matryoshka_recall serves): values quantize JVM-side "
        "to exact milli-unit BIGINTs, then ONE Arrow kernel per "
        "partition computes the 16x16 integer Gram partial as a single "
        "numpy matmul (M^T M) plus column sums — the canonical "
        "d^2-partials-per-partition pattern that makes covariance/PCA "
        "preprocessing O(n d^2 / p) with a d^2-row shuffle, nothing "
        "data-sized. Pearson correlations derive from the exact "
        "integer precursors (n, s_i, s_ij) with one double expression "
        "in the same order both engines; zero-variance dims yield NULL "
        "corr (integer guard, no epsilon). Output: 120 dim pairs. A "
        "high |corr| pair is a redundant dimension — the "
        "dimensionality-reduction signal the dim_stats query cannot "
        "see (it is per-dim marginal only).",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= 16
    )
    q = fan_out(
        emb.select(
            F.transform(
                F.slice("embedding", 1, 16),
                lambda x: F.floor(x.cast("double") * 1000).cast("long"),
            ).alias("q")
        )
    )

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            g = m.T @ m
            sv = m.sum(axis=0)
            iu, ju = np.triu_indices(16)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(16), [-1]]),
                    "j": np.concatenate(
                        [ju, np.full(16, -1), [-1]]
                    ),
                    "v": np.concatenate(
                        [g[iu, ju], sv, [len(m)]]
                    ).astype(np.int64),
                }
            )

    parts = persist_tracked(
        q.mapInPandas(gram, "i int, j int, v long")
        .groupBy("i", "j")
        .agg(F.sum("v").cast("long").alias("v"))
    )
    parts.count()  # eager fill: five broadcast consumers below
    pairs = parts.filter((F.col("i") >= 0) & (F.col("j") > F.col("i")))
    diag = parts.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("v").alias("s_dd")
    )
    sums = parts.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        F.col("i").alias("d"), F.col("v").alias("sv")
    )
    n = parts.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("n")
    )
    di = diag.toDF("i", "s_ii")
    dj = diag.toDF("j", "s_jj")
    si = sums.toDF("i", "s_i")
    sj = sums.toDF("j", "s_j")
    joined = (
        pairs.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(n))
    )
    d1 = F.col("n") * F.col("s_ii") - F.col("s_i") * F.col("s_i")
    d2 = F.col("n") * F.col("s_jj") - F.col("s_j") * F.col("s_j")
    corr = F.when(
        (d1 > 0) & (d2 > 0),
        F.round(
            (F.col("n") * 1.0 * F.col("v") - F.col("s_i") * 1.0 * F.col("s_j"))
            / F.sqrt(d1 * 1.0 * d2),
            4,
        )
        + 0.0,
    )
    return joined.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.col("n").cast("long").alias("n"),
        F.col("v").cast("long").alias("s_ij"),
        corr.alias("corr"),
    )


@query(
    "embedding_ood_knn_distance",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 97 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
pairs AS (SELECT query_id, neighbor_id, qv, cv FROM q, c
          WHERE query_id <> neighbor_id),
expl AS (SELECT query_id, neighbor_id,
                unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
         FROM pairs),
dots AS (SELECT query_id, neighbor_id,
                sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
         FROM expl GROUP BY query_id, neighbor_id),
scored AS (SELECT query_id,
                  CAST(round(round(dot / (sqrt(nx) * sqrt(ny)), 6)
                             * 1000000) AS BIGINT) AS cos_ppm
           FROM dots),
top AS (SELECT query_id, cos_ppm,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_ppm DESC, query_id) AS r
        FROM scored)
SELECT query_id,
       CAST(sum(cos_ppm) // 5 AS BIGINT) AS mean_top5_cos_ppm,
       CAST(min(cos_ppm) AS BIGINT) AS min_top5_cos_ppm
FROM top WHERE r <= 5 GROUP BY query_id
""",
    doc="kNN-distance out-of-distribution scoring (the standard "
        "curation novelty detector): each query's OOD score is the "
        "mean similarity of its 5 nearest corpus neighbors — low mean "
        "= isolated = out-of-distribution or noise, for routing to "
        "human review or downweighting. Scores stay integral end to "
        "end: the round-6 cosine lifts to exact ppm BIGINTs, the mean "
        "is integer division by the fixed k, so no double-sum "
        "ordering can diverge. NOTE the rank tie-break differs from "
        "cosine_topk on purpose: at equal cos the NEIGHBOR choice "
        "cannot change sum/min over the tied set, so ranking by "
        "cos_ppm alone is deterministic for this readout. Serving "
        "shape: brute pass here as the exactness baseline; the IVF "
        "route (embedding_mmr_ivf's candidate stage) swaps in "
        "unchanged at scale.",
)
def embedding_ood_knn_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    top = S.cosine_topk(queries, emb, k=5)
    ppm = F.round(F.col("cos") * 1000000, 0).cast("long")
    return (
        top.select("query_id", ppm.alias("cos_ppm"))
        .groupBy("query_id")
        .agg(
            F.expr("CAST(sum(cos_ppm) div 5 AS BIGINT)").alias(
                "mean_top5_cos_ppm"
            ),
            F.min("cos_ppm").cast("long").alias("min_top5_cos_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# retrieval ranking quality: NDCG@10 + MRR (round 7)
# ---------------------------------------------------------------------------
@query(
    "retrieval_ndcg_at_k",
    oracle=f"""
WITH {_BM25_TOTALS_SQL.strip()},
rel AS (
  SELECT doc_id, least(3, CAST(sum(tf) AS BIGINT)) AS rel
  FROM tf WHERE term IN ('hash', 'merge', 'scan') GROUP BY doc_id),
ranked AS (
  SELECT t.doc_id, r.rel,
         row_number() OVER (ORDER BY t.score_ppm DESC, t.doc_id) AS rnk
  FROM totals t JOIN rel r USING (doc_id)),
ideal AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rnk
  FROM rel),
dcg AS (
  SELECT CAST(sum(rel * CAST(floor(1000000 / (ln(rnk + 1) / ln(2)))
                             AS BIGINT)) AS BIGINT) AS dcg_micro
  FROM ranked WHERE rnk <= 10),
idcg AS (
  SELECT CAST(sum(rel * CAST(floor(1000000 / (ln(rnk + 1) / ln(2)))
                             AS BIGINT)) AS BIGINT) AS idcg_micro
  FROM ideal WHERE rnk <= 10),
mrr AS (
  SELECT CAST(coalesce(max(1000000 // rnk), 0) AS BIGINT) AS mrr_ppm
  FROM (SELECT min(rnk) AS rnk FROM ranked WHERE rel >= 1 AND rnk <= 10))
SELECT d.dcg_micro, i.idcg_micro,
       CAST(d.dcg_micro * 1000000 // greatest(i.idcg_micro, 1) AS BIGINT)
         AS ndcg_ppm,
       m.mrr_ppm
FROM dcg d CROSS JOIN idcg i CROSS JOIN mrr m
""",
    doc="Retrieval-quality metrics for the BM25 ranking: NDCG@10 and "
        "MRR@10 against graded relevance labels (rel = query-term "
        "frequency capped at 3 — the standard weak-label proxy when "
        "no human judgments exist). Exactness: the position discount "
        "1/log2(rnk+1) is quantized ONCE per rank to BIGINT micro "
        "units (floor(1e6/log2(rnk+1)) on identical doubles — the "
        "micro-nat discipline), so DCG, ideal DCG and ndcg_ppm are "
        "pure integer arithmetic; ties in both rankings break on "
        "doc_id. Plan: reuses the _bm25_totals fixed-point scorer "
        "(tf/dl/df aggregates, broadcast stats), the candidate set is "
        "only docs hitting a query term, and both top-10 windows run "
        "on that term-hit subset — at 100 TB the candidate frame is "
        "inverted-index-sized, not corpus-sized. The eval gate run "
        "after every retrieval scorer change.",
)
def retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    rel = (
        tf.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.least(F.lit(3), F.sum("tf")).cast("long").alias("rel"))
    )
    rel = persist_tracked(rel)
    totals = _bm25_totals(spark, sf_dir)
    wr = Window.orderBy(F.col("score_ppm").desc(), "doc_id")
    ranked = (
        totals.join(rel, "doc_id")
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 10)
    )
    wi = Window.orderBy(F.col("rel").desc(), "doc_id")
    ideal = (
        rel.withColumn("rnk", F.row_number().over(wi))
        .filter(F.col("rnk") <= 10)
    )
    disc = F.floor(
        1000000 / (F.log(F.col("rnk") + 1) / F.log(F.lit(2.0)))
    ).cast("long")
    dcg = ranked.agg(
        F.sum(F.col("rel") * disc).cast("long").alias("dcg_micro")
    )
    idcg = ideal.agg(
        F.sum(F.col("rel") * disc).cast("long").alias("idcg_micro")
    )
    mrr = (
        ranked.filter(F.col("rel") >= 1)
        .agg(F.min("rnk").alias("first_rnk"))
        .select(
            F.coalesce(F.expr("1000000 div first_rnk"), F.lit(0))
            .cast("long")
            .alias("mrr_ppm")
        )
    )
    return (
        dcg.crossJoin(idcg)
        .crossJoin(mrr)
        .select(
            "dcg_micro",
            "idcg_micro",
            F.expr(
                "CAST(dcg_micro * 1000000 div greatest(idcg_micro, 1)"
                " AS BIGINT)"
            ).alias("ndcg_ppm"),
            "mrr_ppm",
        )
    )


# ---------------------------------------------------------------------------
# c-TF-IDF distinctive terms per source (round 7)
# ---------------------------------------------------------------------------
@query(
    "doc_ctfidf_cluster_terms",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY source, term),
w AS (
  SELECT source, CAST(sum(tf) AS BIGINT) AS w_c FROM tf GROUP BY source),
a AS (
  SELECT CAST(sum(w_c) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_w
  FROM w),
ft AS (
  SELECT term, CAST(sum(tf) AS BIGINT) AS f_t FROM tf GROUP BY term),
scored AS (
  SELECT t.source, t.term, t.tf,
         (t.tf * 1000000 // w.w_c)
         * CAST(floor(ln(1 + CAST(a.avg_w AS DOUBLE) / f.f_t) * 1000000)
                AS BIGINT) // 1000000 AS score_micro
  FROM tf t
  JOIN w USING (source) JOIN ft f USING (term) CROSS JOIN a
  WHERE t.tf >= 2),
ranked AS (
  SELECT source, term, tf, score_micro,
         row_number() OVER (PARTITION BY source
                            ORDER BY score_micro DESC, term) AS rnk
  FROM scored)
SELECT source, term, tf, score_micro, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
""",
    doc="c-TF-IDF (class-based TF-IDF, the BERTopic topic-labeling "
        "formula) over source as the class: score = (tf_t,c / w_c) * "
        "ln(1 + A / f_t) with w_c the class token mass, A the average "
        "class mass and f_t the corpus-wide term frequency — the top-5 "
        "terms per source are the words that make that source READ "
        "different from the rest, where plain per-doc tf-idf "
        "(tfidf_top_terms) surfaces per-document quirks. Exactness: "
        "class rate quantizes to ppm by integral division, the log "
        "factor to micro-nats from exact integer operands (shared "
        "micro-nat discipline), product re-normalized by 1e6 — no "
        "order-dependent float sum. Plan: one token explode feeds tf; "
        "w_c / A / f_t are rollups OF tf (no second scan); class and "
        "term stats broadcast back; one per-class top-5 window over "
        "the (class x term) frame — vocabulary-sized, not "
        "corpus-sized, so the plan is unchanged at 100 TB with "
        "classes = clusters from any dedup/embedding family.",
)
def doc_ctfidf_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select("source", "text")
    toks = fan_out(d).select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    tf = persist_tracked(
        toks.groupBy("source", "term").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
    )
    tf.count()  # eager: three rollups below share this chain
    w = tf.groupBy("source").agg(F.sum("tf").cast("long").alias("w_c"))
    a = w.agg(
        F.expr(
            "CAST(sum(w_c) AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("avg_w")
    )
    ft = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("f_t"))
    scored = (
        tf.filter(F.col("tf") >= 2)
        .join(F.broadcast(w), "source")
        .join(ft, "term")
        .crossJoin(F.broadcast(a))
        .select(
            "source",
            "term",
            "tf",
            F.expr(
                "(tf * 1000000 div w_c)"
                " * CAST(floor(ln(1 + CAST(avg_w AS DOUBLE) / f_t)"
                "              * 1000000) AS BIGINT) div 1000000"
            ).alias("score_micro"),
        )
    )
    wr = Window.partitionBy("source").orderBy(
        F.col("score_micro").desc(), "term"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("source", "term", "tf", "score_micro", "rnk")
    )


# ---------------------------------------------------------------------------
# simplified silhouette over labeled embeddings (round 7)
# ---------------------------------------------------------------------------
@query(
    "embedding_silhouette",
    oracle="""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings),
expl AS (
  SELECT vec_id, label,
         CAST(generate_subscripts(xq, 1) - 1 AS INT) AS dim,
         unnest(xq) AS v
  FROM q),
cent AS (
  SELECT label AS clabel, dim,
         CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
  FROM expl GROUP BY label, dim),
d2 AS (
  SELECT e.vec_id, e.label, ct.clabel,
         CAST(sum((e.v - ct.c) * (e.v - ct.c)) AS BIGINT) AS d2
  FROM expl e JOIN cent ct USING (dim)
  GROUP BY e.vec_id, e.label, ct.clabel),
ab AS (
  SELECT vec_id, label,
         max(CASE WHEN label = clabel THEN d2 END) AS a,
         min(CASE WHEN label <> clabel THEN d2 END) AS b
  FROM d2 GROUP BY vec_id, label),
s AS (
  SELECT vec_id, label,
         (b - a) * 1000000 // greatest(greatest(a, b), 1) AS s_ppm
  FROM ab)
SELECT CAST(label AS INT) AS label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(s_ppm) // count(*) AS BIGINT) AS mean_silhouette_ppm,
       CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative
FROM s GROUP BY label
""",
    doc="Simplified silhouette coefficient per label cluster (the "
        "O(n*k) centroid variant of the O(n^2) classic — the standard "
        "scale substitution, sklearn's 'simplified silhouette'): "
        "a = squared distance to own centroid, b = min squared "
        "distance to any other centroid, s = (b-a)/max(a,b) in ppm. "
        "Fixed-point discipline: coordinates quantize to 1e-3 BIGINT "
        "(milli, not micro — the ppm scaling of a 64-dim squared "
        "distance must stay under 2^63), centroids are exact integer "
        "floor-means, distances exact integer sums — zero float "
        "anywhere. Negative-count per cluster flags vectors sitting "
        "closer to a foreign centroid (label noise / cluster overlap "
        "— the embedding-quality gate before trusting labels for "
        "curation). Plan: dim-explode is row-local; centroids are a "
        "(k x dims)-row broadcastable rollup; the vector x centroid "
        "join fans out k rows per vector and reduces in one partial "
        "agg — linear in corpus size, NO pairwise n^2 anywhere.",
)
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    expl = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("long"),
            )
        ).alias("dim", "v"),
    )
    expl = persist_tracked(expl)
    expl.count()  # eager: centroid broadcast shares this chain
    cent = expl.groupBy(
        F.col("label").alias("clabel"), "dim"
    ).agg(F.expr("CAST(sum(v) AS BIGINT) div count(1)").alias("c"))
    d2 = (
        expl.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
            .cast("long")
            .alias("d2")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("label") == F.col("clabel"), F.col("d2"))).alias(
            "a"
        ),
        F.min(F.when(F.col("label") != F.col("clabel"), F.col("d2"))).alias(
            "b"
        ),
    )
    s = ab.select(
        "label",
        F.expr(
            "(b - a) * 1000000 div greatest(greatest(a, b), 1)"
        ).alias("s_ppm"),
    )
    return s.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(s_ppm) div count(1) AS BIGINT)").alias(
            "mean_silhouette_ppm"
        ),
        F.sum(F.when(F.col("s_ppm") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
    )


# ---------------------------------------------------------------------------
# three unrolled Lloyd iterations (round 7)
# ---------------------------------------------------------------------------
def _lloyd_iter_sql(i: int) -> str:
    """One unrolled Lloyd round: distances to cent{i-1}, argmin
    assignment, floored-integer centroid update -> cent{i}."""
    return f"""
d{i} AS (
  SELECT e.vec_id, c.cluster,
         CAST(sum((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d2
  FROM expl e JOIN cent{i - 1} c USING (dim)
  GROUP BY e.vec_id, c.cluster),
a{i} AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT vec_id, cluster, d2,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cluster) AS rn
    FROM d{i}) WHERE rn = 1),
cent{i} AS (
  SELECT a.cluster, e.dim,
         CAST(sum(e.v) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
  FROM a{i} a JOIN expl e USING (vec_id)
  GROUP BY a.cluster, e.dim)"""


@query(
    "embedding_kmeans_lloyd",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings),
expl AS (
  SELECT vec_id, CAST(generate_subscripts(xq, 1) - 1 AS INT) AS dim,
         unnest(xq) AS v
  FROM q),
cent0 AS (
  SELECT vec_id AS cluster, dim, v AS c FROM expl WHERE vec_id < 8),
"""
    + ",".join(_lloyd_iter_sql(i) for i in (1, 2, 3))
    + """
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(sum(d2) AS BIGINT) AS inertia
FROM a3 GROUP BY cluster
""",
    doc="Full distributed k-means: THREE unrolled Lloyd iterations "
        "(k=8, seeds = the 8 lowest-id vectors), converging the "
        "single step that embedding_kmeans_step exposes — the "
        "iterative-algorithm capstone alongside bpe_iterative_merges. "
        "Every quantity is integer: coordinates fixed-point to 1e-3 "
        "BIGINT, distances exact integer sums, assignment argmin by "
        "(d2, cluster), centroid updates floored integer means — so "
        "three rounds of assign/update are bit-identical across "
        "engines with NO accumulated float drift, and an emptied "
        "cluster simply drops out identically. Plan shape per round: "
        "centers are a (k x dims)-row frame BROADCAST to the "
        "dim-exploded corpus (the corpus-sized frame never "
        "reshuffles), assignment reduces per vector, update reduces "
        "per (cluster, dim) — O(n*k*d) work and two bounded shuffles "
        "per round, the canonical distributed Lloyd. At 100 TB: "
        "persist the exploded corpus once (done here), k*d stays "
        "driver-free, and rounds chain as one lazy plan.",
)
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    expl = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("long"),
            )
        ).alias("dim", "v"),
    )
    expl = persist_tracked(expl)
    expl.count()  # eager: every round's broadcast shares this chain
    cent = expl.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster"), "dim", F.col("v").alias("c")
    )
    assign = None
    for _ in range(3):
        d2 = (
            expl.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
                .cast("long")
                .alias("d2")
            )
        )
        best = d2.groupBy("vec_id").agg(
            F.min(F.struct("d2", "cluster")).alias("b")
        )
        assign = best.select(
            "vec_id",
            F.col("b.cluster").alias("cluster"),
            F.col("b.d2").alias("d2"),
        )
        cent = (
            assign.join(expl, "vec_id")
            .groupBy("cluster", "dim")
            .agg(
                F.expr(
                    "CAST(sum(v) AS BIGINT) div CAST(count(1) AS BIGINT)"
                ).alias("c")
            )
        )
    return assign.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("d2").cast("long").alias("inertia"),
    )


# ---------------------------------------------------------------------------
# LSH banding-config recall sweep (round 7)
# ---------------------------------------------------------------------------
_SWEEP_BANDS = (2, 4, 8)


def _bands_sql_for(bands: int, name: str) -> str:
    """Parameterized mirror of dedup.lsh_bands for the sweep: same
    band-id-folded 63-bit hash, over 16/bands signature columns."""
    rows = NUM_HASHES // bands
    parts = []
    for b in range(bands):
        cols = " || ',' || ".join(f"h{b * rows + r}" for r in range(rows))
        parts.append(
            f"SELECT id, ('0x' || substr(md5({b} || ',' || {cols}), 1, 15))"
            f"::BIGINT AS band_hash FROM sigs"
        )
    return f"{name} AS (\n  " + "\n  UNION ALL ".join(parts) + ")"


@query(
    "minhash_band_sweep",
    oracle=f"""
WITH {_CORPUS_SQL},
{_SHINGLES_SQL},
{_minhash_sig_sql()},
{",".join(_bands_sql_for(b, f"bands{b}") for b in _SWEEP_BANDS)},
{",".join(
    f'''cand{b} AS (
  SELECT DISTINCT a.id AS id_a, x.id AS id_b
  FROM bands{b} a JOIN bands{b} x
    ON a.band_hash = x.band_hash AND a.id < x.id)''' for b in _SWEEP_BANDS)},
cand AS ({" UNION ".join(f"SELECT * FROM cand{b}" for b in _SWEEP_BANDS)}),
shh AS (SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS sh FROM sh),
sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN shh a ON a.id = c.id_a
  JOIN shh b ON b.id = c.id_b AND b.sh = a.sh
  GROUP BY c.id_a, c.id_b),
truth AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) >= 0.5),
fam AS ({" UNION ALL ".join(
    f"SELECT {b} AS n_bands, id_a, id_b FROM cand{b}" for b in _SWEEP_BANDS)}),
famt AS (
  SELECT f.n_bands, t.id_a IS NOT NULL AS is_true
  FROM fam f LEFT JOIN truth t
    ON t.id_a = f.id_a AND t.id_b = f.id_b),
tot AS (SELECT count(*) AS n_truth FROM truth)
SELECT CAST(n_bands AS INT) AS n_bands,
       CAST({NUM_HASHES} / n_bands AS INT) AS rows_per_band,
       CAST(count(*) AS BIGINT) AS n_cand,
       CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       CAST((SELECT n_truth FROM tot) AS BIGINT) AS n_truth,
       CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) * 1000000
            // greatest((SELECT n_truth FROM tot), 1) AS BIGINT)
         AS recall_ppm
FROM famt GROUP BY n_bands
""",
    doc="LSH banding-parameter sweep from ONE signature pass: with 16 "
        "minhashes, configs (b=2,r=8), (b=4,r=4), (b=8,r=2) trade "
        "precision for recall along the S-curve P(cand) = "
        "1-(1-j^r)^b; each config's candidate pairs, true-pair hits "
        "and relative recall (vs exact Jaccard >= 0.5 on the UNION of "
        "all configs' candidates — the family_recall audit discipline) "
        "land in one row. The signature table is computed ONCE and "
        "persisted; each config re-bands the same 16 columns (an "
        "explode over in-row structs, zero extra corpus passes) — the "
        "production tuning loop for picking the banding before a "
        "100 TB dedup run, where re-running the shingle+signature "
        "stage per config would dominate the cost. The degenerate "
        "r=1 config is deliberately excluded: bucketing on a single "
        "minhash value approaches 'share any rare shingle' and its "
        "bucket skew — the doc explains the knob, the sweep shows the "
        "usable range. Candidate generation buckets on the folded "
        "band hash (never all-pairs); verification is gated on the "
        "union candidate set only.",
)
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    sh = _shared_shingles(spark, sf_dir)
    sig = persist_tracked(
        D.minhash_signature_from_hashes(sh, num_hashes=NUM_HASHES)
    )
    sig.count()  # eager: three band tables fan out of this frame
    # r12: each config's candidate table is an eager localCheckpoint
    # (was a lazy persist) — every table has two consumers (the truth
    # union + its tagged audit arm), and the truncated lineage keeps
    # the truth fill and the final audit from re-analyzing three
    # band-build trees per action. Candidate lists are dup-graph-sized.
    cands = {
        b: D.lsh_candidate_pairs(
            D.lsh_bands(sig, num_hashes=NUM_HASHES, bands=b)
        ).transform(checkpoint_tracked)
        for b in _SWEEP_BANDS
    }
    union = None
    for c in cands.values():
        union = c if union is None else union.unionByName(c)
    truth = persist_tracked(
        D.jaccard_on_pairs(
            corpus, union.distinct(), "text", "id",
            shingle_df=sh, threshold=0.5,
        ).select("id_a", "id_b", F.lit(True).alias("__is_true"))
    )
    truth.count()  # eager fill before the per-config arms fan out
    fam = None
    for b, c in cands.items():
        tagged = c.select(
            F.lit(b).alias("n_bands"), "id_a", "id_b"
        )
        fam = tagged if fam is None else fam.unionByName(tagged)
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return (
        fam.join(truth, ["id_a", "id_b"], "left")
        .groupBy("n_bands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand"),
            F.sum(F.when(F.col("__is_true"), 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
        )
        .crossJoin(F.broadcast(n_truth))
        .select(
            F.col("n_bands").cast("int").alias("n_bands"),
            F.expr(f"CAST({NUM_HASHES} / n_bands AS INT)").alias(
                "rows_per_band"
            ),
            "n_cand",
            "n_found",
            "n_truth",
            F.expr("n_found * 1000000 div greatest(n_truth, 1)")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# content-defined chunk dedup (round 7)
# ---------------------------------------------------------------------------
def _cdc_sql() -> str:
    """DuckDB mirror of text.cdc_chunks (same constants)."""
    terms = " + ".join(
        f"CAST(codes[i + {j}] AS BIGINT) * {p}"
        for j, p in enumerate(TX.CDC_POWS)
    )
    w = TX.CDC_WINDOW
    return f"""
cdc0 AS (
  SELECT id, text,
         list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                        c -> ascii(c)) AS codes
  FROM corpus),
cdc1 AS (
  SELECT id, text, codes,
         CASE WHEN len(codes) >= {w} + 1
              THEN range(2, len(codes) - {w} + 2)
              ELSE [] END AS idx
  FROM cdc0),
cdc2 AS (
  SELECT id, text, codes,
         [1] || list_filter(idx,
             i -> (({terms}) % {TX.CDC_MOD}) % {TX.CDC_MASK} = 0)
             || [len(codes) + 1] AS cutpoints
  FROM cdc1),
chunks AS (
  SELECT id, unnest(list_transform(range(1, len(cutpoints)),
           k -> substr(text, CAST(cutpoints[k] AS INT),
                       CAST(cutpoints[k + 1] - cutpoints[k] AS INT))))
           AS chunk
  FROM cdc2),
cch AS (SELECT id, chunk, length(chunk) AS chunk_len
        FROM chunks WHERE chunk <> '')
"""


@query(
    "dedup_cdc_chunks",
    oracle=f"""
WITH {_CORPUS_SQL},
{_cdc_sql().strip()}
SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS n_distinct_chunks,
       CAST((count(*) - count(DISTINCT md5(chunk))) * 1000000
            // count(*) AS BIGINT) AS dup_ppm,
       CAST(sum(chunk_len) // count(*) AS BIGINT) AS mean_chunk_len
FROM cch
""",
    doc="Content-defined chunking (CDC) dedup over the duplicated "
        "corpus — the storage-dedup/fine-grained-corpus-dedup "
        "primitive that fixed-size segmenting (doc_segment_dedup) "
        "cannot match: boundaries come from a LOCAL 8-char polynomial "
        "rolling hash (cut where h %% 64 = 0), so the near-dup twins "
        "(one appended token) share every chunk except the last — an "
        "edit re-aligns at the next content-defined boundary instead "
        "of shifting all later segments. The corpus-wide chunk-hash "
        "dedup rate is the headline: it cleanly exceeds the "
        "fixed-segment rate on the same corpus. Execution is entirely "
        "row-local JVM higher-order functions (codepoint transform, "
        "per-position hash filter, substring slicing — "
        "text.cdc_chunks), then ONE distinct-count aggregate over "
        "(chunk hash); no Python, no pairwise joins, and at 100 TB "
        "the chunking runs inside the scan stage with only the "
        "bounded md5-per-chunk rows shuffling.",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = TX.cdc_chunks(_corpus(spark, sf_dir), "text", "id")
    return cc.agg(
        F.countDistinct("id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct(F.md5("chunk")).cast("long").alias(
            "n_distinct_chunks"
        ),
        F.expr(
            "CAST((count(1) - count(DISTINCT md5(chunk))) * 1000000"
            " div count(1) AS BIGINT)"
        ).alias("dup_ppm"),
        F.expr("CAST(sum(chunk_len) div count(1) AS BIGINT)").alias(
            "mean_chunk_len"
        ),
    )


# ---------------------------------------------------------------------------
# top-2 PCA via integer-quantized orthogonal iteration (round 7)
# ---------------------------------------------------------------------------
def _pca_matvec_sql(tag: str, vtab: str) -> str:
    """One Gram-matrix-free matvec w = X^T (X v) over the exploded
    micro-int table, HUGEINT-widened."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and this chain
    # references each level twice (matvec + its max-abs scalar) — the
    # inlined tree doubles per round and the un-materialized oracle
    # measurably never finishes even at sf0.001
    return f"""
dots{tag} AS MATERIALIZED (
  SELECT e.vec_id, sum(CAST(e.x AS HUGEINT) * v.v) AS dot
  FROM expl e JOIN {vtab} v USING (dim) GROUP BY e.vec_id),
w{tag} AS MATERIALIZED (
  SELECT e.dim, sum(CAST(e.x AS HUGEINT) * d.dot) AS w
  FROM expl e JOIN dots{tag} d USING (vec_id) GROUP BY e.dim)"""


def _pca_rescale_sql(tag: str, wtab: str, out: str) -> str:
    return f"""
{out} AS MATERIALIZED (
  SELECT dim, CAST(w * 1000000
       // greatest((SELECT max(abs(w)) FROM {wtab}), 1) AS BIGINT) AS v
  FROM {wtab})"""


def _pca_deflate_sql(tag: str, wtab: str, out: str) -> str:
    """Project the v1 direction out of w (integer quotient coefficient
    — deterministic in both engines)."""
    return f"""
proj{tag} AS MATERIALIZED (
  SELECT (SELECT sum(a.v * w.w) FROM v1fin a JOIN {wtab} w USING (dim))
         // greatest((SELECT sum(CAST(v AS HUGEINT) * v) FROM v1fin), 1)
           AS c),
{out} AS MATERIALIZED (
  SELECT w.dim, w.w - p.c * coalesce(a.v, 0) AS w
  FROM {wtab} w CROSS JOIN proj{tag} p
  LEFT JOIN v1fin a USING (dim))"""


def _pca_oracle_sql() -> str:
    parts = [
        """
q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings),
expl AS MATERIALIZED (
  SELECT vec_id, CAST(generate_subscripts(xq, 1) - 1 AS INT) AS dim,
         unnest(xq) AS x
  FROM q),
dims AS MATERIALIZED (SELECT DISTINCT dim FROM expl),
v1_0 AS (SELECT dim, CAST(1000000 AS BIGINT) AS v FROM dims)"""
    ]
    prev = "v1_0"
    for i in range(1, 4):
        parts.append(_pca_matvec_sql(f"1_{i}", prev))
        out = "v1fin" if i == 3 else f"v1_{i}"
        parts.append(_pca_rescale_sql(f"1_{i}", f"w1_{i}", out))
        prev = out
    parts.append(
        """
v2_0 AS (SELECT dim,
                CAST((dim % 2 * 2 - 1) * 1000000 AS BIGINT) AS v
         FROM dims)"""
    )
    prev = "v2_0"
    for i in range(1, 4):
        parts.append(_pca_matvec_sql(f"2_{i}", prev))
        parts.append(_pca_deflate_sql(f"2_{i}", f"w2_{i}", f"wd2_{i}"))
        out = "v2fin" if i == 3 else f"v2_{i}"
        parts.append(_pca_rescale_sql(f"2_{i}", f"wd2_{i}", out))
        prev = out
    body = ",".join(p.strip() for p in parts)
    return (
        "WITH "
        + body
        + """
SELECT 1 AS component, dim, v AS v_micro FROM v1fin
UNION ALL
SELECT 2, dim, v FROM v2fin
"""
    )


@query(
    "embedding_pca_top2",
    oracle=_pca_oracle_sql(),
    doc="Top-2 principal directions by integer-quantized ORTHOGONAL "
        "iteration — distributed PCA without ever materializing the "
        "Gram matrix: each round is the Gram-free matvec w = X^T(X v) "
        "(a vec_id-keyed dot pass then a dim-keyed weighted sum — the "
        "embedding_power_iteration shape), rescaled to +-1e6 integer "
        "by max-abs so THREE rounds accumulate zero float drift; the "
        "second component projects the converged first direction out "
        "of every iterate with an integer quotient coefficient "
        "(deflation), from a sign-alternating start deterministically "
        "non-parallel to v1. Everything after the 1e-6 fixed-pointing "
        "is exact integer arithmetic in DECIMAL(38,0)/HUGEINT "
        "(x*dot reaches ~2e19 — past BIGINT — at 500 rows already; "
        "headroom to ~1e9 rows documented in SCALE.md), so both "
        "engines emit bit-identical eigvector quantizations, sign "
        "included. Completes the iterative-linear-algebra arc "
        "(power step -> Lloyd -> full orthogonal iteration). Scale: "
        "the exploded corpus is persisted once and re-used by all six "
        "matvecs; per round the only shuffles are a per-vector dot "
        "reduce and a 64-group dim reduce; centers/iterates are "
        "64-row broadcast frames — O(n*d) per round, driver-free. "
        "Wall time is dominated by the seven eager lineage-truncation "
        "jobs (localCheckpoint per round — required: the plan embeds "
        "its predecessor twice, so un-truncated analysis is "
        "exponential in rounds), a FIXED job-latency cost that is "
        "constant in corpus size — at 100 TB the same seven jobs "
        "bound the control-plane overhead while the matvec data path "
        "scales linearly.",
)
def embedding_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization (guide §2.4/§1.2: remove shuffles, then jobs).
    # The previous form kept the 64-row iterate DISTRIBUTED: per round
    # a broadcast(v) build, a vec_id-keyed dot shuffle, a dim-keyed
    # reduce and an eager localCheckpoint — 54 jobs / 12 exchanges for
    # six matvecs, with execution <0.2 s (profiled: the wall time was
    # all job round trips). The iterate is dims-sized (64 values — a
    # CONSTANT, like the k-means centroids), so it lives on the driver
    # as exact Python integers: per round the dot product is MAP-SIDE
    # against a 64-literal array (no broadcast build, no vec_id
    # exchange — at scale this also stops shuffling n dot rows), and
    # the single remaining exchange is the 64-group dim reduce with
    # map-side partial aggregation; its 64-row result is collected
    # (bounded by dims, not data). Rescale/deflation are integer ops
    # on 64-element lists — Python ints are exact like DECIMAL(38,0),
    # and `div` truncation-toward-zero is spelled out (Python's //
    # floors). No lineage truncation needed: every round's plan is
    # flat (literals in, 64 rows out). Values are bit-identical to the
    # previous form: both compute the same integer sums (exact,
    # order-free) and the same truncated quotients, oracle-pinned.
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    arr = persist_tracked(
        emb.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast(
                    "long"
                ),
            ).alias("xs"),
        )
    )
    arr.count()  # eager: six matvecs share this chain
    width = len(arr.select("xs").first()[0])

    def tdiv(a: int, b: int) -> int:
        # Spark `div` == DuckDB `//` == truncation toward zero on the
        # engines (verified -7 div 2 = -3 on both); Python // floors
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def matvec(v: list) -> list:
        # w = X^T (X v), one job: map-side dot (v as literal array,
        # DECIMAL(38,0) exact — same values as the old vec_id-shuffle
        # sum), then the 64-group dim reduce
        vlit = F.array(*[F.lit(int(x)).cast("long") for x in v])
        dot = F.aggregate(
            F.zip_with(
                "xs", vlit, lambda x, vv: x.cast("decimal(38,0)") * vv
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, y: acc + y,
        )
        rows = (
            arr.select(F.posexplode("xs").alias("dim", "x"),
                       dot.alias("dot"))
            .groupBy("dim")
            .agg(F.sum(F.col("x").cast("decimal(38,0)") * F.col("dot"))
                 .alias("w"))
            .collect()
        )
        w = [0] * width
        for r in rows:
            w[r["dim"]] = int(r["w"])
        return w

    def rescale(w: list) -> list:
        mx = max(max(abs(x) for x in w), 1)
        return [tdiv(x * 1000000, mx) for x in w]

    v1 = [1000000] * width
    for _ in range(3):
        v1 = rescale(matvec(v1))

    u = [(d % 2 * 2 - 1) * 1000000 for d in range(width)]
    den = max(sum(a * a for a in v1), 1)
    for _ in range(3):
        w = matvec(u)
        c = tdiv(sum(a * x for a, x in zip(v1, w)), den)
        u = rescale([x - c * a for x, a in zip(w, v1)])

    return S._local_df(
        spark,
        [(1, d, v1[d]) for d in range(width)]
        + [(2, d, u[d]) for d in range(width)],
        "component int, dim int, v_micro bigint",
    )
