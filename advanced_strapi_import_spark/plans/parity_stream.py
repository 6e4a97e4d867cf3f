"""Streaming + multimodal queries through the driver contract.

`stream_events_hourly` actually runs a Structured Streaming plan
(availableNow trigger, memory sink) and is checked against the SAME
DuckDB oracle as the batch hourly aggregate — proving the streaming
face computes the batch answer. `multimodal_byte_histogram` drives the
Arrow-batched mapInPandas feature extractor against a pure-SQL oracle
(documents are ASCII, so byte == char histogram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_strapi_import_spark.caching import checkpoint_tracked
from advanced_strapi_import_spark.operators.multimodal import byte_histogram
from advanced_strapi_import_spark.plans import parity_ml as ML
from advanced_strapi_import_spark.plans.registry import load, load_events, query
from advanced_strapi_import_spark.streaming import ingest as ST


@query(
    "stream_events_hourly",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    doc="Structured Streaming (availableNow) watermarked tumbling-window "
        "aggregate — drained stream equals the batch/DuckDB answer.",
)
def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    return ST.run_available_now(ST.hourly_agg(stream))


@query(
    "multimodal_byte_histogram",
    oracle="""
WITH b AS (
  SELECT doc_id, text, length(text) AS n_bytes,
         unnest(range(0, 16)) AS bucket
  FROM documents)
SELECT doc_id,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(bucket AS INTEGER) AS bucket,
       CAST(len(list_filter(regexp_extract_all(text, '.'),
                c -> ascii(c) // 16 = bucket)) AS BIGINT) AS count
FROM b
""",
    doc="Multimodal plumbing: binary column (utf-8 encoded text) -> "
        "Arrow-batched mapInPandas byte-histogram feature extraction.",
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    return byte_histogram(d)


@query(
    "multimodal_frame_sample",
    oracle="""
WITH b AS (
  SELECT doc_id, text, CAST(ceil(length(text) / 64.0) AS INT) AS nf
  FROM documents),
f AS (SELECT doc_id, nf, unnest(range(0, nf)) AS fi, text FROM b)
SELECT doc_id, CAST(fi AS INT) AS frame_index, nf AS n_frames,
       md5(substr(text, CAST(fi AS INT) * 64 + 1, 64)) AS frame_md5
FROM f WHERE fi % 3 = 0
""",
    doc="Video-style frame sampling plumbing: one payload row explodes "
        "to every 3rd fixed-size frame via mapInPandas (the demuxer is "
        "the documented stub; fan-out, schema and frame bytes are real "
        "— compared by md5 against the oracle's chunking).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import sample_frames

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    return sample_frames(d, 3, frame_bytes=64).select(
        "doc_id", "frame_index", "n_frames", F.md5("frame").alias("frame_md5")
    )


@query(
    "multimodal_resize_plumbing",
    oracle="""
SELECT doc_id, 8 AS width, 4 AS height, 'fake-raw' AS codec,
       md5(array_to_string(
             list_transform(range(0, 32),
                            i -> substr(text, CAST((i * length(text)) // 32 AS INT) + 1, 1)),
             '')) AS content_md5
FROM documents
""",
    doc="Image-resize PLUMBING ONLY (renamed from multimodal_resize in "
        "round 8 so the registry is honest about codec coverage): the "
        "codec here is the documented stub — a nearest-neighbor stride "
        "over the raw byte stream, mirrored index-for-index in the "
        "oracle. It checks the mapInPandas fan-in/fan-out schema and "
        "batch shape, nothing about pixels. REAL pixel resize (decode "
        "-> area-average -> stats) is multimodal_resize_pixels via "
        "resize_images_real.",
)
def multimodal_resize_plumbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import resize_images

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    return resize_images(d, 8, 4).select(
        "doc_id", "width", "height", "codec", F.md5("content").alias("content_md5")
    )


@query(
    "stream_dedup_events",
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type
""",
    doc="Streaming exact dedup: the event stream unioned with itself "
        "(guaranteed duplicates) through watermark-bounded "
        "dropDuplicatesWithinWatermark, then aggregated INSIDE the "
        "stream (chained stateful operators) so the drain emits the "
        "5-row aggregate, not the full deduped table — the drain "
        "equals the batch answer over the ORIGINAL (duplicate-free) "
        "table.",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = ST.read_events_stream(spark, sf_dir).unionByName(
        ST.read_events_stream(spark, sf_dir)
    )
    agg = (
        ST.dedup_stream(doubled)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return ST.run_available_now(agg, output_mode="complete")


@query(
    "stream_stream_join",
    oracle="""
SELECT v.event_id AS view_id, p.event_id AS purchase_id
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
""",
    doc="Stream-stream inner join (watermarked both sides, bounded "
        "state): purchases within 30 min after a view by the same "
        "user; the availableNow drain equals the batch join.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = ST.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    )
    purchases = ST.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = ST.purchase_after_view_join(views, purchases)
    drained = ST.run_available_now(joined, output_mode="append")
    return drained.select("view_id", "purchase_id")


@query(
    "stream_dedup_incremental",
    oracle=f"""
WITH {ML._INCR_CORPUS_SQL.strip()},
{ML._SHINGLES_SQL.strip()},
{ML._minhash_sig_sql()},
{ML._bands_sql()}
SELECT DISTINCT a.id AS new_id, b.id AS dup_of
FROM bands a JOIN bands b
  ON a.band_hash = b.band_hash AND b.id < a.id
WHERE a.id >= 500000
""",
    doc="Streaming incremental LSH dedup: a stream of arriving docs is "
        "banded per micro-batch (foreachBatch) and joined against the "
        "stored corpus band table, which grows by each batch's bands — "
        "the streaming face of dedup_incremental; the drained result "
        "equals the batch answer.",
)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus_bands = ML._shared_plain_bands(spark, sf_dir)
    arriving = (
        ST.read_documents_stream(spark, sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 500000).alias("id"),
            F.concat(F.col("text"), F.lit(" update")).alias("text"),
        )
    )
    return ST.incremental_dedup_stream(corpus_bands, arriving)


@query(
    "multimodal_image_meta",
    oracle="""
SELECT doc_id,
       CAST((doc_id % 1024) + 1 AS INT) AS width,
       CAST((n_chars % 1024) + 1 AS INT) AS height,
       'PNG' AS format
FROM documents
""",
    doc="REAL image-metadata decode (no codec library): a valid PNG "
        "header is synthesized per doc (width/height derived from doc "
        "fields), pushed through the Arrow mapInPandas decode stage, "
        "and header_dimensions parses the IHDR back — the oracle "
        "predicts the dimensions arithmetically.",
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import decode_image_meta

    d = load(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 1024 + 1).cast("int")
    h = (F.col("n_chars") % 1024 + 1).cast("int")
    decoded = decode_image_meta(
        d.select("doc_id", _png_header(w, h).alias("content"))
    )
    return decoded.select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.format").alias("format"),
    )


def _le_bytes(c, width: int):
    """Little-endian byte string of an int column (width 4 or 2) —
    codegen'd hex/substr swaps, no UDF."""
    x = F.lpad(F.lower(F.hex(c)), width * 2, "0")
    parts = [F.substring(x, 1 + 2 * i, 2) for i in range(width - 1, -1, -1)]
    return F.unhex(F.concat(*parts))


def _be32(c):
    return F.unhex(F.lpad(F.lower(F.hex(c)), 8, "0"))


# Shared synthetic-header builders (29/44/88 bytes): the single source
# for every multimodal_* query that pushes real container bytes through
# the Arrow decode stages.


def _png_header(w, h):
    return F.concat(
        F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),  # sig+len+IHDR
        _be32(w), _be32(h),
        F.unhex(F.lit("0802000000")),  # bit depth / color / rest of IHDR
    )


def _wav_header(sr, ch, frames):
    block = (ch * 2).cast("int")
    data_size = (frames * block).cast("int")
    return F.concat(
        F.lit(b"RIFF"), _le_bytes(data_size + 36, 4), F.lit(b"WAVEfmt "),
        _le_bytes(F.lit(16), 4), _le_bytes(F.lit(1), 2), _le_bytes(ch, 2),
        _le_bytes(sr, 4), _le_bytes(sr * block, 4), _le_bytes(block, 2),
        _le_bytes(F.lit(16), 2), F.lit(b"data"), _le_bytes(data_size, 4),
    )


def _avi_header(w, h, frames, uspf):
    zero4 = _le_bytes(F.lit(0), 4)
    avih_body = F.concat(
        _le_bytes(uspf, 4), zero4, zero4, zero4,           # usPerFrame..flags
        _le_bytes(frames, 4), zero4, _le_bytes(F.lit(1), 2),
        _le_bytes(F.lit(0), 2), zero4,                     # frames..bufsize
        _le_bytes(w, 4), _le_bytes(h, 4),                  # width, height
        zero4, zero4, zero4, zero4,                        # reserved[4]
    )
    return F.concat(
        F.lit(b"RIFF"), _le_bytes(F.lit(4 + 12 + 64), 4), F.lit(b"AVI "),
        F.lit(b"LIST"), _le_bytes(F.lit(4 + 8 + 56), 4), F.lit(b"hdrl"),
        F.lit(b"avih"), _le_bytes(F.lit(56), 4), avih_body,
    )


@query(
    "multimodal_audio_meta",
    oracle="""
SELECT doc_id,
       CAST(8000 * (1 + doc_id % 5) AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(16 AS INT) AS bits_per_sample,
       CAST(n_chars % 1000 + 1 AS BIGINT) AS n_frames,
       CAST((n_chars % 1000 + 1) * 1000
            // (8000 * (1 + doc_id % 5)) AS BIGINT) AS duration_ms,
       'WAV' AS format
FROM documents
""",
    doc="REAL audio-metadata decode (no codec library): a valid "
        "RIFF/WAVE header is synthesized per doc (sample rate / "
        "channels / frame count derived from doc fields, little-endian "
        "bytes built by codegen'd hex swaps), pushed through the Arrow "
        "mapInPandas decode stage, and audio_header_meta walks the "
        "chunk list back out — the audio face of multimodal_image_meta."
        " Duration is integer math (data_size*1000 // byte_rate) so "
        "the arithmetic oracle matches bit-for-bit.",
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import decode_audio_meta

    from advanced_strapi_import_spark.plans.registry import fan_out

    # fan_out: WAV synthesis (hex swaps) + Arrow decode would serialize
    # on the single-split documents scan
    d = fan_out(load(spark, sf_dir, "documents"))
    sr = (F.lit(8000) * (F.col("doc_id") % 5 + 1)).cast("int")
    ch = (F.col("doc_id") % 2 + 1).cast("int")
    frames = (F.col("n_chars") % 1000 + 1).cast("int")
    decoded = decode_audio_meta(
        d.select("doc_id", _wav_header(sr, ch, frames).alias("content"))
    )
    return decoded.select(
        "doc_id",
        F.col("audio_meta.sample_rate").alias("sample_rate"),
        F.col("audio_meta.channels").alias("channels"),
        F.col("audio_meta.bits_per_sample").alias("bits_per_sample"),
        F.col("audio_meta.n_frames").alias("n_frames"),
        F.col("audio_meta.duration_ms").alias("duration_ms"),
        F.col("audio_meta.format").alias("format"),
    )


@query(
    "stream_ohlc_bars",
    oracle="""
WITH b AS (
  SELECT event_type,
         strftime(ts - to_microseconds(epoch_us(ts) % 300000000),
                  '%Y-%m-%d %H:%M:%S') AS bar_start,
         ts, event_id, value
  FROM events),
w AS (
  SELECT event_type, bar_start, value,
         first_value(value) OVER win AS open,
         last_value(value) OVER
           (PARTITION BY event_type, bar_start ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS close
  FROM b
  WINDOW win AS (PARTITION BY event_type, bar_start ORDER BY ts, event_id))
SELECT event_type, bar_start,
       round(max(open), 2) AS open,
       round(max(close), 2) AS close,
       round(min(value), 2) AS low,
       round(max(value), 2) AS high,
       CAST(count(*) AS BIGINT) AS n
FROM w GROUP BY event_type, bar_start
""",
    doc="Streaming OHLC: the continuous-aggregate face of "
        "events_ohlc_bars — watermarked 5-minute windows with "
        "min_by/max_by((ts,event_id)) open/close (ordered window "
        "functions are illegal on streams; the declarative arg-min/max "
        "twin computes the identical value). Drained availableNow "
        "result hash-equals the batch/DuckDB answer.",
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    return ST.run_available_now(ST.ohlc_agg(stream))


@query(
    "stream_stateful_user_totals",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY user_id
""",
    doc="Custom stateful streaming operator (applyInPandasWithState): "
        "per-user running (count, total) in explicit GroupState, "
        "emitted in update mode — the API for stateful logic the "
        "built-in operators can't express. The availableNow drain's "
        "final state equals the batch per-user aggregate, checked "
        "against the DuckDB oracle.",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    return ST.run_available_now(
        ST.stateful_user_totals(stream), output_mode="update",
        update_key=["user_id"],
    )


@query(
    "stream_enrich_dim",
    oracle="""
SELECT n.n_name AS nation, e.event_type,
       count(*) AS n, round(sum(e.value), 2) AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name, e.event_type
""",
    doc="Stream-static dimension enrichment: the events stream joins "
        "the batch customer->nation dimension as a stateless broadcast "
        "per micro-batch (no state store, no watermark, stream side "
        "never shuffles), then rolls up per (nation, event_type). "
        "Drained availableNow result equals the batch/DuckDB answer.",
)
def stream_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    dim = (
        load(spark, sf_dir, "customer")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    enriched = ST.enrich_with_dim(stream, dim, "user_id")
    agg = enriched.groupBy("nation", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return ST.run_available_now(agg, no_data_batch=False)


@query(
    "stream_hll_users",
    oracle="""
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_bound
FROM events
GROUP BY date_trunc('week', ts)
""",
    doc="Streaming HLL sketch maintenance: per-micro-batch weekly "
        "sketches append to a sketch store; the serving estimate "
        "union-merges stored sketches without re-reading events "
        "(streaming twin of events_hll_weekly_merge). within_bound "
        "asserts the merged estimate lands within 5%% of exact.",
)
def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = ST.hll_rollup_stream(ST.read_events_stream(spark, sf_dir))
    exact = (
        load_events(spark, sf_dir)
        .groupBy(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
                "week"
            )
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "week").select(
        "week",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_bound"),
    )


@query(
    "stream_rollup_merge",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    doc="Incremental materialized-rollup maintenance via foreachBatch: "
        "per-micro-batch partial (hour, type) aggregates merge into a "
        "stored rollup (decomposable count/sum merge — no raw-event "
        "re-reads, the MERGE INTO summary-table pattern); the drained "
        "store equals the batch/DuckDB rollup exactly.",
)
def stream_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.rollup_merge_stream(ST.read_events_stream(spark, sf_dir))


@query(
    "stream_rollup_compacted",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    doc="Keyed-state COMPACTION under the value-checked gate (round 9 "
        "— the generation-swap store fold was previously pytest-only): "
        "the events table is re-sliced into 6 parquet files drained "
        "at one file per trigger through rollup_merge_stream with "
        "compact_every=4, so the drain commits 6 batch_id partitions "
        "and the in-sink compaction fires mid-stream — folding the "
        "first 4 into a merged snapshot behind the atomic _gen marker "
        "swap WHILE batches 5-6 keep arriving and committing on top "
        "of the new generation. The served rollup must still equal "
        "the batch/DuckDB hourly aggregate exactly: any row lost or "
        "double-counted through the generation swap, the _upto replay "
        "guard, or the merge re-aggregation breaks the count or the "
        "rounded sum. Slicing is an unordered repartition — counts/"
        "sums are decomposable, so arrival order is irrelevant, which "
        "is exactly why the rollup store can compact by "
        "re-aggregation. (The 16-batch default threshold and the "
        "flat-read-cost invariant are exercised by the 60-batch "
        "pytest mechanism test; this query keeps the gate's per-run "
        "cost at ~6 micro-batches.)",
)
def stream_rollup_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    e = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    d = tempfile.mkdtemp(prefix="rollup_slices_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    e.repartition(6).write.mode("overwrite").parquet(d)
    stream = ST.read_events_stream(
        spark, d, glob="part-*.parquet", max_files_per_trigger=1
    )
    return ST.rollup_merge_stream(stream, compact_every=4)


def _drained_outer_vp_join(
    spark: SparkSession, sf_dir: str, join_fn, region_col
) -> DataFrame:
    """Shared scaffold for the outer stream-stream join queries: read
    both typed streams, drain the watermarked join, keep only the
    watermark-complete region (rows whose emission trigger is older
    than max(ts) - 4h: past the 2h delay + 30min range eviction
    boundary — rows nearer the head are still held in state by
    design). NOTE the region equivalence additionally assumes BOTH
    typed streams carry events near the global max(ts): the engine
    watermark is the MIN across inputs, so a dataset whose last hours
    lack one event type would stall eviction below the region cut
    while the batch oracle still emits — dense interleaved test data
    satisfies this; see test_streaming's min-watermark test."""
    views = ST.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    )
    purchases = ST.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    drained = ST.run_available_now(
        join_fn(views, purchases), output_mode="append", no_data_batch=True
    )
    mx = load_events(spark, sf_dir).agg(F.max("ts").alias("__m"))
    return (
        drained.crossJoin(F.broadcast(mx))
        .filter(region_col <= F.col("__m") - F.expr("INTERVAL 4 HOURS"))
        .select("view_id", "purchase_id")
    )


@query(
    "stream_stream_left_join",
    oracle="""
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT v.event_id AS view_id, p.event_id AS purchase_id
FROM events v
LEFT JOIN events p
  ON v.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view'
  AND v.ts <= (SELECT m FROM mx) - INTERVAL 4 HOUR
""",
    doc="Stream-stream LEFT OUTER join: unmatched views emit null rows "
        "only when the watermark proves no purchase can still arrive "
        "(watermark-driven outer results, bounded state). Compared on "
        "the watermark-complete region — views older than max(ts)-4h, "
        "safely past the eviction boundary (2h delay + 30min range); "
        "rows nearer the stream head are still held in state by "
        "DESIGN, so both engines exclude them. Equals the batch left "
        "join on that region.",
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drained_outer_vp_join(
        spark, sf_dir, ST.view_purchase_left_join, F.col("view_ts")
    )


@query(
    "stream_stream_full_join",
    oracle="""
WITH mx AS (SELECT max(ts) AS m FROM events),
v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT v.event_id AS view_id, p.event_id AS purchase_id
FROM v FULL JOIN p
  ON v.user_id = p.user_id
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
WHERE coalesce(v.ts, p.ts) <= (SELECT m FROM mx) - INTERVAL 4 HOUR
""",
    doc="Stream-stream FULL OUTER join — completes the inner/left/full "
        "family: unmatched views AND unmatched purchases (attribution "
        "gaps) each emit a null-padded row once the watermark proves "
        "the other side can no longer arrive; state on both sides is "
        "watermark-evicted. Compared on the watermark-complete region "
        "(whichever side exists is older than max(ts)-4h, past the 2h "
        "delay + 30min range eviction boundary); rows nearer the "
        "stream head are still held in state by DESIGN, so both "
        "engines exclude them. Equals the batch full join there.",
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drained_outer_vp_join(
        spark, sf_dir, ST.view_purchase_full_join,
        F.coalesce("view_ts", "purchase_ts"),
    )


@query(
    "stream_session_window",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
       count(*) AS n_events
FROM s GROUP BY user_id, session_seq
""",
    doc="STREAMING native session windows: watermarked "
        "session_window(ts, 30 min) per user over the event stream, "
        "drained with availableNow — Spark merges per-key windows "
        "dynamically as micro-batches arrive, state bounded by open "
        "sessions. The drained result equals the batch lag+cumsum "
        "sessionization oracle (same SQL as events_session_window).",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    return ST.run_available_now(ST.session_window_agg(stream))


@query(
    "multimodal_video_meta",
    oracle="""
SELECT doc_id,
       CAST(320 + doc_id % 1280 AS INT) AS width,
       CAST(240 + n_chars % 720 AS INT) AS height,
       CAST(n_chars % 9000 + 100 AS BIGINT) AS total_frames,
       CAST(1000000000 // (1000000 // (24 + doc_id % 37)) AS BIGINT) AS fps_millis,
       CAST((n_chars % 9000 + 100) * (1000000 // (24 + doc_id % 37))
            // 1000 AS BIGINT) AS duration_ms,
       'AVI' AS format
FROM documents
""",
    doc="REAL video-metadata decode (no demuxer library): a valid "
        "RIFF/AVI header (LIST hdrl -> 56-byte avih MainAVIHeader) is "
        "synthesized per doc via codegen'd little-endian hex swaps and "
        "video_header_meta walks the chunk list back out — completing "
        "the real-header trio with multimodal_image_meta (PNG) and "
        "multimodal_audio_meta (WAV). fps/duration are integer math "
        "(1e9 // us_per_frame; frames * us_per_frame // 1000) so the "
        "arithmetic oracle matches bit-for-bit.",
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import decode_video_meta
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents"))
    w = (F.col("doc_id") % 1280 + 320).cast("int")
    h = (F.col("n_chars") % 720 + 240).cast("int")
    frames = (F.col("n_chars") % 9000 + 100).cast("int")
    uspf = (F.lit(1000000) / (F.col("doc_id") % 37 + 24)).cast("int")
    decoded = decode_video_meta(
        d.select(
            "doc_id", _avi_header(w, h, frames, uspf).alias("content")
        )
    )
    return decoded.select(
        "doc_id",
        F.col("video_meta.width").alias("width"),
        F.col("video_meta.height").alias("height"),
        F.col("video_meta.total_frames").alias("total_frames"),
        F.col("video_meta.fps_millis").alias("fps_millis"),
        F.col("video_meta.duration_ms").alias("duration_ms"),
        F.col("video_meta.format").alias("format"),
    )


@query(
    "multimodal_mixed_manifest",
    oracle="""
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(sum(pd) AS BIGINT) AS sum_primary_dim
FROM (
  SELECT CASE doc_id % 3 WHEN 0 THEN 'PNG' WHEN 1 THEN 'WAV'
              ELSE 'AVI' END AS media_type,
         CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 44
              ELSE 88 END AS bytes,
         CASE doc_id % 3 WHEN 0 THEN doc_id % 1024 + 1
              WHEN 1 THEN 8000 * (doc_id % 5 + 1)
              ELSE doc_id % 1280 + 320 END AS pd
  FROM documents)
GROUP BY media_type
""",
    doc="Mixed-modality ingestion manifest: one binary column holds "
        "PNG, WAV and AVI payloads interleaved (doc_id % 3 picks the "
        "container; the SAME shared header builders as the per-type "
        "queries), and sniff_media_meta dispatches each payload by "
        "MAGIC BYTES to the matching real header parser in one Arrow "
        "pass — the 'nobody labels the bucket' shape every media "
        "crawl starts with. Rolled up per detected type: file count, "
        "total payload bytes, and the summed headline dimension "
        "(image/video width, audio sample rate) — all exact integers "
        "the oracle predicts arithmetically, INCLUDING the byte "
        "totals (29/44/88 per container), so any drift in the header "
        "synthesis or the parser dispatch breaks the hash. Scale: "
        "sniff+parse read only leading bytes, row-local; the rollup "
        "is a 3-group aggregate.",
)
def multimodal_mixed_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        sniff_media_meta,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents"))
    png = _png_header(
        (F.col("doc_id") % 1024 + 1).cast("int"),
        (F.col("n_chars") % 1024 + 1).cast("int"),
    )
    wav = _wav_header(
        (F.lit(8000) * (F.col("doc_id") % 5 + 1)).cast("int"),
        (F.col("doc_id") % 2 + 1).cast("int"),
        (F.col("n_chars") % 1000 + 1).cast("int"),
    )
    avi = _avi_header(
        (F.col("doc_id") % 1280 + 320).cast("int"),
        (F.col("n_chars") % 720 + 240).cast("int"),
        (F.col("n_chars") % 9000 + 100).cast("int"),
        (F.lit(1000000) / (F.col("doc_id") % 37 + 24)).cast("int"),
    )
    content = (
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, wav)
        .otherwise(avi)
    )
    manifest = sniff_media_meta(d.select("doc_id", content.alias("content")))
    return manifest.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("payload_bytes").cast("long").alias("total_bytes"),
        F.sum("primary_dim").cast("long").alias("sum_primary_dim"),
    )


@query(
    "stream_quality_gate",
    oracle=r"""
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         len(list_filter(string_split(lower(text), ' '),
             t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS stop_hits
  FROM documents),
scored AS (
  SELECT doc_id,
         round(greatest(least(
           0.5
           + least(round(CAST(stop_hits AS DOUBLE) / n_tokens, 4) * 2, 0.3)
           - least((CASE WHEN n_chars > 0 THEN round(CAST(n_punct AS DOUBLE) / n_chars, 4) ELSE 0.0 END) * 2, 0.3)
           - least((CASE WHEN n_chars > 0 THEN round(CAST(n_digit AS DOUBLE) / n_chars, 4) ELSE 0.0 END), 0.2)
           + CASE WHEN round(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 4)
                       BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END,
           1.0), 0.0), 4) AS quality
  FROM feat)
SELECT doc_id, quality FROM scored WHERE quality >= 0.5
""",
    doc="Streaming quality gate — the curation filter as a STATELESS "
        "streaming stage: arriving documents are scored with the staged "
        "quality expression and sub-threshold docs dropped inside the "
        "stream (no state store, no watermark — per-row codegen, which "
        "is why this filter is essentially free on a firehose). The "
        "availableNow drain equals the batch filter over the same "
        "table.",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators import text as TX

    s = ST.read_documents_stream(spark, sf_dir)
    kept = (
        TX.with_quality(s)
        .filter(F.col("quality") >= 0.5)
        .select("doc_id", "quality")
    )
    return ST.run_available_now(kept, output_mode="append")


@query(
    "stream_chained_windows",
    oracle="""
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
ten AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS t10, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
hr AS (
  SELECT date_trunc('hour', t10) AS h, event_type,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(max(n) AS BIGINT) AS max_10min_n,
         CAST(count(*) AS BIGINT) AS n_slots
  FROM ten GROUP BY 1, 2)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       n_events, max_10min_n, n_slots
FROM hr CROSS JOIN wm WHERE h + INTERVAL 1 HOUR <= wm.w
""",
    doc="CHAINED stateful window aggregations in one streaming query "
        "(Spark 3.4+ multi-stateful-operator support): 10-minute "
        "tumbling counts per type re-aggregated via window_time into "
        "hourly total/peak-slot/slot-count — multi-resolution rollup "
        "maintenance without a second job re-reading the sink. "
        "Append-mode, so only hour windows whose end has crossed the "
        "final watermark (max ts - 1 h, boundary inclusive — measured "
        "on Spark 4.1) emit after the availableNow drain; the oracle "
        "computes the same two-level rollup in batch SQL restricted "
        "to that emitted region.",
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    return ST.run_available_now(
        ST.chained_window_agg(stream),
        output_mode="append",
        no_data_batch=True,
    )


@query(
    "stream_hopping_window",
    oracle="""
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
starts AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, user_id
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE,
         event_type, user_id
  FROM events)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM starts CROSS JOIN wm
WHERE ws + INTERVAL 1 HOUR <= wm.w
GROUP BY ws, event_type
""",
    doc="Hopping (sliding) windows on the live stream: 1-hour windows "
        "every 30 minutes, so each event lands in exactly two "
        "overlapping windows — the smoothed-rate rollup dashboards "
        "want when a tumbling hour is too coarse-grained at the "
        "boundary. Append-mode with a 1-hour watermark; after the "
        "availableNow drain exactly the windows whose end crossed the "
        "final watermark (max ts - 1 h, inclusive) have emitted. The "
        "oracle replays the two-windows-per-event expansion in batch "
        "SQL over the same emitted region. countDistinct is "
        "unsupported on streams, so the exact per-window user count "
        "comes from CHAINED stateful aggs — (window, type, user) "
        "partial counts whose closed rows each represent one distinct "
        "user, folded per (window, type); state stays bounded by open "
        "windows x active keys.",
)
def stream_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    # exact distinct users WITHOUT countDistinct (unsupported on
    # streams): chained stateful aggs — per (window, type, user) counts
    # first, then per (window, type) fold where each input row IS one
    # distinct user
    per_user = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_u"))
    )
    agg = (
        per_user.groupBy("w", "event_type")
        .agg(
            F.sum("n_u").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "users",
        )
    )
    return ST.run_available_now(agg, output_mode="append", no_data_batch=True)


@query(
    "multimodal_ahash_pairs",
    oracle="""
WITH payload AS (
  SELECT doc_id, substr(text, 1, 252) AS px, length(text) AS n
  FROM documents WHERE length(text) >= 252),
blocks AS (
  SELECT doc_id, unnest(range(0, 63)) AS b, px FROM payload),
bsum AS (
  SELECT doc_id, CAST(b AS BIGINT) AS b,
         CAST(ascii(substr(px, CAST(b AS INT) * 4 + 1, 1))
            + ascii(substr(px, CAST(b AS INT) * 4 + 2, 1))
            + ascii(substr(px, CAST(b AS INT) * 4 + 3, 1))
            + ascii(substr(px, CAST(b AS INT) * 4 + 4, 1)) AS BIGINT)
             AS s
  FROM blocks),
tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS total FROM bsum GROUP BY doc_id),
hash AS (
  SELECT bsum.doc_id,
         CAST(sum(CASE WHEN bsum.s * 63 >= tot.total
                       THEN (CAST(1 AS BIGINT) << bsum.b) ELSE 0 END)
              AS BIGINT) AS ahash
  FROM bsum JOIN tot ON tot.doc_id = bsum.doc_id
  GROUP BY bsum.doc_id),
chunks AS (
  SELECT doc_id, ahash, unnest(range(0, 4)) AS ci FROM hash),
keys AS (
  SELECT doc_id, ahash, CAST(ci AS BIGINT) AS ci,
         (ahash >> (CAST(ci AS INT) * 16)) & 65535 AS ck
  FROM chunks)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
FROM keys a JOIN keys b
  ON a.ci = b.ci AND a.ck = b.ck AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
""",
    doc="Perceptual average-hash near-dup over BINARY payloads (the "
        "image-dedup pattern, driven here on the documents bytes the "
        "multimodal suite uses as its codec-free payload): the first "
        "252 bytes split into 63 4-byte blocks, each block's sum "
        "compared to the global mean via integer cross-multiply "
        "(s*63 >= total — no division, exact in both engines) to "
        "form a 63-bit signature (bit 63 stays clear — a set sign bit "
        "overflows DuckDB's BIGINT shift and wraps Java's); candidate pairs come from the "
        "pigeonhole 16-bit-chunk equi-join (hamming <= 3 implies an "
        "equal chunk among 4 — same bucketing discipline as "
        "dedup_hamming_pairs, never all-pairs) and verify with "
        "bit_count(xor). At 100 TB the signature pass is one "
        "map-side scan of the payload column; only 8-byte hashes "
        "shuffle.",
)
def multimodal_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from advanced_strapi_import_spark.operators import dedup as D

    d = load(spark, sf_dir, "documents")
    payload = d.filter(F.length("text") >= 252).select(
        "doc_id", F.substring("text", 1, 252).alias("px")
    )
    b = F.col("b")
    bsum = payload.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(62))).alias("b"),
        "px",
    ).select(
        "doc_id",
        b.cast("long").alias("b"),
        (
            F.ascii(F.col("px").substr(b * 4 + 1, F.lit(1)))
            + F.ascii(F.col("px").substr(b * 4 + 2, F.lit(1)))
            + F.ascii(F.col("px").substr(b * 4 + 3, F.lit(1)))
            + F.ascii(F.col("px").substr(b * 4 + 4, F.lit(1)))
        )
        .cast("long")
        .alias("s"),
    )
    # total via an unbounded window on the SAME doc_id partitioning —
    # a separate aggregate + join would re-scan the payload and
    # re-evaluate the 63x4 substr/ascii block (no shared Exchange for
    # ReuseExchange to dedupe once the tiny side broadcasts)
    w_doc = Window.partitionBy("doc_id")
    hash_df = (
        bsum.withColumn("total", F.sum("s").over(w_doc))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") * 63 >= F.col("total"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("ahash")
        )
    )
    # the pigeonhole chunk bucketing + lowest-shared-chunk dedup (no
    # distinct shuffle) is exactly operators/dedup.hamming_pairs with
    # 64-bit chunking — bit 63 of the 63-bit hash is simply never set
    fp = hash_df.select("doc_id", "ahash").toDF("id", "simhash")
    return (
        D.hamming_pairs(fp, max_distance=3, bits=64)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


@query(
    "stream_extreme_users",
    oracle="""
SELECT event_type,
       CAST(max_u AS BIGINT) AS max_user,
       round(max_v, 2) AS max_value,
       CAST(min_u AS BIGINT) AS min_user,
       round(min_v, 2) AS min_value
FROM (
  SELECT event_type,
         first(user_id ORDER BY value DESC, event_id DESC) AS max_u,
         first(value   ORDER BY value DESC, event_id DESC) AS max_v,
         first(user_id ORDER BY value ASC,  event_id ASC)  AS min_u,
         first(value   ORDER BY value ASC,  event_id ASC)  AS min_v
  FROM events GROUP BY event_type)
""",
    doc="Streaming argmax/argmin: the continuous face of "
        "events_extreme_users — per-type max_by/min_by with the "
        "struct(value, event_id) tie-broken key run as a streaming "
        "aggregate in update mode (argmax aggregates are mergeable "
        "across micro-batches: each batch carries one candidate per "
        "key, exactly why the window+filter form is illegal on "
        "streams but max_by is not). The drained final state equals "
        "the batch answer, checked against the same ORDER-BY-first "
        "oracle as the batch query.",
)
def stream_extreme_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.expr("max_by(user_id, struct(value, event_id))")
        .cast("long")
        .alias("max_user"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.expr("min_by(user_id, struct(value, event_id))")
        .cast("long")
        .alias("min_user"),
        F.round(F.min("value"), 2).alias("min_value"),
    )
    return ST.run_available_now(
        agg, output_mode="update", update_key=["event_type"]
    )


# ---------------------------------------------------------------------------
# streaming ANN serve from stored indexes (round 6)
# ---------------------------------------------------------------------------
_ANN_PLANES = 6


def _ann_serve_sql(
    *,
    bucket_gated: bool,
    corpus_sql: str = "SELECT vec_id, embedding FROM embeddings",
    query_pred: str = "vec_id % 97 = 0",
) -> str:
    """Exact DuckDB twin of the streamed serve. With ``bucket_gated``
    the candidate set is bucket-mates under the SAME deterministic
    6-plane hyperplane function the Spark index partitions by (the
    md5-derived sign constants are embedded as literals); without it
    the candidates are the whole corpus — the exact-truth oracle for
    the full-probe IVF serve. ``corpus_sql``/``query_pred`` let the
    index-maintenance twin define an appended corpus and restrict the
    queries to the base vectors."""
    bucket_expr = ML._table_bucket_sql(0, _ANN_PLANES)
    gate = "JOIN b c USING (bucket)" if bucket_gated else "CROSS JOIN b c"
    return f"""
WITH allv AS ({corpus_sql}),
b AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb,
         {bucket_expr} AS bucket
  FROM allv),
q AS (SELECT vec_id AS query_id, emb AS qv, bucket FROM b
      WHERE {query_pred}),
cand AS (
  SELECT q.query_id, q.qv, c.vec_id AS neighbor_id, c.emb AS cv
  FROM q {gate} WHERE c.vec_id <> q.query_id),
expl AS (
  SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(cv) AS y
  FROM cand),
dots AS (
  SELECT query_id, neighbor_id,
         sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM expl GROUP BY query_id, neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos
  FROM dots),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS INT)
           AS rnk
  FROM scored)
SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
"""


def _ann_empty_schema(spark: SparkSession):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
            T.StructField("rnk", T.IntegerType()),
        ]
    )


# session-scoped stored-index cache: build ONCE per (session, sf_dir,
# kind), serve from every subsequent call — the actual index lifecycle
# (offline build job, always-on serving stream); rebuilding a static
# index per serving run would model nothing real. Same discipline as
# parity_ml._SHARED, but the artifact is a DIRECTORY, not a persisted
# frame, so there is nothing to unpersist — atexit reaps the tmpdirs.
_ANN_IDX: dict = {}


def _ann_index_dir(spark: SparkSession, sf_dir: str, kind: str, build) -> str:
    import atexit
    import shutil
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _ANN_IDX:
        path = tempfile.mkdtemp(prefix=f"{kind}_idx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build(path)
        _ANN_IDX[key] = path
    return _ANN_IDX[key]


@query(
    "stream_ann_serve",
    oracle=_ann_serve_sql(bucket_gated=True),
    doc="Streaming ANN serve from a STORED LSH index: the corpus is "
        "written ONCE partitioned by its 6-plane hyperplane bucket "
        "(nothing to train, nothing to load — the bucket function is a "
        "deterministic md5-sign expression any reader recomputes), "
        "then the query stream is answered per micro-batch via "
        "foreachBatch: each batch's buckets become a `bucket IN (...)` "
        "scan predicate, parquet partition pruning skips every "
        "unprobed bucket directory, and the batch's top-5 append to a "
        "results table — never the driver. The oracle replicates the "
        "gating EXACTLY (the same sign constants as SQL literals) and "
        "the exact round-6 cosine ranking, so this is a hash-exact "
        "stream==batch twin, not a pinned recall bound. Scale: serve "
        "cost per batch is |batch| x bucket size; the corpus is "
        "scanned 0 times outside its probed partitions.",
)
def stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    idx = _ann_index_dir(
        spark, sf_dir, "lsh",
        lambda p: S.build_lsh_index(emb, p, planes=_ANN_PLANES),
    )
    qstream = ST.read_documents_stream(
        spark, sf_dir, glob="embeddings.parquet"
    ).filter(F.col("vec_id") % 97 == 0)
    return ST.ann_serve_stream(
        qstream,
        lambda batch: S.lsh_query_index(
            spark, idx, batch, k=5, planes=_ANN_PLANES
        ),
        empty_schema=_ann_empty_schema(spark),
    )


@query(
    "stream_ann_serve_ivf",
    oracle=_ann_serve_sql(bucket_gated=False),
    doc="Streaming ANN serve composed from the stored IVF index "
        "(build_ivf_index + ivf_query_index) and the foreachBatch "
        "serve harness: centroids load once per batch (KBs), each "
        "query's probe list becomes a `cell IN (...)` partition-pruned "
        "scan, top-5 append to the results table. Probing ALL 16 cells "
        "makes the served answer the EXACT top-5 (every vector lives "
        "in exactly one cell), so the oracle is the exact brute-force "
        "ranking — hash-exact, no pinned recall; the pruned-probe "
        "cost/recall dial is covered by embedding_ivf_nprobe_sweep and "
        "the bucket-pruned twin stream_ann_serve above.",
)
def stream_ann_serve_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    idx = _ann_index_dir(
        spark, sf_dir, "ivf", lambda p: S.build_ivf_index(emb, p, cells=16)
    )
    qstream = ST.read_documents_stream(
        spark, sf_dir, glob="embeddings.parquet"
    ).filter(F.col("vec_id") % 97 == 0)
    return ST.ann_serve_stream(
        qstream,
        lambda batch: S.ivf_query_index(
            spark, idx, batch, k=5, nprobe=16
        ).withColumnRenamed("rank", "rnk"),
        empty_schema=_ann_empty_schema(spark),
    )


@query(
    "stream_ann_index_update",
    oracle=_ann_serve_sql(
        bucket_gated=True,
        corpus_sql="""
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 5 = 0""",
        query_pred="vec_id % 97 = 0 AND vec_id < 100000",
    ),
    doc="Streaming ANN index MAINTENANCE: the stored LSH index is "
        "built offline over the base corpus, then a stream of NEW "
        "vectors (planted exact-duplicate arrivals, id+100000) appends "
        "per micro-batch INTO the index's bucket partitions — the same "
        "deterministic bucket expression routes each arrival to its "
        "directory, so an append is a partition-local file add with "
        "zero index rebuild and zero reshuffle of the existing corpus. "
        "A serve pass after the drain proves freshness: every query "
        "whose twin arrived now ranks it at cos 1.0. Oracle = the "
        "hash-exact bucket-gated ranking over base UNION arrivals "
        "(queries restricted to base ids). This is the online-index "
        "upkeep shape: build once, append forever, rebuild only to "
        "re-balance planes/cells.",
)
def stream_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from advanced_strapi_import_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    # a PRIVATE index dir — this query mutates it, so the session-scoped
    # serve cache must not share it; clone the cached build (a file
    # copy) instead of re-fitting, the same cost a real maintenance job
    # pays to fork a staging index
    src = _ann_index_dir(
        spark, sf_dir, "lsh",
        lambda p: S.build_lsh_index(emb, p, planes=_ANN_PLANES),
    )
    idx = tempfile.mkdtemp(prefix="lshu_idx_")
    atexit.register(shutil.rmtree, idx, ignore_errors=True)
    shutil.rmtree(idx)
    shutil.copytree(src, idx)

    arriving = (
        ST.read_documents_stream(spark, sf_dir, glob="embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )

    def update(batch_df, batch_id) -> None:
        if not batch_df.head(1):
            return
        # partition-local append, then the generation-swap compaction
        # check (round 10): on a long-running stream per-bucket file
        # counts stay bounded instead of growing one file per batch
        S.append_lsh_vectors(batch_df, idx)
        S.compact_lsh_index(spark, idx, max_files_per_bucket=16)

    # drain-scoped shuffle cap (ST.drain_conf): the per-batch encode+
    # append jobs are ordinary batch jobs over KB-sized arrival slices;
    # session-width exchanges are pure fixed cost here (results
    # unchanged; a production maintenance stream sizes to throughput)
    with ST.drain_conf(spark, state_partitions=4):
        q = (
            arriving.writeStream.foreachBatch(update)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    queries = emb.filter(F.col("vec_id") % 97 == 0)
    return S.lsh_query_index(spark, idx, queries, k=5, planes=_ANN_PLANES)


@query(
    "stream_ivfpq_index_update",
    oracle="""
SELECT vec_id AS query_id, TRUE AS arrival_fresh, TRUE AS compact_invariant
FROM embeddings WHERE vec_id % 97 = 0
""",
    doc="Streaming IVF+PQ index MAINTENANCE (round 12, VERDICT r11 "
        "task 4 — completes the stored-index lifecycle that LSH has "
        "had since round 10): the stored index is built offline, then "
        "arrivals (planted exact-duplicate vectors, id+100000) are "
        "encoded with the FROZEN trainer (centroids + residual "
        "codebooks from disk, nothing retrains) and appended INTO the "
        "cell partitions per micro-batch — a partition-local "
        "byte-code file add, zero rebuild, zero reshuffle. "
        "compact_ivfpq_index folds cells back to one file via the "
        "SAME hardened generation-swap machinery as the LSH store "
        "(_compact_index_store: atomic codes_dir pointer, orphan "
        "reap, corrupt-meta aborts), and the drain asserts a "
        "compaction actually ran. Two pinned booleans per query: "
        "arrival_fresh — every query whose duplicate arrived serves "
        "it with exact rerank distance 0.0 (freshness through append "
        "AND compaction); compact_invariant — the compacted index's "
        "full served answer is BIT-EQUAL to an append-only clone fed "
        "the same arrivals (compaction is pure file reorganization).",
)
def stream_ivfpq_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from advanced_strapi_import_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    src = _ann_index_dir(
        spark, sf_dir, "ivfpq",
        lambda p: S.build_ivfpq_index(emb, p, m=32, codebook=64),
    )
    # two private clones: A takes append+compact, B append-only — the
    # bit-equality of their served answers is the compaction gate
    idxs = []
    for tag in ("a", "b"):
        d = tempfile.mkdtemp(prefix=f"ivfpqu_{tag}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        shutil.rmtree(d)
        shutil.copytree(src, d)
        idxs.append(d)
    idx_a, idx_b = idxs

    arriving = (
        ST.read_documents_stream(spark, sf_dir, glob="embeddings.parquet")
        .filter(F.col("vec_id") % 5 == 0)
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )

    def update(batch_df, batch_id) -> None:
        if not batch_df.head(1):
            return
        # r13: the arrival batch is ENCODED ONCE — idx_a/idx_b are
        # byte-identical clones of one build, so their frozen trainers
        # produce the same codes; the old form paid the mapInPandas
        # encode 4x per batch (2 slices x 2 indexes). The eager
        # checkpoint materializes the codes so each of the four writes
        # below reads KB-sized rows instead of re-running the encode.
        enc = checkpoint_tracked(S.encode_ivfpq_batch(batch_df, idx_a))
        # two sub-appends per batch, then the compaction check — the
        # per-cell file count (1 build + 2 appends) crosses the
        # threshold so the generation swap runs inside the drain
        for s in range(2):
            sl = enc.filter(F.col("id") % 2 == s)
            S.append_encoded_ivfpq(sl, idx_a)
            S.append_encoded_ivfpq(sl, idx_b)
        S.compact_ivfpq_index(spark, idx_a, max_files_per_cell=2)

    # drain-scoped shuffle cap (ST.drain_conf): the per-batch encode+
    # append jobs are ordinary batch jobs over KB-sized arrival slices;
    # session-width exchanges are pure fixed cost here (results
    # unchanged; a production maintenance stream sizes to throughput)
    with ST.drain_conf(spark, state_partitions=4):
        q = (
            arriving.writeStream.foreachBatch(update)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    live_a = S._require_index_meta(idx_a).get("codes_dir", "codes")
    if live_a == "codes":
        raise RuntimeError(
            "stream_ivfpq_index_update: compaction never triggered — "
            "the generation-swap path went unexercised"
        )

    queries = emb.filter(F.col("vec_id") % 97 == 0)
    union_corpus = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
    )
    # served_a feeds the diff AND the freshness check — eager
    # checkpoint_tracked so the index scan + ADC + rerank subtree runs
    # once (two consumers racing an unmaterialized cache duplicate the
    # serve scan — the kcore race class) and the serve lineage is
    # truncated before the full_outer diff re-analyzes it.
    served_a = S.ivfpq_query_index(
        spark, idx_a, queries, k=5, nprobe=8,
        rerank=20, rerank_corpus=union_corpus,
    ).transform(checkpoint_tracked)
    served_b = S.ivfpq_query_index(
        spark, idx_b, queries, k=5, nprobe=8,
        rerank=20, rerank_corpus=union_corpus,
    )
    diff = (
        served_a.withColumn("__a", F.lit(1))
        .join(
            served_b.withColumn("__b", F.lit(1)),
            ["query_id", "neighbor_id", "approx_d2", "rank"],
            "full_outer",
        )
        .filter(F.col("__a").isNull() | F.col("__b").isNull())
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    fresh = (
        served_a.filter(
            (F.col("neighbor_id") == F.col("query_id") + 100000)
            & (F.col("approx_d2") == 0.0)
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_twin"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(fresh, "query_id", "left")
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            (
                (F.col("query_id") % 5 != 0)
                | (F.coalesce("n_twin", F.lit(0)) >= 1)
            ).alias("arrival_fresh"),
            F.coalesce("n_diff", F.lit(0)).eqNullSafe(0)
            .alias("compact_invariant"),
        )
    )


def _gradient_dims(df, mod_w: int, add_w: int, mod_h: int, add_h: int):
    """(doc_id, w, h) source frame for the synthetic-image suite."""
    return df.select(
        "doc_id",
        (F.col("doc_id") % mod_w + add_w).cast("int").alias("w"),
        (F.col("n_chars") % mod_h + add_h).cast("int").alias("h"),
    )


def _gradient_image_gen(encode, m_id: int, m_x: int, m_y: int, m_c: int):
    """ONE mapInPandas generator for every query that synthesizes the
    deterministic RGB gradient image pixel(x,y,c) = (doc_id*m_id +
    x*m_x + y*m_y + c*m_c) %% 256 — the formula each arithmetic oracle
    composes with. ``encode`` is the container encoder
    (png_encode_pixels exercises all five PNG filters via its y %% 5
    default; bmp_encode_pixels exercises padding + BGR + bottom-up).
    Shared by the batch stats queries, the streaming twin, and the
    resize cycle so the synth formula cannot silently fork."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for did, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                did, w, h = int(did), int(w), int(h)
                ys = np.arange(h)[:, None, None]
                xs = np.arange(w)[None, :, None]
                cs = np.arange(3)[None, None, :]
                px = (
                    (did * m_id + xs * m_x + ys * m_y + cs * m_c) % 256
                ).astype(np.uint8)
                outs.append(encode(px.reshape(h, w * 3)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    return gen


@query(
    "multimodal_png_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 13 + 4 AS INT) AS w,
         CAST(n_chars % 11 + 4 AS INT) AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM dims),
v AS (
  SELECT doc_id, w, h,
         (doc_id * 31 + ((i // 3) % w) * 7
          + (i // (3 * w)) * 13 + (i % 3) * 101) % 256 AS val,
         i % 3 AS c
  FROM px)
SELECT doc_id, w AS width, h AS height,
       CAST(3 AS INT) AS channels, 'PNG' AS format,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(sum(CASE WHEN c = 0 THEN val END) AS BIGINT) AS sum_c0,
       CAST(sum(CASE WHEN c = 1 THEN val END) AS BIGINT) AS sum_c1,
       CAST(sum(CASE WHEN c = 2 THEN val END) AS BIGINT) AS sum_c2,
       CAST(min(val) AS INT) AS px_min,
       CAST(max(val) AS INT) AS px_max
FROM v GROUP BY doc_id, w, h
""",
    doc="FULL PNG pixel decode — REAL, library-free: per doc a complete "
        "spec-valid RGB8 PNG is synthesized (deterministic gradient "
        "pixels, per-row filter type y %% 5 so ALL FIVE spec predictor "
        "filters — None/Sub/Up/Average/Paeth — are exercised on disk), "
        "then png_decode_pixels chunk-walks it, zlib-inflates the IDAT "
        "(DEFLATE is PNG's only compression and zlib is stdlib), "
        "unfilters every row, and image_pixel_stats reduces the pixel "
        "array to BIGINT-exact per-channel sums/min/max that the "
        "arithmetic oracle predicts from the generator formula. This "
        "retires the 'pixel decode is environment-blocked' caveat for "
        "PNG (GIF LZW and baseline JPEG followed — see "
        "multimodal_gif_pixels / multimodal_jpeg_pixels; only video "
        "codecs remain stubbed). Scale: encode+decode+stats are one "
        "row-local Arrow pipeline per partition — no shuffle until the "
        "12-column stats frame.",
)
def multimodal_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_pixel_stats,
        png_encode_pixels,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = _gradient_dims(
        fan_out(load(spark, sf_dir, "documents")), 13, 4, 11, 4
    )
    gen = _gradient_image_gen(png_encode_pixels, 31, 7, 13, 101)
    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


@query(
    "multimodal_bmp_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 9 + 2 AS INT) AS w,
         CAST(n_chars % 7 + 2 AS INT) AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM dims),
v AS (
  SELECT doc_id, w, h,
         (doc_id * 17 + ((i // 3) % w) * 5
          + (i // (3 * w)) * 3 + (i % 3) * 29) % 256 AS val,
         i % 3 AS c
  FROM px)
SELECT doc_id, w AS width, h AS height,
       CAST(3 AS INT) AS channels, 'BMP' AS format,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(sum(CASE WHEN c = 0 THEN val END) AS BIGINT) AS sum_c0,
       CAST(sum(CASE WHEN c = 1 THEN val END) AS BIGINT) AS sum_c1,
       CAST(sum(CASE WHEN c = 2 THEN val END) AS BIGINT) AS sum_c2,
       CAST(min(val) AS INT) AS px_min,
       CAST(max(val) AS INT) AS px_max
FROM v GROUP BY doc_id, w, h
""",
    doc="FULL BMP pixel decode — REAL, library-free (24bpp BMP is raw "
        "BGR rows, 4-byte padded, bottom-up): widths 2..10 guarantee "
        "rows with nonzero padding, and the per-CHANNEL oracle sums "
        "(c*29 makes channels distinguishable) prove the decoder "
        "re-flips bottom-up rows and reorders BGR->RGB correctly — a "
        "byte-order bug would swap sum_c0/sum_c2 and hash-mismatch. "
        "Same Arrow pipeline shape as multimodal_png_pixels.",
)
def multimodal_bmp_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        bmp_encode_pixels,
        image_pixel_stats,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = _gradient_dims(
        fan_out(load(spark, sf_dir, "documents")), 9, 2, 7, 2
    )
    gen = _gradient_image_gen(bmp_encode_pixels, 17, 5, 3, 29)
    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


@query(
    "multimodal_wav_pcm",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(8000 * (doc_id % 3 + 1) AS INT) AS sr,
         CAST(n_chars % 200 + 16 AS BIGINT) AS n
  FROM documents),
s AS (
  SELECT doc_id, sr, n, unnest(range(0, n)) AS i FROM dims),
v AS (
  SELECT doc_id, sr, n, i,
         (doc_id * 7 + i * 11) % 4001 - 2000 AS cur,
         CASE WHEN i >= 1
              THEN (doc_id * 7 + (i - 1) * 11) % 4001 - 2000 END AS prv
  FROM s)
SELECT doc_id, sr AS sample_rate, CAST(1 AS INT) AS channels,
       CAST(max(n) AS BIGINT) AS n_frames,
       CAST(sum(cur * cur) AS BIGINT) AS sum_sq,
       CAST(max(abs(cur)) AS INT) AS peak,
       CAST(sum(CASE WHEN cur * prv < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings
FROM v GROUP BY doc_id, sr
""",
    doc="FULL PCM sample demux — REAL, library-free (16-bit PCM WAV is "
        "raw little-endian int16 after the chunk walk): per doc a "
        "complete mono WAV with a deterministic sawtooth-ish sample "
        "stream is synthesized, wav_decode_samples demuxes it, and "
        "audio_pcm_features reduces to BIGINT-exact energy (sum of "
        "squares), peak amplitude, and strict-sign zero crossings — "
        "the VAD/loudness-gate features of an audio curation pipeline "
        "— all predicted arithmetically by the oracle. Retires the "
        "'sample demux is environment-blocked' caveat for PCM.",
)
def multimodal_wav_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        audio_pcm_features,
        wav_encode_samples,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.lit(8000) * (F.col("doc_id") % 3 + 1)).cast("int").alias("sr"),
        (F.col("n_chars") % 200 + 16).cast("long").alias("n"),
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for did, sr, n in zip(pdf["doc_id"], pdf["sr"], pdf["n"]):
                did, sr, n = int(did), int(sr), int(n)
                i = np.arange(n, dtype=np.int64)
                s = ((did * 7 + i * 11) % 4001 - 2000).astype(np.int16)
                outs.append(wav_encode_samples(sr, s.reshape(n, 1)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return audio_pcm_features(payload)


@query(
    "stream_pixel_stats",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 13 + 4 AS INT) AS w,
         CAST(n_chars % 11 + 4 AS INT) AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM dims),
v AS (
  SELECT doc_id, w, h,
         (doc_id * 31 + ((i // 3) % w) * 7
          + (i // (3 * w)) * 13 + (i % 3) * 101) % 256 AS val,
         i % 3 AS c
  FROM px)
SELECT doc_id, w AS width, h AS height,
       CAST(3 AS INT) AS channels, 'PNG' AS format,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(sum(CASE WHEN c = 0 THEN val END) AS BIGINT) AS sum_c0,
       CAST(sum(CASE WHEN c = 1 THEN val END) AS BIGINT) AS sum_c1,
       CAST(sum(CASE WHEN c = 2 THEN val END) AS BIGINT) AS sum_c2,
       CAST(min(val) AS INT) AS px_min,
       CAST(max(val) AS INT) AS px_max
FROM v GROUP BY doc_id, w, h
""",
    doc="Streaming twin of multimodal_png_pixels: documents arrive as a "
        "file-source stream, each micro-batch synthesizes its PNGs "
        "(all five filters) and runs the SAME real zlib decode + "
        "pixel-stats Arrow stage via the generic foreachBatch serve "
        "harness (ann_serve_stream — per-batch work is ordinary batch "
        "decode, no stateful operator), whose batch_id-keyed "
        "overwrite-subdirectory sink keeps retries exactly-once. The "
        "drained stream equals the batch/arithmetic answer — the "
        "media-ingestion maintenance shape: decode-and-featurize on "
        "arrival, land features in a table, never re-decode.",
)
def stream_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        PIXEL_STATS,
        image_pixel_stats,
        png_encode_pixels,
    )

    doc_stream = _gradient_dims(
        ST.read_documents_stream(spark, sf_dir), 13, 4, 11, 4
    )
    gen = _gradient_image_gen(png_encode_pixels, 31, 7, 13, 101)

    def serve(batch_df):
        payload = batch_df.mapInPandas(gen, "doc_id long, content binary")
        return image_pixel_stats(payload)

    return ST.ann_serve_stream(doc_stream, serve, empty_schema=PIXEL_STATS)


@query(
    "multimodal_resize_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 13 + 4 AS INT) AS w,
         CAST(n_chars % 11 + 4 AS INT) AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, unnest(range(0, 8 * 8 * 3)) AS k FROM dims),
v AS (
  SELECT doc_id,
         (doc_id * 31
          + (((k // 3) % 8) * w // 8) * 7
          + ((k // 24) * h // 8) * 13
          + (k % 3) * 101) % 256 AS val,
         k % 3 AS c
  FROM px)
SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(3 AS INT) AS channels, 'PNG' AS format,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(sum(CASE WHEN c = 0 THEN val END) AS BIGINT) AS sum_c0,
       CAST(sum(CASE WHEN c = 1 THEN val END) AS BIGINT) AS sum_c1,
       CAST(sum(CASE WHEN c = 2 THEN val END) AS BIGINT) AS sum_c2,
       CAST(min(val) AS INT) AS px_min,
       CAST(max(val) AS INT) AS px_max
FROM v GROUP BY doc_id
""",
    doc="REAL image resize, full cycle on real codecs: synthesize PNG "
        "(all five filters) -> png_decode_pixels -> exact "
        "nearest-neighbor resample to 8x8 (src = dst*src_dim // "
        "dst_dim, pure integer grid) -> RE-ENCODE as PNG -> decode "
        "AGAIN through image_pixel_stats. The oracle predicts the "
        "resized per-channel sums arithmetically by composing the "
        "generator formula with the index map — so one wrong source "
        "index anywhere in decode/resize/encode/redecode "
        "hash-mismatches. Supersedes the byte-striding resize stub "
        "for decodable formats (the stub stays only for codec-bound "
        "JPEG/GIF plumbing). Two Arrow stages, row-local, output "
        "bounded at 8x8x3 bytes per image whatever the input size.",
)
def multimodal_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_pixel_stats,
        png_encode_pixels,
        resize_images_real,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = _gradient_dims(
        fan_out(load(spark, sf_dir, "documents")), 13, 4, 11, 4
    )
    gen = _gradient_image_gen(png_encode_pixels, 31, 7, 13, 101)
    payload = d.mapInPandas(gen, "doc_id long, content binary")
    resized = resize_images_real(payload, 8, 8)
    return image_pixel_stats(
        resized.filter(F.col("content").isNotNull()).select(
            "doc_id", "content"
        )
    )


@query(
    "multimodal_phash_groups",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 13 + 4 AS INT) AS w,
         CAST(n_chars % 11 + 4 AS INT) AS h
  FROM documents),
cells AS (
  SELECT doc_id, w, h, unnest(range(0, 64)) AS k FROM dims),
gray AS (
  SELECT doc_id, k,
         (((doc_id * 31 + ((k % 8) * w // 8) * 7
            + ((k // 8) * h // 8) * 13) % 256)
          + ((doc_id * 31 + ((k % 8) * w // 8) * 7
              + ((k // 8) * h // 8) * 13 + 101) % 256)
          + ((doc_id * 31 + ((k % 8) * w // 8) * 7
              + ((k // 8) * h // 8) * 13 + 202) % 256)) // 3 AS g
  FROM cells),
tot AS (
  SELECT doc_id, CAST(sum(g) AS BIGINT) AS total FROM gray
  GROUP BY doc_id),
hash AS (
  SELECT gray.doc_id,
         CAST(sum(CASE WHEN gray.g * 64 >= tot.total AND gray.k < 32
                       THEN (CAST(1 AS BIGINT) << gray.k)
                       ELSE 0 END) AS BIGINT) AS ahash_lo,
         CAST(sum(CASE WHEN gray.g * 64 >= tot.total AND gray.k >= 32
                       THEN (CAST(1 AS BIGINT) << (gray.k - 32))
                       ELSE 0 END) AS BIGINT) AS ahash_hi
  FROM gray JOIN tot ON tot.doc_id = gray.doc_id
  GROUP BY gray.doc_id)
SELECT ahash_lo, ahash_hi,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc
FROM hash GROUP BY ahash_lo, ahash_hi HAVING count(*) >= 2
""",
    doc="Perceptual-hash duplicate GROUPS on REAL decoded pixels: the "
        "PNG gradient corpus goes through full zlib decode -> integer "
        "grayscale -> exact 8x8 nearest-neighbor downsample -> aHash "
        "(g*64 >= total integer bit rule; two BIGINT halves dodge the "
        "bit-63 sign trap both engines share), and exact-duplicate "
        "groups report (hash, member count, keeper = min doc_id) — "
        "the image-dedup readout in its scale-honest group-by form: "
        "smooth synthetic gradients collapse to few distinct hashes, "
        "so materializing PAIRS would be quadratic in group size "
        "while groups stay O(n). Keeper-selection mirrors "
        "dedup_keep_best. The oracle recomputes gray/resample/bits "
        "arithmetically from the generator formula — a wrong source "
        "index or bit order anywhere hash-mismatches.",
)
def multimodal_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_ahash,
        png_encode_pixels,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = _gradient_dims(
        fan_out(load(spark, sf_dir, "documents")), 13, 4, 11, 4
    )
    gen = _gradient_image_gen(png_encode_pixels, 31, 7, 13, 101)
    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return (
        image_ahash(payload)
        .groupBy("ahash_lo", "ahash_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "multimodal_gif_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 15 + 3 AS INT) AS w,
         CAST(n_chars % 9 + 3 AS INT) AS h
  FROM documents),
cells AS (
  SELECT doc_id, w, h, unnest(range(0, w * h)) AS k FROM dims),
v AS (
  SELECT doc_id, w, h,
         (doc_id * 23 + (k % w) * 3 + (k // w) * 11) % 256 AS g
  FROM cells)
SELECT doc_id, w AS width, h AS height,
       CAST(3 AS INT) AS channels, 'GIF' AS format,
       CAST(count(*) * 3 AS BIGINT) AS n_vals,
       CAST(sum(g) AS BIGINT) AS sum_c0,
       CAST(sum(g) AS BIGINT) AS sum_c1,
       CAST(sum(g) AS BIGINT) AS sum_c2,
       CAST(min(g) AS INT) AS px_min,
       CAST(max(g) AS INT) AS px_max
FROM v GROUP BY doc_id, w, h
""",
    doc="FULL GIF pixel decode — REAL, pure Python: GIF's only "
        "compression is LZW, so a ~60-line variable-width decoder "
        "(table growth, KwKwK self-reference, width bumps, 12-bit "
        "CLEAR resets, little-endian bit unpacking) retires another "
        "image-side 'codec-bound' stub (baseline JPEG followed in "
        "multimodal_jpeg_pixels; video codecs remain). Per doc a "
        "spec-valid GIF87a "
        "(256-entry grayscale global color table, REAL LZW-compressed "
        "index stream in sub-blocks) is synthesized, gif_decode_pixels "
        "walks blocks/extensions, inflates the indices, and maps them "
        "through the palette; the identity-grayscale palette makes "
        "all three channel sums equal — which the oracle asserts, so "
        "a palette-mapping bug mismatches. Same row-local Arrow "
        "pipeline as the PNG/BMP twins; stats/resize/aHash stages "
        "compose with GIF unchanged via the shared dispatch.",
)
def multimodal_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        gif_encode_pixels,
        image_pixel_stats,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = _gradient_dims(
        fan_out(load(spark, sf_dir, "documents")), 15, 3, 9, 3
    )

    # gray single-channel generator (index array, not the RGB gradient
    # helper): pixel(x,y) = (doc_id*23 + x*3 + y*11) % 256
    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for did, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"]):
                did, w, h = int(did), int(w), int(h)
                ys = np.arange(h)[:, None]
                xs = np.arange(w)[None, :]
                g = ((did * 23 + xs * 3 + ys * 11) % 256).astype(np.uint8)
                outs.append(gif_encode_pixels(g))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


# ---------------------------------------------------------------------------
# streaming HDR-histogram quantile serving (round 10)
# ---------------------------------------------------------------------------
@query(
    "stream_hdr_quantiles",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
b AS (
  SELECT event_type,
         (cents >> greatest(0, length(bin(cents)) - 7))
           << greatest(0, length(bin(cents)) - 7) AS rep
  FROM c),
g AS (
  SELECT event_type, rep, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY event_type, rep),
cum AS (
  SELECT event_type, rep, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY rep) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS total
  FROM g)
SELECT event_type, CAST(max(total) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= ceil(0.50 * total) THEN rep END)
            AS BIGINT) AS p50_rep,
       CAST(min(CASE WHEN cum >= ceil(0.95 * total) THEN rep END)
            AS BIGINT) AS p95_rep,
       CAST(min(CASE WHEN cum >= ceil(0.99 * total) THEN rep END)
            AS BIGINT) AS p99_rep
FROM cum GROUP BY event_type
""",
    doc="Streaming quantile serving from a MERGEABLE HDR-style "
        "histogram (round 10 — the percentile-dashboard twin of the "
        "HLL rollup): micro-batches commit partial (type, log2-ranged "
        "7-significant-bit bucket) counts into the keyed parquet store "
        "(bounded at ~64x64 rows per type at ANY volume), and the "
        "serving read answers p50/p95/p99 from the merged cumulative "
        "histogram. The bucket function is pure integer bin/shift "
        "arithmetic — unlike a GK sketch there is no merge-order "
        "nondeterminism — so the drained stream answer is HASH-EXACT "
        "vs the batch oracle computing the same histogram; the "
        "returned bucket lower bound is within 2^-6 relative error of "
        "the true quantile by construction. Complements "
        "lineitem_quantile_sketch (exact-rank audit of Spark's "
        "built-in mergeable summary) with the streaming/serving "
        "store shape.",
)
def stream_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.hdr_quantile_stream(ST.read_events_stream(spark, sf_dir))


# ---------------------------------------------------------------------------
# streaming PSI drift monitor (round 7)
# ---------------------------------------------------------------------------
@query(
    "stream_psi_drift",
    oracle="""
WITH b AS (
  SELECT event_type, value,
         least(CAST(floor(value / 50.0) AS INT), 9) AS bucket,
         epoch_us(ts) AS ts_us,
         (SELECT min(epoch_us(ts))
                 + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2
          FROM events) AS mid_us
  FROM events),
halves AS (
  SELECT event_type, bucket,
         count(*) FILTER (ts_us <= mid_us) AS n_ref,
         count(*) FILTER (ts_us > mid_us) AS n_cur
  FROM b GROUP BY event_type, bucket),
tot AS (
  SELECT event_type,
         CAST(sum(n_ref) AS BIGINT) AS t_ref,
         CAST(sum(n_cur) AS BIGINT) AS t_cur
  FROM halves GROUP BY event_type)
SELECT h.event_type,
       round(sum(
         ((n_cur + 1.0) / (t_cur + 10) - (n_ref + 1.0) / (t_ref + 10))
         * ln(((n_cur + 1.0) / (t_cur + 10))
              / ((n_ref + 1.0) / (t_ref + 10)))), 4) AS psi,
       round(sum(
         ((n_cur + 1.0) / (t_cur + 10) - (n_ref + 1.0) / (t_ref + 10))
         * ln(((n_cur + 1.0) / (t_cur + 10))
              / ((n_ref + 1.0) / (t_ref + 10)))), 4) > 0.2 AS drifted
FROM halves h JOIN tot USING (event_type)
GROUP BY h.event_type
""",
    doc="Streaming twin of events_value_psi: the reference histogram "
        "(pre-midpoint half) is a batch snapshot computed once; the "
        "current histogram is maintained incrementally by "
        "psi_drift_stream — per-micro-batch partial (type, bucket) "
        "counts merged into a stored rollup, never re-reading raw "
        "events — and the serving read joins store + reference "
        "through the identical add-one-smoothed PSI formula, so the "
        "drained stream answer is hash-equal to the batch monitor. "
        "The live model-drift gate: at 100 TB/day the monitor's "
        "incremental cost is one tiny partial agg per batch and the "
        "store is (models x types x 10) rows.",
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    mid_us = e.agg(
        F.expr(
            "min(unix_micros(ts)) + "
            "(max(unix_micros(ts)) - min(unix_micros(ts))) div 2"
        ).alias("m")
    ).collect()[0]["m"]
    ref = (
        e.filter(F.unix_micros("ts") <= mid_us)
        .groupBy(
            "event_type",
            F.least(
                F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)
            ).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ref"))
    )
    return ST.psi_drift_stream(
        ST.read_events_stream(spark, sf_dir), ref, mid_us
    )


# ---------------------------------------------------------------------------
# FULL baseline JPEG pixel decode (round 7)
# ---------------------------------------------------------------------------
@query(
    "multimodal_jpeg_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 4 + 1 AS INT) AS wb,
         CAST(n_chars % 3 + 1 AS INT) AS hb
  FROM documents),
blocks AS (
  SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS k FROM dims),
v AS (
  SELECT doc_id, wb, hb,
         (doc_id * 19 + (k % wb) * 7 + (k // wb) * 13) % 256 AS val
  FROM blocks)
SELECT doc_id,
       CAST(wb * 8 AS INT) AS width,
       CAST(hb * 8 AS INT) AS height,
       CAST(1 AS INT) AS channels, 'JPEG' AS format,
       CAST(wb * hb * 64 AS BIGINT) AS n_vals,
       CAST(sum(val) * 64 AS BIGINT) AS sum_c0,
       CAST(NULL AS BIGINT) AS sum_c1,
       CAST(NULL AS BIGINT) AS sum_c2,
       CAST(min(val) AS INT) AS px_min,
       CAST(max(val) AS INT) AS px_max
FROM v GROUP BY doc_id, wb, hb
""",
    doc="FULL baseline JPEG pixel decode — REAL, library-free "
        "(jpeg_decode_pixels: marker walk, canonical Annex K Huffman "
        "entropy decode with DPCM DC / run-length AC / byte "
        "unstuffing, zigzag dequantization, float 2D IDCT, level "
        "shift + crop): per doc a spec-valid baseline grayscale JPEG "
        "is synthesized by the equally-real encoder "
        "(jpeg_encode_gray — float DCT, full Annex K tables). "
        "Exactness through a LOSSY codec: blocks are CONSTANT-valued "
        "and the quant table is uniform 8s, so the only nonzero "
        "coefficient is DC = v-128, which quantizes losslessly and "
        "reconstructs bit-exact through the float IDCT (error "
        "~1e-13, far below the integer rounding) — the arithmetic "
        "oracle predicts every pixel sum from the block-gradient "
        "formula. General (non-constant) images exercise the same AC "
        "encode/decode paths in the unit suite with a tolerance "
        "bound instead. This retires the image-codec stub list "
        "entirely: PNG, BMP, GIF and baseline JPEG all decode to "
        "real pixels in-container; what remains external is "
        "subsampled/progressive JPEG and video bitstreams. Same "
        "row-local Arrow encode->decode->stats pipeline as the other "
        "pixel twins; stats/resize/aHash compose via the shared "
        "magic-byte dispatch.",
)
def multimodal_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_pixel_stats,
        jpeg_encode_gray,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.col("doc_id") % 4 + 1).cast("int").alias("wb"),
        (F.col("n_chars") % 3 + 1).cast("int").alias("hb"),
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = []
            for did, wb, hb in zip(pdf["doc_id"], pdf["wb"], pdf["hb"]):
                did, wb, hb = int(did), int(wb), int(hb)
                bys = np.arange(hb)[:, None]
                bxs = np.arange(wb)[None, :]
                vals = (did * 19 + bxs * 7 + bys * 13) % 256
                gray = np.kron(vals, np.ones((8, 8), dtype=np.int64))
                outs.append(jpeg_encode_gray(gray))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


# ---------------------------------------------------------------------------
# mixed-format FULL pixel decode in one pass (round 7)
# ---------------------------------------------------------------------------
@query(
    "multimodal_mixed_pixels",
    oracle="""
WITH png AS (
  SELECT doc_id, CAST(doc_id % 13 + 4 AS INT) AS w,
         CAST(n_chars % 11 + 4 AS INT) AS h
  FROM documents WHERE doc_id % 4 = 0),
png_v AS (
  SELECT doc_id, w, h,
         (doc_id * 31 + ((i // 3) % w) * 7
          + (i // (3 * w)) * 13 + (i % 3) * 101) % 256 AS val, i % 3 AS c
  FROM (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM png)),
png_s AS (
  SELECT doc_id, w AS width, h AS height, 3 AS channels, 'PNG' AS format,
         count(*) AS n_vals,
         sum(CASE WHEN c = 0 THEN val END) AS sum_c0,
         sum(CASE WHEN c = 1 THEN val END) AS sum_c1,
         sum(CASE WHEN c = 2 THEN val END) AS sum_c2,
         min(val) AS px_min, max(val) AS px_max
  FROM png_v GROUP BY doc_id, w, h),
bmp AS (
  SELECT doc_id, CAST(doc_id % 9 + 2 AS INT) AS w,
         CAST(n_chars % 7 + 2 AS INT) AS h
  FROM documents WHERE doc_id % 4 = 1),
bmp_v AS (
  SELECT doc_id, w, h,
         (doc_id * 17 + ((i // 3) % w) * 5
          + (i // (3 * w)) * 3 + (i % 3) * 29) % 256 AS val, i % 3 AS c
  FROM (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM bmp)),
bmp_s AS (
  SELECT doc_id, w, h, 3, 'BMP', count(*),
         sum(CASE WHEN c = 0 THEN val END),
         sum(CASE WHEN c = 1 THEN val END),
         sum(CASE WHEN c = 2 THEN val END),
         min(val), max(val)
  FROM bmp_v GROUP BY doc_id, w, h),
gif AS (
  SELECT doc_id, CAST(doc_id % 15 + 3 AS INT) AS w,
         CAST(n_chars % 9 + 3 AS INT) AS h
  FROM documents WHERE doc_id % 4 = 2),
gif_v AS (
  SELECT doc_id, w, h,
         (doc_id * 23 + (k % w) * 3 + (k // w) * 11) % 256 AS g
  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS k FROM gif)),
gif_s AS (
  SELECT doc_id, w, h, 3, 'GIF', count(*) * 3,
         sum(g), sum(g), sum(g), min(g), max(g)
  FROM gif_v GROUP BY doc_id, w, h),
jpg AS (
  SELECT doc_id, CAST(doc_id % 4 + 1 AS INT) AS wb,
         CAST(n_chars % 3 + 1 AS INT) AS hb
  FROM documents WHERE doc_id % 8 = 3),
jpg_v AS (
  SELECT doc_id, wb, hb,
         (doc_id * 19 + (k % wb) * 7 + (k // wb) * 13) % 256 AS val
  FROM (SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS k FROM jpg)),
jpg_s AS (
  SELECT doc_id, wb * 8, hb * 8, 1, 'JPEG', wb * hb * 64,
         sum(val) * 64, NULL, NULL, min(val), max(val)
  FROM jpg_v GROUP BY doc_id, wb, hb),
cjp AS (
  SELECT doc_id, CAST(doc_id % 4 + 1 AS INT) AS wb,
         CAST(n_chars % 3 + 1 AS INT) AS hb
  FROM documents WHERE doc_id % 8 = 7),
cjp_y AS (
  SELECT doc_id, wb, hb,
         (doc_id * 19 + (k % wb) * 7 + (k // wb) * 13) % 256 AS y,
         (doc_id * 29 + (k % wb) * 11 + (k // wb) * 5) % 256 - 128 AS cb,
         (doc_id * 37 + (k % wb) * 3 + (k // wb) * 17) % 256 - 128 AS cr
  FROM (SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS k FROM cjp)),
cjp_rgb AS (
  SELECT doc_id, wb, hb,
    LEAST(255, GREATEST(0,
      ((y*65536 + 91881*cr + 32768 + 16777216) // 65536) - 256)) AS r,
    LEAST(255, GREATEST(0,
      ((y*65536 - 22554*cb - 46802*cr + 32768 + 16777216) // 65536) - 256)) AS g,
    LEAST(255, GREATEST(0,
      ((y*65536 + 116130*cb + 32768 + 16777216) // 65536) - 256)) AS b
  FROM cjp_y),
cjp_s AS (
  SELECT doc_id, wb * 16, hb * 16, 3, 'JPEG', wb * hb * 768,
         sum(r) * 256, sum(g) * 256, sum(b) * 256,
         min(LEAST(r, g, b)), max(GREATEST(r, g, b))
  FROM cjp_rgb GROUP BY doc_id, wb, hb),
allrows AS (
  SELECT * FROM png_s UNION ALL SELECT * FROM bmp_s
  UNION ALL SELECT * FROM gif_s UNION ALL SELECT * FROM jpg_s
  UNION ALL SELECT * FROM cjp_s)
SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(channels AS INT) AS channels, format,
       CAST(n_vals AS BIGINT) AS n_vals,
       CAST(sum_c0 AS BIGINT) AS sum_c0,
       CAST(sum_c1 AS BIGINT) AS sum_c1,
       CAST(sum_c2 AS BIGINT) AS sum_c2,
       CAST(px_min AS INT) AS px_min, CAST(px_max AS INT) AS px_max
FROM allrows
""",
    doc="Mixed-manifest FULL pixel decode: one binary column carrying "
        "five container layouts (doc_id mod 4 -> PNG / BMP / GIF / "
        "baseline JPEG, the JPEG lane further split mod 8 into "
        "grayscale and 3-component 4:2:0 color, each synthesized by "
        "its real encoder with its own gradient formula) flows "
        "through ONE image_pixel_stats "
        "pass — the shared magic-byte dispatch picks the right REAL "
        "decoder per row, so the production shape 'a crawl dump is "
        "never one format' needs no per-format branching in the plan. "
        "The oracle unions the four per-format arithmetic predictions "
        "(incl. JPEG's lossless-DC construction and GIF's palette "
        "triplication), so a dispatch bug that routed a payload to "
        "the wrong decoder errors or mismatches instead of passing. "
        "Extends multimodal_mixed_manifest (header-level sniff) to "
        "the pixel level. Row-local Arrow end to end; no shuffle "
        "before the stats frame.",
)
def multimodal_mixed_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        bmp_encode_pixels,
        gif_encode_pixels,
        image_pixel_stats,
        jpeg_encode_gray,
        jpeg_encode_ycbcr,
        png_encode_pixels,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars"
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        def rgb(did, w, h, m_id, m_x, m_y, m_c):
            ys = np.arange(h)[:, None, None]
            xs = np.arange(w)[None, :, None]
            cs = np.arange(3)[None, None, :]
            return (
                (did * m_id + xs * m_x + ys * m_y + cs * m_c) % 256
            ).astype(np.uint8)

        for pdf in batches:
            outs = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                did, nc = int(did), int(nc)
                kind = did % 4
                if kind == 0:
                    w, h = did % 13 + 4, nc % 11 + 4
                    px = rgb(did, w, h, 31, 7, 13, 101)
                    outs.append(png_encode_pixels(px.reshape(h, w * 3)))
                elif kind == 1:
                    w, h = did % 9 + 2, nc % 7 + 2
                    px = rgb(did, w, h, 17, 5, 3, 29)
                    outs.append(bmp_encode_pixels(px.reshape(h, w * 3)))
                elif kind == 2:
                    w, h = did % 15 + 3, nc % 9 + 3
                    ys = np.arange(h)[:, None]
                    xs = np.arange(w)[None, :]
                    g = ((did * 23 + xs * 3 + ys * 11) % 256).astype(
                        np.uint8
                    )
                    outs.append(gif_encode_pixels(g))
                elif did % 8 == 3:
                    wb, hb = did % 4 + 1, nc % 3 + 1
                    bys = np.arange(hb)[:, None]
                    bxs = np.arange(wb)[None, :]
                    vals = (did * 19 + bxs * 7 + bys * 13) % 256
                    outs.append(
                        jpeg_encode_gray(
                            np.kron(vals, np.ones((8, 8), dtype=np.int64))
                        )
                    )
                else:  # did % 8 == 7: 3-component 4:2:0 color JPEG
                    wb, hb = did % 4 + 1, nc % 3 + 1
                    mys = np.arange(hb)[:, None]
                    mxs = np.arange(wb)[None, :]
                    yv = (did * 19 + mxs * 7 + mys * 13) % 256
                    cbv = (did * 29 + mxs * 11 + mys * 5) % 256
                    crv = (did * 37 + mxs * 3 + mys * 17) % 256
                    one16 = np.ones((16, 16), dtype=np.int64)
                    one8 = np.ones((8, 8), dtype=np.int64)
                    outs.append(
                        jpeg_encode_ycbcr(
                            np.kron(yv, one16),
                            np.kron(cbv, one8),
                            np.kron(crv, one8),
                            subsample="420",
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


# ---------------------------------------------------------------------------
# streaming transition matrix with cross-batch state (round 7)
# ---------------------------------------------------------------------------
@query(
    "stream_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events),
m AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm
FROM m
""",
    doc="Streaming twin of events_transition_matrix with REAL "
        "cross-batch state: the events table is re-sliced into three "
        "time-ordered files drained at one file per trigger, so "
        "roughly a third of all per-user transitions SPAN a "
        "micro-batch boundary — a per-batch lag() would silently drop "
        "every one of them. transition_matrix_stream carries each "
        "user's last (ts, event_id, type) as keyed state into the "
        "next batch; the drained matrix is hash-equal to the batch "
        "window over full history, which is the proof the carry "
        "logic loses nothing. The path-model maintenance shape for a "
        "live product-analytics funnel.",
)
def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import glob as globmod
    import shutil
    import tempfile

    e = load_events(spark, sf_dir)
    b = e.agg(
        F.expr(
            "min(unix_micros(ts)) + "
            "(max(unix_micros(ts)) - min(unix_micros(ts))) div 3"
        ).alias("t1"),
        F.expr(
            "min(unix_micros(ts)) + "
            "2 * ((max(unix_micros(ts)) - min(unix_micros(ts))) div 3)"
        ).alias("t2"),
    ).collect()[0]
    t1, t2 = b["t1"], b["t2"]
    us = F.unix_micros(F.col("ts"))
    d = tempfile.mkdtemp(prefix="trans_slices_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    # ONE pass over events writes all three time slices via a
    # directory-partitioned write (r13, guide §2.4 — the per-slice
    # filter+write loop scanned the table three times for the same
    # bytes). coalesce(1) guarantees exactly one part file per slice
    # dir (the flat-copy below requires it); the partition column is
    # directory-encoded, so each part file carries the original
    # events schema. The partitioned tree lives OUTSIDE the stream
    # source dir — partition discovery over `d` must see flat files
    # only.
    w = tempfile.mkdtemp(prefix="trans_sliced_")
    atexit.register(shutil.rmtree, w, ignore_errors=True)
    e.withColumn(
        "__w", F.when(us <= t1, 0).when(us <= t2, 1).otherwise(2)
    ).coalesce(1).write.partitionBy("__w").mode("overwrite").parquet(w)
    import os as _os
    import time as _time

    base = _time.time()
    for i in range(3):
        parts = globmod.glob(f"{w}/__w={i}/part-*.parquet")
        if not parts:
            continue  # an empty slice (all ts equal) carries no events
        part = parts[0]
        # flat file name: the file source orders triggers by mtime, so
        # PIN strictly increasing mtimes (000..002) — the one-pass
        # write copies all three back-to-back, and same-millisecond
        # copies would leave the cross-batch arrival order (which the
        # carry logic requires) to listing luck
        dst = f"{d}/events_{i:03d}.parquet"
        shutil.copy(part, dst)
        _os.utime(dst, (base + i, base + i))
    stream = ST.read_events_stream(
        spark, d, glob="events_*.parquet", max_files_per_trigger=1
    )
    return ST.transition_matrix_stream(stream)


# ---------------------------------------------------------------------------
# 3-component 4:2:0 color JPEG pixel decode (round 8)
# ---------------------------------------------------------------------------
@query(
    "multimodal_jpeg_color_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id, CAST(doc_id % 4 + 1 AS INT) AS wb,
         CAST(n_chars % 3 + 1 AS INT) AS hb
  FROM documents),
ycc AS (
  SELECT doc_id, wb, hb,
         (doc_id * 19 + (k % wb) * 7 + (k // wb) * 13) % 256 AS y,
         (doc_id * 29 + (k % wb) * 11 + (k // wb) * 5) % 256 - 128 AS cb,
         (doc_id * 37 + (k % wb) * 3 + (k // wb) * 17) % 256 - 128 AS cr
  FROM (SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS k FROM dims)),
rgb AS (
  SELECT doc_id, wb, hb,
    LEAST(255, GREATEST(0,
      ((y*65536 + 91881*cr + 32768 + 16777216) // 65536) - 256)) AS r,
    LEAST(255, GREATEST(0,
      ((y*65536 - 22554*cb - 46802*cr + 32768 + 16777216) // 65536) - 256)) AS g,
    LEAST(255, GREATEST(0,
      ((y*65536 + 116130*cb + 32768 + 16777216) // 65536) - 256)) AS b
  FROM ycc)
SELECT doc_id,
       CAST(wb * 16 AS INT) AS width,
       CAST(hb * 16 AS INT) AS height,
       CAST(3 AS INT) AS channels, 'JPEG' AS format,
       CAST(wb * hb * 768 AS BIGINT) AS n_vals,
       CAST(sum(r) * 256 AS BIGINT) AS sum_c0,
       CAST(sum(g) * 256 AS BIGINT) AS sum_c1,
       CAST(sum(b) * 256 AS BIGINT) AS sum_c2,
       CAST(min(LEAST(r, g, b)) AS INT) AS px_min,
       CAST(max(GREATEST(r, g, b)) AS INT) AS px_max
FROM rgb GROUP BY doc_id, wb, hb
""",
    doc="FULL 3-component 4:2:0 COLOR JPEG pixel decode (round 8 — "
        "closes the 'baseline codec is grayscale-only' gap): per doc "
        "jpeg_encode_ycbcr synthesizes an interleaved YCbCr 4:2:0 "
        "stream (the layout of virtually every camera/web JPEG: 4 Y "
        "blocks + Cb + Cr per MCU, chroma at half resolution, "
        "separate Huffman table ids for luma and chroma) and "
        "jpeg_decode_pixels runs the real interleaved-MCU entropy "
        "decode, replicate-upsamples the chroma planes, and applies "
        "libjpeg's fixed-point JFIF YCbCr->RGB matrix in pure integer "
        "arithmetic. Exactness through a LOSSY, SUBSAMPLED codec: "
        "MCUs are constant 16x16 macroblocks, so Y and the half-res "
        "chroma blocks are all DC-only (lossless under the uniform-8 "
        "quant table) and nearest-neighbor upsampling of a constant "
        "is exact — the only remaining arithmetic is the fixed-point "
        "color matrix, which the DuckDB oracle reproduces bit-for-bit "
        "with the same (x + 32768 + bias) // 65536 integer form. Same "
        "row-local Arrow encode->decode->stats pipeline as the "
        "grayscale twin; no shuffle before the stats frame.",
)
def multimodal_jpeg_color_pixels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_pixel_stats,
        jpeg_encode_ycbcr,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.col("doc_id") % 4 + 1).cast("int").alias("wb"),
        (F.col("n_chars") % 3 + 1).cast("int").alias("hb"),
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        one16 = np.ones((16, 16), dtype=np.int64)
        one8 = np.ones((8, 8), dtype=np.int64)
        for pdf in batches:
            outs = []
            for did, wb, hb in zip(pdf["doc_id"], pdf["wb"], pdf["hb"]):
                did, wb, hb = int(did), int(wb), int(hb)
                mys = np.arange(hb)[:, None]
                mxs = np.arange(wb)[None, :]
                yv = (did * 19 + mxs * 7 + mys * 13) % 256
                cbv = (did * 29 + mxs * 11 + mys * 5) % 256
                crv = (did * 37 + mxs * 3 + mys * 17) % 256
                outs.append(
                    jpeg_encode_ycbcr(
                        np.kron(yv, one16),
                        np.kron(cbv, one8),
                        np.kron(crv, one8),
                        subsample="420",
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


# ---------------------------------------------------------------------------
# PROGRESSIVE (SOF2) color JPEG pixel decode (round 9)
# ---------------------------------------------------------------------------
@query(
    "multimodal_jpeg_progressive_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id, CAST(doc_id % 4 + 1 AS INT) AS wb,
         CAST(n_chars % 3 + 1 AS INT) AS hb
  FROM documents),
ycc AS (
  SELECT doc_id, wb, hb,
         (doc_id * 23 + (k % wb) * 9 + (k // wb) * 3) % 256 AS y,
         (doc_id * 31 + (k % wb) * 13 + (k // wb) * 7) % 256 - 128 AS cb,
         (doc_id * 41 + (k % wb) * 5 + (k // wb) * 11) % 256 - 128 AS cr
  FROM (SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS k FROM dims)),
rgb AS (
  SELECT doc_id, wb, hb,
    LEAST(255, GREATEST(0,
      ((y*65536 + 91881*cr + 32768 + 16777216) // 65536) - 256)) AS r,
    LEAST(255, GREATEST(0,
      ((y*65536 - 22554*cb - 46802*cr + 32768 + 16777216) // 65536) - 256)) AS g,
    LEAST(255, GREATEST(0,
      ((y*65536 + 116130*cb + 32768 + 16777216) // 65536) - 256)) AS b
  FROM ycc)
SELECT doc_id,
       CAST(wb * 16 AS INT) AS width,
       CAST(hb * 16 AS INT) AS height,
       CAST(3 AS INT) AS channels, 'JPEG' AS format,
       CAST(wb * hb * 768 AS BIGINT) AS n_vals,
       CAST(sum(r) * 256 AS BIGINT) AS sum_c0,
       CAST(sum(g) * 256 AS BIGINT) AS sum_c1,
       CAST(sum(b) * 256 AS BIGINT) AS sum_c2,
       CAST(min(LEAST(r, g, b)) AS INT) AS px_min,
       CAST(max(GREATEST(r, g, b)) AS INT) AS px_max
FROM rgb GROUP BY doc_id, wb, hb
""",
    doc="PROGRESSIVE (SOF2) color JPEG pixel decode (round 9 — closes "
        "the last codec boundary the r8 VERDICT named: 'a large share "
        "of web-crawled JPEGs are progressive'): per doc "
        "jpeg_encode_progressive emits a REAL multi-scan 4:2:0 stream "
        "— interleaved DC scan, then per-component full-band AC scans "
        "— with doc_id parity alternating between the spectral-"
        "selection-only script and the successive-approximation "
        "script (Al=1 first scans + DC/AC refinement scans running "
        "the T.81 G.1.2.3 correction-bit algorithm with EOB runs), "
        "so BOTH progressive modes are under the value-checked gate "
        "on every run. jpeg_decode_pixels detects SOF2 and "
        "accumulates coefficients across scans before one IDCT pass. "
        "Exactness through the lossy multi-scan codec: constant 16x16 "
        "macroblocks are DC-only, every AC scan degenerates to EOB "
        "runs, successive approximation reassembles the DC bits "
        "exactly, and the only remaining arithmetic is the shared "
        "fixed-point JFIF matrix the oracle reproduces bit-for-bit. "
        "Different gradient constants from the baseline color twin, "
        "so a dispatch mix-up cannot accidentally pass. Entropy "
        "semantics cross-validated against the JDK ImageIO codec in "
        "tests/test_jpeg.py (both directions).",
)
def multimodal_jpeg_progressive_pixels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_pixel_stats,
        jpeg_encode_progressive,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.col("doc_id") % 4 + 1).cast("int").alias("wb"),
        (F.col("n_chars") % 3 + 1).cast("int").alias("hb"),
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        one16 = np.ones((16, 16), dtype=np.int64)
        one8 = np.ones((8, 8), dtype=np.int64)
        for pdf in batches:
            outs = []
            for did, wb, hb in zip(pdf["doc_id"], pdf["wb"], pdf["hb"]):
                did, wb, hb = int(did), int(wb), int(hb)
                mys = np.arange(hb)[:, None]
                mxs = np.arange(wb)[None, :]
                yv = (did * 23 + mxs * 9 + mys * 3) % 256
                cbv = (did * 31 + mxs * 13 + mys * 7) % 256
                crv = (did * 41 + mxs * 5 + mys * 11) % 256
                outs.append(
                    jpeg_encode_progressive(
                        np.kron(yv, one16),
                        np.kron(cbv, one8),
                        np.kron(crv, one8),
                        subsample="420",
                        successive=(did % 2 == 0),
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


# ---------------------------------------------------------------------------
# restart-marker (DRI) JPEG decode against the exact oracle (round 8)
# ---------------------------------------------------------------------------
@query(
    "multimodal_jpeg_dri_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 5 + 1 AS INT) AS wb,
         CAST(n_chars % 4 + 1 AS INT) AS hb
  FROM documents),
v AS (
  SELECT doc_id, wb, hb,
         (doc_id * 41 + (k % wb) * 5 + (k // wb) * 3) % 256 AS val
  FROM (SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS k FROM dims))
SELECT doc_id,
       CAST(wb * 8 AS INT) AS width,
       CAST(hb * 8 AS INT) AS height,
       CAST(1 AS INT) AS channels, 'JPEG' AS format,
       CAST(wb * hb * 64 AS BIGINT) AS n_vals,
       CAST(sum(val) * 64 AS BIGINT) AS sum_c0,
       CAST(NULL AS BIGINT) AS sum_c1,
       CAST(NULL AS BIGINT) AS sum_c2,
       CAST(min(val) AS INT) AS px_min,
       CAST(max(val) AS INT) AS px_max
FROM v GROUP BY doc_id, wb, hb
""",
    doc="Restart-marker (DRI) JPEG decode against the exact arithmetic "
        "oracle (round 8): per doc the encoder emits a DRI segment and "
        "byte-aligned RSTn markers every doc_id % 3 + 1 MCUs (D0-D7 "
        "cycling, DC predictor reset), so images up to 5x4 MCUs carry "
        "many interval boundaries at varying phases. This is the "
        "regression query for the round-8 _BitReader fix: the old "
        "fill loop consumed RSTn while unconsumed data bits from the "
        "previous interval were still buffered — a spec-valid DRI=1 "
        "stream raised 'huffman code overrun'; the reader now stops "
        "at every marker and the decode loop byte-aligns + consumes "
        "the RSTn at interval boundaries driven by the DRI count. "
        "Restart markers change framing, never pixels, so the oracle "
        "is the same block-constant prediction as the no-DRI twin "
        "(different gradient constants so a cross-wired query cannot "
        "accidentally pass). Real-world relevance: restart markers "
        "appear in most camera JPEGs precisely so parallel/resilient "
        "decoders can resync — a decoder that chokes on them fails "
        "the first crawl shard it meets.",
)
def multimodal_jpeg_dri_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_pixel_stats,
        jpeg_encode_gray,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.col("doc_id") % 5 + 1).cast("int").alias("wb"),
        (F.col("n_chars") % 4 + 1).cast("int").alias("hb"),
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        one8 = np.ones((8, 8), dtype=np.int64)
        for pdf in batches:
            outs = []
            for did, wb, hb in zip(pdf["doc_id"], pdf["wb"], pdf["hb"]):
                did, wb, hb = int(did), int(wb), int(hb)
                bys = np.arange(hb)[:, None]
                bxs = np.arange(wb)[None, :]
                vals = (did * 41 + bxs * 5 + bys * 3) % 256
                outs.append(
                    jpeg_encode_gray(
                        np.kron(vals, one8),
                        restart_interval=did % 3 + 1,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


# ---------------------------------------------------------------------------
# 4:2:2 color JPEG pixel decode (round 8)
# ---------------------------------------------------------------------------
@query(
    "multimodal_jpeg_422_pixels",
    oracle="""
WITH dims AS (
  SELECT doc_id, CAST(doc_id % 3 + 1 AS INT) AS wb,
         CAST(n_chars % 4 + 1 AS INT) AS hb
  FROM documents),
ycc AS (
  SELECT doc_id, wb, hb,
         (doc_id * 23 + (k % wb) * 9 + (k // wb) * 11) % 256 AS y,
         (doc_id * 31 + (k % wb) * 13 + (k // wb) * 7) % 256 - 128 AS cb,
         (doc_id * 43 + (k % wb) * 5 + (k // wb) * 19) % 256 - 128 AS cr
  FROM (SELECT doc_id, wb, hb, unnest(range(0, wb * hb)) AS k FROM dims)),
rgb AS (
  SELECT doc_id, wb, hb,
    LEAST(255, GREATEST(0,
      ((y*65536 + 91881*cr + 32768 + 16777216) // 65536) - 256)) AS r,
    LEAST(255, GREATEST(0,
      ((y*65536 - 22554*cb - 46802*cr + 32768 + 16777216) // 65536) - 256)) AS g,
    LEAST(255, GREATEST(0,
      ((y*65536 + 116130*cb + 32768 + 16777216) // 65536) - 256)) AS b
  FROM ycc)
SELECT doc_id,
       CAST(wb * 16 AS INT) AS width,
       CAST(hb * 8 AS INT) AS height,
       CAST(3 AS INT) AS channels, 'JPEG' AS format,
       CAST(wb * hb * 384 AS BIGINT) AS n_vals,
       CAST(sum(r) * 128 AS BIGINT) AS sum_c0,
       CAST(sum(g) * 128 AS BIGINT) AS sum_c1,
       CAST(sum(b) * 128 AS BIGINT) AS sum_c2,
       CAST(min(LEAST(r, g, b)) AS INT) AS px_min,
       CAST(max(GREATEST(r, g, b)) AS INT) AS px_max
FROM rgb GROUP BY doc_id, wb, hb
""",
    doc="4:2:2 color JPEG pixel decode (round 8): the broadcast-video "
        "chroma layout — full-height, half-width chroma, two Y blocks "
        "per MCU — through the same generic interleaved-MCU decode "
        "path as 4:2:0, with horizontal-only chroma upsampling. MCUs "
        "are constant 8x16 macroblocks (128 pixels each), so the "
        "whole lossy pipeline is DC-only-exact and the DuckDB oracle "
        "predicts every RGB value through the shared fixed-point "
        "matrix. Together with the 4:2:0 and 4:4:4 queries this "
        "covers all three chroma layouts a crawl actually contains; "
        "a decoder wired to assume 2x2 sampling would mismatch here.",
)
def multimodal_jpeg_422_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from advanced_strapi_import_spark.operators.multimodal import (
        image_pixel_stats,
        jpeg_encode_ycbcr,
    )
    from advanced_strapi_import_spark.plans.registry import fan_out

    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id",
        (F.col("doc_id") % 3 + 1).cast("int").alias("wb"),
        (F.col("n_chars") % 4 + 1).cast("int").alias("hb"),
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        oy = np.ones((8, 16), dtype=np.int64)
        oc = np.ones((8, 8), dtype=np.int64)
        for pdf in batches:
            outs = []
            for did, wb, hb in zip(pdf["doc_id"], pdf["wb"], pdf["hb"]):
                did, wb, hb = int(did), int(wb), int(hb)
                mys = np.arange(hb)[:, None]
                mxs = np.arange(wb)[None, :]
                yv = (did * 23 + mxs * 9 + mys * 11) % 256
                cbv = (did * 31 + mxs * 13 + mys * 7) % 256
                crv = (did * 43 + mxs * 5 + mys * 19) % 256
                outs.append(
                    jpeg_encode_ycbcr(
                        np.kron(yv, oy),
                        np.kron(cbv, oc),
                        np.kron(crv, oc),
                        subsample="422",
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": outs})

    payload = d.mapInPandas(gen, "doc_id long, content binary")
    return image_pixel_stats(payload)


# ---------------------------------------------------------------------------
# streaming two-sample monitor (round 8)
# ---------------------------------------------------------------------------
from advanced_strapi_import_spark.plans.parity_analytics import (  # noqa: E402
    WELCH_ORACLE,
    welch_cents_moments,
    welch_t_from_moments,
)


@query(
    "stream_welch_ttest",
    oracle=WELCH_ORACLE,
    doc="Streaming twin of events_welch_ttest — the live A/B readout "
        "shape: the event stream maintains per-arm (n, sum, sum-of-"
        "squares) in integer cents as a complete-mode streaming "
        "aggregate (built-in state, mergeable partials — the moments "
        "any SQL engine can keep incrementally), and the t statistic "
        "is formed from the drained final state by the SAME shared "
        "helper (welch_t_from_moments) and checked against the SAME "
        "shared oracle constant as the batch query — one expression "
        "tree, one oracle, zero drift possible between the twins "
        "(round-8 review consolidation). The drain is hash-equal to "
        "the batch/DuckDB answer. At scale the state is 2 rows; the "
        "stream never shuffles more than its partial aggregates.",
)
def stream_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ST.read_events_stream(spark, sf_dir)
    g = welch_cents_moments(stream)
    drained = ST.run_available_now(g, no_data_batch=False)
    return welch_t_from_moments(drained)
