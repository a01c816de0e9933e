"""Extended operator surface: as-of / range joins, streaming replays, and
multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.asof import asof_join, range_join
from ..session_cache import memo, replace
from . import register
from .common import T, store_fixture

_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@register(
    "asof_join_last_click",
    sql=f"""
    SELECT e.event_id, e.user_id,
      strftime((SELECT MAX(c.ts) FROM events c
                WHERE c.user_id = e.user_id AND c.event_type = 'click'
                  AND c.ts <= e.ts), '{_TS_FMT_DUCK}') AS last_click_ts
    FROM events e WHERE e.event_type = 'error'
    """,
    tags=("join", "asof", "events"),
)
def asof_join_last_click(spark, sf_dir):
    """As-of join: for each error event, the most recent prior click of
    the same user. Implemented as union+window (one shuffle) — the oracle
    states the same semantics as a correlated MAX subquery."""
    ev = T(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_value="click_ts",
        out_col="last_click",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("last_click", _TS_FMT_SPARK).alias("last_click_ts"),
    )


@register(
    "range_join_value_buckets",
    sql="""
    SELECT b.bucket, COUNT(e.event_id) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM events e
    JOIN (VALUES ('low', 0.0, 5.0), ('mid', 5.0, 10.0), ('high', 10.0, 100.0))
         AS b(bucket, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket
    """,
    tags=("join", "range", "events"),
)
def range_join_value_buckets(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 10.0), ("high", 10.0, 100.0)],
        "bucket string, lo double, hi double",
    )
    joined = range_join(ev, buckets, "value", "lo", "hi")
    return joined.groupBy("bucket").agg(
        F.count("event_id").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
    )


_FMT = "yyyy-MM-dd HH:mm:ss"
_DFMT = "%Y-%m-%d %H:%M:%S"


@register(
    "streaming_tumbling_replay",
    sql=f"""
    SELECT strftime(date_trunc('hour', ts), '{_DFMT}') AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "events"),
)
def streaming_tumbling_replay(spark, sf_dir):
    """Watermarked tumbling-window aggregation through a REAL Structured
    Streaming replay (Trigger.AvailableNow). On a bounded replay the
    final complete-mode state equals the batch window aggregate, and the
    decimal value sum is arrival-order-independent — so the batch twin's
    SQL is an exact oracle for the streamed result."""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now, tumbling_counts

    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    name = "tumbling_" + uuid.uuid4().hex[:8]
    out = run_available_now(stream, name, mode="complete")
    return out.select(
        F.date_format("window_start", _FMT).alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "streaming_session_replay",
    sql=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '{_DFMT}') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '{_DFMT}') AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    tags=("streaming", "events", "sessionization"),
)
def streaming_session_replay(spark, sf_dir):
    """Gap-based session windows per user through a real Structured
    Streaming replay. Oracle: gap-break sessionization in plain SQL —
    session_window's [first_ts, last_ts + gap) interval per session.
    (Boundary convention, MEASURED: Spark's session_window merges an
    event arriving exactly `gap` after the previous one into the same
    session — the interval overlap test is inclusive at the boundary —
    so the oracle's break condition is strictly `>`. Verified against an
    exactly-1800s pair in the sf0.1 fixture, where `>=` splits one
    session too many.)"""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now, session_counts

    stream = session_counts(read_events_stream(spark, sf_dir))
    name = "session_" + uuid.uuid4().hex[:8]
    out = run_available_now(stream, name, mode="complete")
    return out.select(
        "user_id",
        F.date_format("session_start", _FMT).alias("session_start"),
        F.date_format("session_end", _FMT).alias("session_end"),
        "n_events",
    )


@register(
    "streaming_dedup_replay",
    sql="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "events", "dedup"),
)
def streaming_dedup_replay(spark, sf_dir):
    """Stateful dropDuplicatesWithinWatermark replay. The SURVIVING KEY
    SET is deterministic (exactly one row per key) and is what the oracle
    checks; which physical row survives depends on arrival order (by
    design — first-seen-wins), so non-key columns stay internal."""
    import uuid

    from ..streaming.events import (
        dedup_latest_within_watermark,
        read_events_stream,
        run_available_now,
    )

    stream = dedup_latest_within_watermark(read_events_stream(spark, sf_dir))
    name = "dedup_" + uuid.uuid4().hex[:8]
    out = run_available_now(stream, name, mode="append")
    return out.select("user_id", "event_type")


@register(
    "streaming_stateful_user_stats",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_errors
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "events", "stateful", "pandas-udf"),
)
def streaming_stateful_user_stats(spark, sf_dir):
    """Custom per-key stateful accumulator (applyInPandasWithState):
    lifetime event/value/error totals per user. The integer-cents state
    makes the emitted sums arrival-order-independent, so the batch
    groupBy twin is an exact oracle for the final update-mode state."""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now
    from ..streaming.stateful import running_user_stats

    stream = running_user_stats(read_events_stream(spark, sf_dir))
    name = "stateful_" + uuid.uuid4().hex[:8]
    return run_available_now(stream, name, mode="update")


# the fake-feature kernel folds (acc*31 + byte) % 997 over payload bytes,
# one accumulator per dim (byte position mod 8). documents.text is pure
# ASCII (asserted in tests), so ascii(char) == byte and the oracle can
# replay the fold with a filtered list comprehension per dim.
_MM_DIMS = 8
_MM_FOLD = ",\n      ".join(
    f"""list_reduce(list_prepend(0,
        [ascii(substr(text, i + 1, 1)) for i in range(0, length(text)) if i % {_MM_DIMS} = {d}]),
        (a, b) -> (a * 31 + b) % 997)"""
    for d in range(_MM_DIMS)
)

_MM_TYPE = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png' "
    "WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END"
)


@register(
    "multimodal_features",
    sql=f"""
    SELECT doc_id,
           {_MM_TYPE} AS media_type,
           CAST(length(text) AS INT) AS n_bytes,
           md5(array_to_string([{_MM_FOLD}], ',')) AS feat_fp
    FROM documents
    """,
    tags=("multimodal", "pandas-udf"),
)
def multimodal_features(spark, sf_dir):
    """Binary-payload feature extraction via Arrow-batched mapInPandas
    (deterministic stub kernel — codec libs not in container).

    The float feature vector is the internal API; the catalog edge emits
    an integer-exact md5 fingerprint of it (features are v/997 with
    integer v, so round(x*997) recovers v losslessly through float32) —
    arrays are not hashable by the driver's checker, fingerprints are.
    """
    from ..multimodal import attach_fake_media, extract_features

    media = attach_fake_media(T(spark, sf_dir, "documents", parallel=True))
    feats = extract_features(media, decode="fake")
    ints = F.transform(
        "feat", lambda x: F.round(x.cast("double") * 997).cast("int").cast("string")
    )
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.md5(F.concat_ws(",", ints).cast("binary")).alias("feat_fp"),
    )


@register(
    "multimodal_frame_sample",
    sql="""
    WITH v AS (
      SELECT doc_id, text,
             CAST(CEIL(GREATEST(length(text), 1) / 64.0) AS BIGINT) AS n_frames
      FROM documents WHERE doc_id % 3 = 2)
    SELECT doc_id, CAST(k AS INT) AS frame_idx,
           md5(substr(text, CAST(k * 64 + 1 AS INT), 64)) AS frame_md5
    FROM v CROSS JOIN LATERAL unnest(range(0, n_frames)) AS t(k)
    """,
    tags=("multimodal", "pandas-udf"),
)
def multimodal_frame_sample(spark, sf_dir):
    """1:N frame explosion inside mapInPandas; the catalog edge emits
    md5(frame_bytes) so the row set is hashable and the oracle replays
    the same byte-windowing with substr (ASCII payloads: chars==bytes)."""
    from ..multimodal import attach_fake_media, sample_frames

    media = attach_fake_media(T(spark, sf_dir, "documents", parallel=True))
    frames = sample_frames(media)
    return frames.select(
        "doc_id", "frame_idx", F.md5("frame_bytes").alias("frame_md5")
    )


@register(
    "multimodal_decode_real",
    sql="""
    WITH px AS (
      SELECT doc_id, k, (doc_id * 31 + k * 7) % 256 AS v
      FROM documents CROSS JOIN LATERAL unnest(range(0, 48)) AS t(k)
    )
    SELECT doc_id,
           CAST(MIN(v) AS DOUBLE) / 255.0 AS px_min,
           CAST(MAX(v) AS DOUBLE) / 255.0 AS px_max,
           CAST(SUM(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS DOUBLE) / 4080.0 AS mean_r,
           CAST(SUM(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS DOUBLE) / 4080.0 AS mean_g,
           CAST(SUM(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS DOUBLE) / 4080.0 AS mean_b
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "decode"),
)
def multimodal_decode_real(spark, sf_dir):
    """REAL image decode, end-to-end and oracle-checked: per document a
    deterministic 4x4 RGB image (byte k = (doc_id*31 + 7k) mod 256) is
    encoded to an uncompressed BMP and decoded back by the pure-stdlib
    codec inside an Arrow-batched mapInPandas kernel; the emitted
    channel statistics are integer-exact (single IEEE division), so the
    DuckDB oracle reproduces them arithmetically without any codec.
    At 100 TB this is the decode→feature stage shape: payload bytes stay
    in Arrow batches, one Python worker per partition, no JVM round trip
    per row."""
    from collections.abc import Iterator

    import pandas as pd

    from ..multimodal import _real_features, encode_bmp24

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = (
        "doc_id bigint, px_min double, px_max double, "
        "mean_r double, mean_g double, mean_b double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "px_min", "px_max", "mean_r", "mean_g", "mean_b"]
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                pix = bytes((d * 31 + k * 7) % 256 for k in range(48))
                f = _real_features(encode_bmp24(4, 4, pix))
                rows.append((d, f[3], f[4], f[5], f[6], f[7]))
            yield pd.DataFrame(rows, columns=cols).astype(
                {"doc_id": "int64", **{c: "float64" for c in cols[1:]}}
            )

    return docs.mapInPandas(kernel, schema=out_schema)


@register(
    "multimodal_decode_jpeg",
    sql="""
    WITH px AS (
      SELECT doc_id, bi, ((doc_id * 31 + bi * 37) % 128) * 2 AS v
      FROM documents CROSS JOIN LATERAL unnest(range(0, 4)) AS t(bi)
    )
    SELECT doc_id,
           CAST(MIN(v) AS DOUBLE) / 255.0 AS px_min,
           CAST(MAX(v) AS DOUBLE) / 255.0 AS px_max,
           CAST(SUM(v) * 64 AS DOUBLE) / 65280.0 AS mean_gray
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "decode", "jpeg"),
)
def multimodal_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode, end-to-end and oracle-checked: per
    document a 16x16 grayscale image of four constant 8x8 blocks (block
    bi's value = ((doc_id*31 + 37*bi) mod 128) * 2) is Huffman-encoded
    to a real JFIF stream and decoded back by the pure-stdlib baseline
    decoder (marker parse, Huffman, dequant, iDCT) inside an
    Arrow-batched mapInPandas kernel. Constant blocks with EVEN sample
    values quantize exactly under the standard luminance table (DC =
    8s/16 = s/2, an integer), so the lossy codec is bit-exact on these
    payloads and the DuckDB oracle reproduces the channel statistics
    arithmetically with no codec. The general decoder handles arbitrary
    baseline 4:4:4/grayscale streams (property tests bound the q=1
    round-trip error); same 100 TB shape as the PNG/BMP/WAV rows —
    payloads stay in Arrow batches, swap in nvJPEG in the same slot."""
    from collections.abc import Iterator

    import pandas as pd

    from ..multimodal import _real_features, encode_jpeg

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = "doc_id bigint, px_min double, px_max double, mean_gray double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "px_min", "px_max", "mean_gray"]
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                img = bytearray(256)
                for bi in range(4):
                    v = ((d * 31 + bi * 37) % 128) * 2
                    by, bx = divmod(bi, 2)
                    for y in range(8):
                        base = (by * 8 + y) * 16 + bx * 8
                        for x in range(8):
                            img[base + x] = v
                f = _real_features(encode_jpeg(16, 16, 1, bytes(img)))
                rows.append((d, f[3], f[4], f[5]))
            yield pd.DataFrame(rows, columns=cols).astype(
                {"doc_id": "int64", **{c: "float64" for c in cols[1:]}}
            )

    return docs.mapInPandas(kernel, schema=out_schema)


@register(
    "multimodal_video_real",
    sql="""
    WITH px AS (
      SELECT doc_id, fi, bi, ((doc_id * 31 + fi * 53 + bi * 37) % 128) * 2 AS v
      FROM documents
      CROSS JOIN LATERAL unnest(range(0, 2)) AS f(fi)
      CROSS JOIN LATERAL unnest(range(0, 4)) AS t(bi)
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           CAST(MIN(v) AS DOUBLE) / 255.0 AS px_min,
           CAST(MAX(v) AS DOUBLE) / 255.0 AS px_max,
           CAST(SUM(v) * 64 AS DOUBLE) / 65280.0 AS mean_gray
    FROM px GROUP BY doc_id, fi
    """,
    tags=("multimodal", "pandas-udf", "decode", "video"),
)
def multimodal_video_real(spark, sf_dir):
    """REAL video decode, end-to-end and oracle-checked: per document a
    2-frame AVI/MJPEG container is assembled (frame fi = a 16x16
    grayscale image of four constant 8x8 blocks valued
    ((doc_id*31 + 53*fi + 37*bi) mod 128) * 2), then decoded back by the
    pure-stdlib RIFF walker + baseline JPEG decoder inside mapInPandas,
    emitting per-frame pixel statistics. The constant-even-block trick
    (see multimodal_decode_jpeg) makes the lossy MJPEG frames bit-exact,
    so the DuckDB oracle replays the generator formula with no codec.
    This is the 1:N container→frames stage of a video curation pipeline
    at its real shape: payload bytes stay in Arrow batches, the row
    explosion happens inside the kernel, map-only at any scale — swap
    the per-frame decode for nvJPEG/ffmpeg in the same slot."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..multimodal import decode_video, encode_avi_mjpeg, encode_jpeg

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = (
        "doc_id bigint, frame_idx int, px_min double, px_max double, "
        "mean_gray double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "frame_idx", "px_min", "px_max", "mean_gray"]

        def mkframe(d: int, fi: int) -> bytes:
            img = bytearray(256)
            for bi in range(4):
                v = ((d * 31 + fi * 53 + bi * 37) % 128) * 2
                by, bx = divmod(bi, 2)
                for y in range(8):
                    base = (by * 8 + y) * 16 + bx * 8
                    for x in range(8):
                        img[base + x] = v
            return bytes(img)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                avi = encode_avi_mjpeg(
                    16, 16, [encode_jpeg(16, 16, 1, mkframe(d, fi)) for fi in range(2)]
                )
                _w, _h, _n, frames = decode_video(avi)
                for fi, (fw, fh, fc, pix) in enumerate(frames):
                    arr = np.frombuffer(pix, dtype=np.uint8)
                    n = fw * fh * fc
                    rows.append(
                        (
                            d,
                            fi,
                            int(arr.min()) / 255.0,
                            int(arr.max()) / 255.0,
                            float(int(arr.sum(dtype=np.int64))) / (n * 255.0),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols).astype(
                {
                    "doc_id": "int64",
                    "frame_idx": "int32",
                    **{c: "float64" for c in cols[2:]},
                }
            )

    return docs.mapInPandas(kernel, schema=out_schema)


@register(
    "multimodal_audio_real",
    sql="""
    WITH s AS (
      SELECT doc_id, k, (doc_id * 131 + k * 17) % 65536 - 32768 AS v
      FROM documents CROSS JOIN LATERAL unnest(range(0, 16)) AS t(k)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS DOUBLE) / 8000.0 AS duration_s,
           CAST(MAX(ABS(v)) AS DOUBLE) / 32768.0 AS peak,
           SQRT(CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE) / 16.0) / 32768.0 AS rms,
           CAST(SUM(v) AS DOUBLE) / 524288.0 AS mean_norm
    FROM s GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "decode", "audio"),
)
def multimodal_audio_real(spark, sf_dir):
    """REAL audio decode, oracle-checked: per document a deterministic
    16-sample PCM16 mono WAV (sample k = (doc_id*131 + 17k) mod 2^16 −
    2^15) is encoded and decoded back by the pure-stdlib RIFF/WAVE codec
    inside mapInPandas; the emitted signal statistics (duration, peak,
    RMS, mean) are integer-exact up to single IEEE divisions/sqrt, so
    the DuckDB oracle reproduces them without any codec. Same 100 TB
    shape as the image path: payloads stay in Arrow batches end-to-end."""
    from collections.abc import Iterator

    import pandas as pd

    from ..multimodal import decode_audio, encode_wav

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = (
        "doc_id bigint, duration_s double, peak double, rms double, mean_norm double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        cols = ["doc_id", "duration_s", "peak", "rms", "mean_norm"]
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                samples = [(d * 131 + k * 17) % 65536 - 32768 for k in range(16)]
                sr, nch, got = decode_audio(encode_wav(8000, 1, samples))
                n = len(got)
                sum_sq = int((got.astype("int64") ** 2).sum())
                rows.append(
                    (
                        d,
                        n / float(sr),
                        int(abs(got.astype("int64")).max()) / 32768.0,
                        math.sqrt(sum_sq / float(n)) / 32768.0,
                        int(got.astype("int64").sum()) / (float(n) * 32768.0),
                    )
                )
            yield pd.DataFrame(rows, columns=cols).astype(
                {"doc_id": "int64", **{c: "float64" for c in cols[1:]}}
            )

    return docs.mapInPandas(kernel, schema=out_schema)


@register(
    "validate_fk_orphans",
    sql="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
    """,
    tags=("validate", "anti", "fk"),
)
def validate_fk_orphans(spark, sf_dir):
    """FK containment check (reference's fuel_price->gas_station FK,
    SURVEY.md §1.4 J3) as one anti-join: orders whose customer is absent."""
    from ..operators.validate import fk_violations

    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return fk_violations(orders, cust, ["o_custkey"]).select(
        "o_orderkey", "o_custkey"
    )


@register(
    "validate_unique_key",
    sql="""
    SELECT l_orderkey, l_linenumber, COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
    """,
    tags=("validate", "unique"),
)
def validate_unique_key(spark, sf_dir):
    """Composite-key uniqueness check (reference's UNIQUE(location_id,
    fuel_type, date), SURVEY.md §1.4) over (l_orderkey, l_linenumber)."""
    from ..operators.validate import unique_key_violations

    return unique_key_violations(
        T(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"]
    )


@register(
    "streaming_interval_join_replay",
    sql=f"""
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '{_TS_FMT_DUCK}') AS error_ts,
           strftime(c.ts, '{_TS_FMT_DUCK}') AS click_ts
    FROM events e
    JOIN events c ON c.user_id = e.user_id AND c.event_type = 'click'
                 AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts
    WHERE e.event_type = 'error'
    """,
    tags=("streaming", "events", "join"),
)
def streaming_interval_join_replay(spark, sf_dir):
    """Watermarked stream-stream interval join replay: clicks within 1h
    before each error, per user. On a bounded replay every match is
    emitted (state eviction needs a LATER batch to advance the
    watermark), so the batch interval join is an exact oracle."""
    import uuid

    from ..streaming.events import (
        interval_join_clicks_before_errors,
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id"), F.col("ts").alias("click_ts")
    )
    stream = interval_join_clicks_before_errors(errors, clicks)
    name = "ivjoin_" + uuid.uuid4().hex[:8]
    out = run_available_now(stream, name, mode="append")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("error_ts", _TS_FMT_SPARK).alias("error_ts"),
        F.date_format("click_ts", _TS_FMT_SPARK).alias("click_ts"),
    )


def _cc_oracle_sql() -> str:
    # transitive closure via recursive CTE over the same Jaccard pairs
    # (the df-capped variant — CC consumes dedup_ngram_jaccard's output);
    # min reachable node = the component label the Spark side converges to
    from .llm import _JACCARD_CAPPED_DUCK

    return f"""
    WITH RECURSIVE
    jp AS ({_JACCARD_CAPPED_DUCK}),
    edges AS (SELECT da AS u, db AS v FROM jp
              UNION SELECT db AS u, da AS v FROM jp),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v)
    SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u
    """


@register("dedup_connected_components", sql=_cc_oracle_sql(), tags=("llm", "dedup", "iterative"))
def dedup_connected_components(spark, sf_dir, checkpoint_dir: str | None = None):
    """Near-dup clusters: exact Jaccard>=0.8 pairs folded into connected
    components via alternating large-star/small-star contraction —
    O(log n) rounds vs min-label propagation's O(diameter), same
    join/groupBy primitives (operators/graph.py; driver loop steers,
    state stays in DataFrames; union-find-verified in tests). The
    component id doubles as the dedup keeper (min doc_id per cluster).
    Oracle: recursive-CTE transitive closure + min reachable node — an
    exact cross-engine twin of the contraction's fixpoint.
    `checkpoint_dir` swaps per-round localCheckpoint for a parquet
    round-trip (executor-loss-proof on long 100 TB runs)."""
    from ..operators.graph import connected_components
    from .llm import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db")
    return connected_components(pairs, checkpoint_dir=checkpoint_dir)


def _cc_landed_labels(spark, sf_dir):
    """Session-cached connected components of the LANDED corpus's
    near-dup pairs (both endpoints doc_id % 4 != 0) — the cluster
    state dedup_cc_incremental maintains. Built once per (session,
    fixture), persisted and eagerly materialized; in production this is
    the persisted (node, component) assignment table the clustering
    pipeline keeps next to the MinHash index, and the incremental entry
    reads it instead of re-clustering the corpus."""
    from ..operators.graph import connected_components
    from .llm import dedup_ngram_jaccard

    def build():
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db").filter(
            (F.col("da") % 4 != 0) & (F.col("db") % 4 != 0)
        )
        labels = replace(spark, "cc_landed_labels", connected_components(pairs))
        labels.count()  # materialize at build, not on first probe
        return labels

    return memo(spark, ("cc_landed_labels", sf_dir), build)


@register(
    "dedup_cc_incremental",
    sql=_cc_oracle_sql(),
    tags=("llm", "dedup", "iterative", "incremental"),
)
def dedup_cc_incremental(spark, sf_dir):
    """INCREMENTAL connected components — the cluster-MAINTENANCE leg
    of the incremental dedup story (exact: bloom gate; fuzzy: the
    MinHash index probe; semantic: the probe-only SemDeDup; and now
    clustering: this). A delta batch's near-dup pairs are folded into
    the EXISTING component assignment without re-clustering the landed
    corpus: each delta-touching pair's endpoints are CONTRACTED through
    the landed labels (node -> its component rep, itself if unlabeled),
    star-contraction CC runs on that contracted graph only — its size
    is O(components touched by the delta + delta nodes), not O(corpus)
    — and the new labels are mapped back over the landed assignment.

    The result is EXACTLY the batch CC over all pairs (which IS the
    oracle): landed components are already labeled by their minimum
    node id, so every contracted vertex is a real node id that is
    minimal in its landed part, and the contracted CC's min-label is
    the true min of each merged component; components the delta never
    touches keep their labels through the left join. Fixture split as
    everywhere: landed = doc_id % 4 != 0 (bootstraps the session-cached
    state, _cc_landed_labels), delta = doc_id % 4 == 0. Pair GENERATION
    for the delta is the MinHash index probe's job
    (dedup_minhash_probe_only — already delta-bounded); this entry
    prices what comes after: O(delta) contraction joins + CC on a graph
    thousands of times smaller than the corpus at 100 TB.

    Measured honesty (sf0.1, idle best-of-3): 5.5 s vs the batch
    entry's 4.5 s — NO local win, by construction: the fixture's delta
    is 25% of the corpus (its pairs ~44% of all pairs), both entries
    pay the same corpus-wide pair generation for catalog
    self-containment, and the contracted CC still pays the per-round
    fixed job overhead. The entry pins the SHAPE (the lsh_scaled
    precedent): the win appears when landed/delta reaches production
    ratios, where batch CC re-shuffles the full 100 TB edge set every
    round and the contracted graph stays delta-sized."""
    from ..operators.graph import connected_components
    from .llm import dedup_ngram_jaccard

    labels = _cc_landed_labels(spark, sf_dir)
    delta_pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db").filter(
        (F.col("da") % 4 == 0) | (F.col("db") % 4 == 0)
    )
    la = labels.select(
        F.col("node").alias("da"), F.col("component").alias("ca")
    )
    lb = labels.select(
        F.col("node").alias("db"), F.col("component").alias("cb")
    )
    contracted = (
        delta_pairs.join(la, "da", "left")
        .join(lb, "db", "left")
        .select(
            F.coalesce("ca", F.col("da")).alias("da"),
            F.coalesce("cb", F.col("db")).alias("db"),
        )
    )
    cc2 = connected_components(contracted)
    merged = cc2.select(
        F.col("node").alias("component"), F.col("component").alias("newc")
    )
    relabeled = labels.join(merged, "component", "left").select(
        "node", F.coalesce("newc", F.col("component")).alias("component")
    )
    fresh = cc2.join(
        labels.select("node"), "node", "left_anti"
    ).select("node", "component")
    return relabeled.unionByName(fresh)


def _cc_store_bootstrapped(spark, sf_dir):
    """A ComponentStore bootstrapped from the LANDED corpus's near-dup
    pairs, built once per (session, fixture) and reused — the
    dedup_minhash_probe_only cache pattern: the bootstrap (one batch CC)
    is paid once, every invocation prices the steady-state apply+read.
    Unlike _cc_landed_labels (the session-cache stand-in this
    PERSISTED store retires, round-10 verdict item 1), the state lives
    on disk: any fresh ComponentStore instance — a later session —
    resolves the same labels from the parquet partitions."""
    from ..operators.component_store import ComponentStore
    from .llm import dedup_ngram_jaccard

    def fill(store):
        landed_pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db").filter(
            (F.col("da") % 4 != 0) & (F.col("db") % 4 != 0)
        )
        store.bootstrap(landed_pairs)

    return store_fixture(spark, sf_dir, "cc_store", ComponentStore, fill)


@register(
    "dedup_cc_incremental_persisted",
    sql=_cc_oracle_sql(),
    tags=("llm", "dedup", "iterative", "incremental", "store", "fixture-write"),
)
def dedup_cc_incremental_persisted(spark, sf_dir):
    """dedup_cc_incremental, PRODUCTIZED: the landed (node, component)
    assignment lives in a persisted ComponentStore
    (operators/component_store.py) instead of a session cache, the
    delta fold lands as a crash-safe marker-gated PATCH partition
    (only changed + first-seen rows — O(delta + touched components)
    bytes), and the result is read back through a FRESH store instance,
    so what this entry certifies round-trips disk exactly as a later
    session would see it. Same contract and oracle as the in-session
    entry: the resolved labels equal batch CC over ALL pairs.

    Each invocation applies the delta under a fresh delta_id — a
    re-delivery in store terms — and lands an EMPTY patch after the
    first (component merging is monotone), which doubles as the
    idempotence story a replaying crawl loop relies on. At 100 TB the
    loop never scans the corpus: labels() is one shuffle over base +
    delta-sized patches (compact() folds them back), apply is two
    delta-sided joins plus CC on the contracted graph."""
    import uuid as _uuid

    from ..operators.component_store import ComponentStore
    from .llm import dedup_ngram_jaccard

    store = _cc_store_bootstrapped(spark, sf_dir)
    delta_pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db").filter(
        (F.col("da") % 4 == 0) | (F.col("db") % 4 == 0)
    )
    store.apply_pairs(delta_pairs, delta_id=f"delta-{_uuid.uuid4().hex[:8]}")
    # a FRESH instance: the cross-session read path, nothing reused
    return ComponentStore(spark, store.base_path).labels()


def _cc_landed_oracle_sql() -> str:
    # batch CC restricted to LANDED pairs (both endpoints doc_id%4!=0).
    # The df-cap stays corpus-wide — the filter applies to the pair
    # OUTPUT, exactly like the Spark side's filter on the full capped
    # relation — so this is the assignment as it stood at bootstrap.
    from .llm import _JACCARD_CAPPED_DUCK

    return f"""
    WITH RECURSIVE
    jp AS ({_JACCARD_CAPPED_DUCK}),
    lp AS (SELECT da, db FROM jp WHERE da % 4 <> 0 AND db % 4 <> 0),
    edges AS (SELECT da AS u, db AS v FROM lp
              UNION SELECT db AS u, da AS v FROM lp),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v)
    SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u
    """


def _cc_retention_oracle_sql() -> str:
    # survivors of expire(<delta seq>) under last-writer-wins: exactly
    # the nodes the delta apply PATCHED — first-seen delta nodes plus
    # landed nodes whose component changed — labeled with the full
    # (post-delta) components. Cross-engine statement: full CC minus
    # the nodes whose landed-CC label is unchanged.
    from .llm import _JACCARD_CAPPED_DUCK

    return f"""
    WITH RECURSIVE
    jp AS ({_JACCARD_CAPPED_DUCK}),
    edges AS (SELECT da AS u, db AS v FROM jp
              UNION SELECT db AS u, da AS v FROM jp),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
    lp AS (SELECT da, db FROM jp WHERE da % 4 <> 0 AND db % 4 <> 0),
    ledges AS (SELECT da AS u, db AS v FROM lp
               UNION SELECT db AS u, da AS v FROM lp),
    lreach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM ledges) t
      UNION
      SELECT r.u, e.v FROM lreach r JOIN ledges e ON e.u = r.v),
    full_labels AS (
      SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u),
    landed_labels AS (
      SELECT u AS node, MIN(v) AS component FROM lreach GROUP BY u)
    SELECT f.node, f.component
    FROM full_labels f
    LEFT JOIN landed_labels l ON l.node = f.node
    WHERE l.node IS NULL OR l.component <> f.component
    """


@register(
    "dedup_cc_retention_probe",
    sql=_cc_retention_oracle_sql(),
    tags=("llm", "dedup", "iterative", "incremental", "store", "retention"),
)
def dedup_cc_retention_probe(spark, sf_dir):
    """RETENTION on the persisted component store (round-13 verdict,
    missing #2 / next #4 — the batch-store expire() contract on the
    seq-keyed patch layout): `expire(before_seq)` drops whole
    committed patch partitions below the floor — ledger first, each
    patch retiring read-atomically (one marker removal), zero data
    rewritten — so a rolling-window clustering corpus sheds its oldest
    derivations without a rebootstrap. Under last-writer-wins this
    retires exactly the nodes whose latest PATCH ROW (a label change
    or first appearance) predates the floor; `labels(as_of_seq)` below
    the floor refuses loudly. Crash recovery, floor monotonicity,
    empty-store refusal, and the snapshot/sync floor gates are pinned
    in tests/test_retention_parity.py.

    This entry: bootstrap = batch CC over the LANDED pairs (both
    endpoints doc_id % 4 != 0), the delta pairs fold in as patch 2,
    expire(2) retires the bootstrap patch, and the surviving labels
    equal the oracle's cross-engine statement — full CC restricted to
    the nodes the delta actually patched (first-seen, or component
    changed vs the landed state). Own store per invocation: expire
    mutates, so the shared bootstrap fixture cannot serve here."""
    import tempfile
    import uuid as _uuid

    from ..operators.component_store import ComponentStore
    from .llm import dedup_ngram_jaccard

    base = tempfile.mkdtemp(prefix=f"cc_ret_{_uuid.uuid4().hex[:8]}_")
    store = ComponentStore(spark, base)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db")
    store.bootstrap(
        pairs.filter((F.col("da") % 4 != 0) & (F.col("db") % 4 != 0))
    )
    store.apply_pairs(
        pairs.filter((F.col("da") % 4 == 0) | (F.col("db") % 4 == 0)),
        delta_id="window-2",
    )
    receipt = store.expire(store.history()[-1][0])
    if [d for _, d in receipt["expired"]] != ["bootstrap"]:
        raise RuntimeError(f"expire did not retire the bootstrap: {receipt}")
    return ComponentStore(spark, store.base_path).labels()


@register(
    "dedup_cc_tiered_compaction_probe",
    sql=_cc_oracle_sql(),
    tags=("llm", "dedup", "iterative", "incremental", "store", "compaction"),
)
def dedup_cc_tiered_compaction_probe(spark, sf_dir):
    """TIERED compaction on the persisted component store (round-14
    verdict, wrong #1 / next #1 — the LSM fold discipline the batch
    stores and the MinHash index got in round 14, adapted to the
    last-writer-wins seq layout): `compact(upto, merge_ratio)` folds
    the committed patches into a resolved GENERATION that lands at the
    fold range's highest consumed seq in a sibling gid-keyed relation
    (one atomic ledger rewrite is the commit point), and standing
    generations join a later fold only when the size-ratio trigger
    fires — so absorbing a day of deltas costs the deltas, not a
    rewrite of the whole assignment table, and total maintenance work
    is O(corpus log corpus) amortized instead of O(corpus) per call
    (operators/component_store.py: compact/_fold/_tier_pull).

    The entry runs the maintenance loop twice and STRUCTURALLY asserts
    the O(deltas) claim: bootstrap (landed pairs) + two delta patches,
    bounded fold #1; two more delta patches, bounded fold #2
    (merge_ratio=None — never pull) — then requires the FIRST
    generation's files byte-identical across the second fold and both
    generations standing in the ledger. The resolved labels, read back
    through a fresh instance (the cross-session path), equal batch CC
    over ALL pairs — the same oracle as every other entry in this
    family, because folds must never move a label. Own store per
    invocation: compaction mutates, so the shared bootstrap fixture
    cannot serve here."""
    import tempfile
    import uuid as _uuid

    from ..operators.component_store import ComponentStore
    from .llm import dedup_ngram_jaccard

    base = tempfile.mkdtemp(prefix=f"cc_tier_{_uuid.uuid4().hex[:8]}_")
    store = ComponentStore(spark, base)
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db")
    delta = pairs.filter((F.col("da") % 4 == 0) | (F.col("db") % 4 == 0))
    store.bootstrap(
        pairs.filter((F.col("da") % 4 != 0) & (F.col("db") % 4 != 0))
    )
    chunk = (F.col("da") + F.col("db")) % 4
    store.apply_pairs(delta.filter(chunk == 0), "window-0")
    store.apply_pairs(delta.filter(chunk == 1), "window-1")
    r1 = store.compact(merge_ratio=None)
    if not r1["compacted"]:
        raise RuntimeError(f"first bounded fold did not fold: {r1}")
    fp1 = store._partition_fingerprint(store._gen_dir(r1["generation"]))
    store.apply_pairs(delta.filter(chunk == 2), "window-2")
    store.apply_pairs(delta.filter(chunk == 3), "window-3")
    r2 = store.compact(merge_ratio=None)
    if r2["folded_gids"] != [] or not r2["compacted"]:
        raise RuntimeError(f"second bounded fold pulled a generation: {r2}")
    if fp1 != store._partition_fingerprint(store._gen_dir(r1["generation"])):
        raise RuntimeError(
            "bounded fold rewrote the standing generation — the "
            "O(deltas) maintenance contract is broken"
        )
    if [g["gid"] for g in store._generations()] != [
        r1["generation"],
        r2["generation"],
    ]:
        raise RuntimeError(f"unexpected ledger: {store._generations()}")
    return ComponentStore(spark, store.base_path).labels()


@register(
    "dedup_cc_store_time_travel",
    sql=_cc_landed_oracle_sql(),
    tags=(
        "llm", "dedup", "iterative", "incremental", "store", "timetravel",
        "fixture-write",
    ),
)
def dedup_cc_store_time_travel(spark, sf_dir):
    """TIME-TRAVEL read of the persisted component store: after the
    delta batch has been folded in, `labels(as_of_seq=<bootstrap>)`
    resolves the assignment exactly as it stood when the landed corpus
    was first clustered — the audit query behind "what did this
    cluster look like before batch X merged it" and the verification
    read a takedown review runs before approving a purge. Works
    because patches are append-only and resolve is last-writer-wins
    over a seq prefix: any committed prefix is a consistent historical
    state, at zero storage cost beyond the patches themselves
    (compact() collapses history — VACUUM semantics, and the read
    fails loudly past it). Oracle: batch CC over the LANDED pairs only
    — the pre-delta state recomputed from scratch by DuckDB."""
    import uuid as _uuid

    store = _cc_store_bootstrapped(spark, sf_dir)
    bootstrap_seq = store.history()[0][0]
    from .llm import dedup_ngram_jaccard

    delta_pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db").filter(
        (F.col("da") % 4 == 0) | (F.col("db") % 4 == 0)
    )
    store.apply_pairs(delta_pairs, delta_id=f"tt-{_uuid.uuid4().hex[:8]}")
    return store.labels(as_of_seq=bootstrap_seq)


@register(
    "dedup_cc_store_snapshot",
    sql=_cc_oracle_sql(),
    tags=("llm", "dedup", "iterative", "store", "snapshot", "fixture-write"),
)
def dedup_cc_store_snapshot(spark, sf_dir):
    """BACKUP/RESTORE on the persisted cluster store: after the delta
    batch is folded in, `snapshot_to` exports the store to a fresh
    path — marked patch partitions, seq markers, and schema sidecar
    travel; orphans, intents, and tombstoned bytes do not — and the
    labels are served from the RESTORED CLONE through a fresh
    ComponentStore instance. The oracle is the same batch-CC-over-all-
    pairs the live store answers: a restore is only a restore if the
    clone resolves exactly what the source resolved. History travels
    too (the clone's `labels(as_of_seq)` audit reads keep working —
    pinned in tests/test_snapshot.py); the restore refuses without the
    completeness attestation the export writes last. At 100 TB the
    export is one masked scan + write of base + delta-sized patches —
    run compact() first and it is one partition."""
    import tempfile
    import uuid as _uuid

    from ..operators.component_store import ComponentStore
    from .llm import dedup_ngram_jaccard

    store = _cc_store_bootstrapped(spark, sf_dir)
    delta_pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db").filter(
        (F.col("da") % 4 == 0) | (F.col("db") % 4 == 0)
    )
    store.apply_pairs(delta_pairs, delta_id=f"snap-{_uuid.uuid4().hex[:8]}")
    dest = tempfile.mkdtemp(prefix=f"cc_snap_{_uuid.uuid4().hex[:8]}_")
    store.snapshot_to(dest)
    clone = ComponentStore(spark, dest)
    if clone.snapshot_manifest() is None:
        raise RuntimeError(
            f"restore refused: {dest} has no snapshot attestation"
        )
    return clone.labels()


@register(
    "streaming_cc_store_replay",
    sql=_cc_oracle_sql(),
    tags=("streaming", "llm", "dedup", "iterative", "incremental", "store"),
)
def streaming_cc_store_replay(spark, sf_dir):
    """The ComponentStore's STREAMING maintenance leg, replayed
    end-to-end (mirroring streaming_minhash_index_replay): the landed
    corpus's pairs bootstrap the persisted store, then the delta
    pair feed streams through foreachBatch in multiple micro-batches
    (maxFilesPerTrigger=1 over a multi-file landing), each batch folded
    in by apply_pairs under a batch_id-derived delta_id. Because the
    fold is a monotone, order-insensitive merge, the final resolved
    labels equal batch CC over ALL pairs for ANY chunking of the feed —
    which is the oracle. This is the crawl loop's clustering half at
    100 TB: per-batch work is bounded by the batch's pairs and the
    components they touch, the store grows by patch partitions, and
    at-least-once redelivery lands empty patches."""
    import tempfile
    import uuid as _uuid

    from pyspark.sql import types as PT

    from ..operators.component_store import ComponentStore
    from ..streaming.documents import foreach_batch_cc_apply
    from .llm import dedup_ngram_jaccard

    base = tempfile.mkdtemp(prefix=f"cc_sstore_{_uuid.uuid4().hex[:8]}_")
    all_pairs = dedup_ngram_jaccard(spark, sf_dir).select("da", "db").persist()
    try:
        store = ComponentStore(spark, f"{base}/store")
        store.bootstrap(
            all_pairs.filter((F.col("da") % 4 != 0) & (F.col("db") % 4 != 0))
        )
        feed = f"{base}/feed"
        (
            all_pairs.filter((F.col("da") % 4 == 0) | (F.col("db") % 4 == 0))
            .repartition(3)
            .write.mode("overwrite")
            .parquet(feed)
        )
    finally:
        all_pairs.unpersist()
    pairs_schema = PT.StructType(
        [
            PT.StructField("da", PT.LongType()),
            PT.StructField("db", PT.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(pairs_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(feed)
    )
    q = foreach_batch_cc_apply(stream, store, f"{base}/ck")
    q.awaitTermination()
    return ComponentStore(spark, store.base_path).labels()


@register(
    "streaming_static_enrich_replay",
    sql="""
    SELECT e.event_id, e.user_id, e.event_type, d.lifetime_events
    FROM events e
    JOIN (SELECT user_id, COUNT(*) AS lifetime_events
          FROM events GROUP BY user_id) d
      ON d.user_id = e.user_id
    """,
    tags=("streaming", "events", "join"),
)
def streaming_static_enrich_replay(spark, sf_dir):
    """Stream-static enrichment join: the event stream joined to a
    static per-user dimension (built batch-side from the same fixture).
    The static side broadcasts per micro-batch — the standard shape for
    enriching a stream with a slowly-changing dimension. Deterministic
    row set => the batch join is an exact oracle."""
    import uuid

    from ..streaming.events import read_events_stream, run_available_now

    user_dim = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("lifetime_events"))
    )
    stream = (
        read_events_stream(spark, sf_dir)
        .join(F.broadcast(user_dim), "user_id")
        .select("event_id", "user_id", "event_type", "lifetime_events")
    )
    name = "enrich_" + uuid.uuid4().hex[:8]
    return run_available_now(stream, name, mode="append")


@register(
    "applyinpandas_group_rank",
    sql="""
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
                AS BIGINT) AS rnk
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("pandas-udf", "grouped-map", "events"),
)
def applyinpandas_group_rank(spark, sf_dir):
    """Grouped-map applyInPandas: per-user pandas DataFrame in/out,
    computing a dense per-group rank. Integer ranks make the Python-side
    computation oracle-exact — demonstrating the grouped-map surface
    without float drift. (The native-window twin is what production
    would use; this exists to exercise/verify the pandas path.)"""
    import pandas as pd

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["value", "event_id"], ascending=[False, True])
        pdf["rnk"] = range(1, len(pdf) + 1)
        return pdf[["user_id", "event_id", "rnk"]]

    # Project to the three columns the kernel touches BEFORE the
    # grouped-map boundary: applyInPandas ships every input column
    # through Arrow per group, and the wide `props`/`ts` payloads would
    # otherwise cross JVM->Python only to be dropped by the kernel
    # (guide §4.1: pass only what the function needs).
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
    )
    # Explicit hash repartition by the group key with a CORE-COUNT
    # floor: AQE coalesces the pre-Arrow exchange by BYTES (advisory
    # partition size), which at this row width packed every group into
    # 2 tasks and serialized the Python workers onto 2 cores (profiled
    # round 16: one 4.2 s job with 2 tasks on local[32]). Python
    # per-group compute prices by rows, not bytes — the explicit
    # partition count is respected by AQE, the grouped-map boundary
    # reuses the same hash partitioning (no second exchange), and on a
    # cluster defaultParallelism is the total core count, exactly the
    # floor a compute-bound stage wants (the parallelize_scan idiom,
    # applied to a shuffle instead of a scan).
    ev = ev.repartition(spark.sparkContext.defaultParallelism, "user_id")
    return ev.groupBy("user_id").applyInPandas(
        rank_group, schema="user_id bigint, event_id bigint, rnk bigint"
    )


@register(
    "agg_approx_quantiles",
    sql="""
    SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.5) AS p50,
           quantile_disc(o_totalprice, 0.95) AS p95,
           quantile_disc(o_totalprice, 0.99) AS p99,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "approx"),
)
def agg_approx_quantiles(spark, sf_dir):
    """approx_percentile sketch (GK-style): p50/p95/p99 of order totals
    per priority.

    Accuracy contract as the oracle: with accuracy >> group cardinality
    the GK sketch's rank error floor(eps*n) is < 1, so the sketch returns
    the EXACT discrete quantile — identical to DuckDB quantile_disc. At
    100 TB the same query runs with the default accuracy (bounded memory,
    eps rank error); the oracle pins the convention, not the sketch size.
    """
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", [0.5, 0.95, 0.99], 1_000_000).alias(
                "pcts"
            ),
            F.count("*").alias("n"),
        )
        .select(
            "o_orderpriority",
            F.col("pcts")[0].alias("p50"),
            F.col("pcts")[1].alias("p95"),
            F.col("pcts")[2].alias("p99"),
            "n",
        )
    )


@register(
    "events_rollup_incremental",
    sql="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1, 2
    """,
    tags=("agg", "events", "rollup", "incremental"),
)
def events_rollup_incremental(spark, sf_dir):
    """Incremental rollup maintenance (continuous-aggregate refresh):
    history is aggregated into mergeable partials ONCE, then each new
    day's partials merge in WITHOUT re-scanning history. Here the fixture
    is split at 2024-01-25: base partials (before) + increment partials
    (after) -> merge_rollup. The oracle is the full recompute over all
    events — passing proves the partial-merge algebra (SUM of counts and
    decimal sums, MIN/MAX of extrema) is lossless, the property that lets
    a 100 TB rollup refresh scan one day instead of three years.
    AVG is deliberately NOT stored (not mergeable) — derive it from
    (total, n) at read time."""
    from ..operators.rollup import merge_rollup, rollup_partials

    ev = T(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-25").cast("timestamp")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    base = rollup_partials(ev.filter(F.col("ts") < cutoff), day, "event_type")
    incr = rollup_partials(ev.filter(F.col("ts") >= cutoff), day, "event_type")
    merged = merge_rollup(base, incr)
    return merged.select(
        "day",
        "event_type",
        "n",
        F.col("total").cast("double").alias("total"),
        "vmin",
        "vmax",
    )


@register(
    "schema_evolution_union",
    sql="""
    SELECT s_suppkey AS location_id, s_name AS location_name,
           NULL AS postal_code
    FROM supplier WHERE s_suppkey % 2 = 0
    UNION ALL
    SELECT s_suppkey AS location_id, s_name AS location_name,
           CAST(s_suppkey * 37 AS VARCHAR) AS postal_code
    FROM supplier WHERE s_suppkey % 2 = 1
    """,
    tags=("sources", "schema-evolution", "setop"),
)
def schema_evolution_union(spark, sf_dir):
    """Schema evolution across landed batches: an early batch lacks a
    column a later batch added (the reference's dialects drifted exactly
    like this — Places payloads carry fields BP's don't,
    dag_collection_data_from_z.py:71-82). `unionByName(allowMissing
    Columns=True)` aligns by NAME and nulls the gaps — positional UNION
    would silently misalign columns; rejecting the batch would lose
    data. Both failure modes are real 100 TB incidents; this is the
    idiomatic-Spark third option, and it is map-only (no shuffle)."""
    supp = T(spark, sf_dir, "supplier")
    batch_v1 = supp.filter(F.col("s_suppkey") % 2 == 0).select(
        F.col("s_suppkey").alias("location_id"),
        F.col("s_name").alias("location_name"),
    )
    batch_v2 = supp.filter(F.col("s_suppkey") % 2 == 1).select(
        F.col("s_suppkey").alias("location_id"),
        F.col("s_name").alias("location_name"),
        (F.col("s_suppkey") * 37).cast("string").alias("postal_code"),
    )
    return batch_v1.unionByName(batch_v2, allowMissingColumns=True)


def _cc_survivors_sql() -> str:
    from .llm import _JACCARD_CAPPED_DUCK

    return f"""
    WITH RECURSIVE
    jp AS ({_JACCARD_CAPPED_DUCK}),
    edges AS (SELECT da AS u, db AS v FROM jp
              UNION SELECT db AS u, da AS v FROM jp),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
    drops AS (
      SELECT u AS doc_id FROM (SELECT u, MIN(v) AS component FROM reach GROUP BY u) c
      WHERE u <> component)
    SELECT d.doc_id, d.lang, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
    """


@register(
    "dedup_cc_survivors",
    sql=_cc_survivors_sql(),
    tags=("llm", "dedup", "iterative", "pipeline"),
)
def dedup_cc_survivors(spark, sf_dir):
    """The END PRODUCT of the fuzzy-dedup family: the corpus that
    remains after near-dup clusters collapse to one representative
    (min doc_id per connected component). Everything upstream —
    shingle Jaccard, pair generation, label propagation — exists to
    produce this anti-join: documents minus non-representative cluster
    members. The drop list is cluster-members-minus-keepers (small:
    proportional to duplicates found, not corpus size), so the final
    join is a broadcast-able anti-join against the full corpus scan."""
    cc = dedup_connected_components(spark, sf_dir)
    drops = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return d.join(drops, "doc_id", "left_anti")


@register(
    "multimodal_resize",
    sql="""
    WITH m AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
                  WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
             CAST((doc_id % 8 + 1) * 64 AS BIGINT) AS width,
             CAST((doc_id % 4 + 1) * 64 AS BIGINT) AS height,
             text
      FROM documents)
    SELECT doc_id, media_type,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(LEAST(width, 128) AS INT) AS out_width,
           CAST((height * LEAST(width, 128)) // width AS INT) AS out_height,
           md5(substr(text, 1,
               CAST(GREATEST((length(text) * LEAST(width, 128)) // width, 1) AS INT)))
             AS out_md5
    FROM m WHERE media_type <> 'audio/wav'
    """,
    tags=("multimodal", "pandas-udf", "resize"),
)
def multimodal_resize(spark, sf_dir):
    """Resize stub via mapInPandas (§2.11d): width capped at 128,
    height scaled by the integer ratio, payload 'downscaled' to the
    proportional byte prefix — the real kernel swaps the prefix-slice
    for a PIL/ffmpeg call, everything else (metadata arithmetic, Arrow
    batch shape, 1:1 schema) is the production contract. The catalog
    edge emits md5(out_bytes) (binary isn't driver-hashable); the
    oracle replays the same integer arithmetic with substr (ASCII
    payloads: chars == bytes)."""
    from ..multimodal import attach_fake_media, resize_media

    media = attach_fake_media(T(spark, sf_dir, "documents", parallel=True))
    out = resize_media(media, max_width=128)
    return out.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "out_width",
        "out_height",
        F.md5("out_bytes").alias("out_md5"),
    )


@register(
    "multimodal_decode_gif",
    sql="""
    WITH px AS (
      SELECT doc_id, ((doc_id * 31 + 7 * p) % 16) AS i
      FROM documents CROSS JOIN LATERAL unnest(range(0, 16)) AS t(p)
    ),
    ch AS (
      SELECT doc_id, i * 17 AS r, 255 - i * 17 AS g, (i * 37) % 256 AS b
      FROM px
    )
    SELECT doc_id,
           CAST(LEAST(MIN(r), MIN(g), MIN(b)) AS DOUBLE) / 255.0 AS px_min,
           CAST(GREATEST(MAX(r), MAX(g), MAX(b)) AS DOUBLE) / 255.0 AS px_max,
           CAST(SUM(r) AS DOUBLE) / 4080.0 AS mean_r,
           CAST(SUM(g) AS DOUBLE) / 4080.0 AS mean_g,
           CAST(SUM(b) AS DOUBLE) / 4080.0 AS mean_b
    FROM ch GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "decode", "gif"),
)
def multimodal_decode_gif(spark, sf_dir):
    """REAL palette-image decode, end-to-end and oracle-checked: per
    document a 4x4 16-color GIF89a is assembled (pixel p's palette
    index = (doc_id*31 + 7p) mod 16; palette i = (17i, 255-17i,
    37i mod 256)), LZW-encoded, and decoded back by the pure-stdlib
    GIF decoder (header walk, color table, LZW with code-width growth)
    inside an Arrow-batched mapInPandas kernel. GIF's LZW is lossless,
    so the palette lookup is bit-exact and the DuckDB oracle reproduces
    the channel statistics arithmetically with no codec. Same 100 TB
    shape as the PNG/BMP/JPEG/WAV rows: payload bytes stay in Arrow
    batches, one Python worker per partition, swap a vectorized codec
    into the same kernel slot."""
    from collections.abc import Iterator

    import pandas as pd

    from ..multimodal import _real_features, encode_gif

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = (
        "doc_id bigint, px_min double, px_max double, "
        "mean_r double, mean_g double, mean_b double"
    )
    palette = bytes(
        c for i in range(16) for c in (17 * i, 255 - 17 * i, (37 * i) % 256)
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "px_min", "px_max", "mean_r", "mean_g", "mean_b"]
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                idx = bytes((d * 31 + 7 * p) % 16 for p in range(16))
                f = _real_features(encode_gif(4, 4, palette, idx))
                rows.append((d, f[3], f[4], f[5], f[6], f[7]))
            yield pd.DataFrame(rows, columns=cols).astype(
                {"doc_id": "int64", **{c: "float64" for c in cols[1:]}}
            )

    return docs.mapInPandas(kernel, schema=out_schema)


@register(
    "asof_join_next_purchase",
    sql=f"""
    SELECT e.event_id, e.user_id,
      strftime((SELECT MIN(p.ts) FROM events p
                WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
                  AND p.ts >= e.ts), '{_TS_FMT_DUCK}') AS next_purchase_ts
    FROM events e WHERE e.event_type = 'click'
    """,
    tags=("join", "asof", "events"),
)
def asof_join_next_purchase(spark, sf_dir):
    """FORWARD as-of join (pandas merge_asof direction='forward'): for
    each click, the next purchase of the same user at or after it —
    the time-to-conversion probe. Same one-shuffle union+window shape
    as the backward join, with the frame flipped to following and the
    equal-ts sort order flipped so >= ties match."""
    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_value="p_ts",
        out_col="next_purchase",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("next_purchase", _TS_FMT_SPARK).alias("next_purchase_ts"),
    )


@register(
    "asof_join_tolerance",
    sql=f"""
    SELECT e.event_id, e.user_id,
      strftime((SELECT MAX(c.ts) FROM events c
                WHERE c.user_id = e.user_id AND c.event_type = 'click'
                  AND c.ts <= e.ts
                  AND epoch(e.ts) - epoch(c.ts) <= 600.0), '{_TS_FMT_DUCK}')
        AS recent_click_ts
    FROM events e WHERE e.event_type = 'error'
    """,
    tags=("join", "asof", "events"),
)
def asof_join_tolerance(spark, sf_dir):
    """Backward as-of join with a 10-minute tolerance (pandas
    merge_asof `tolerance`): the last prior click of the same user,
    but only if it is at most 600 s stale — the "was this error part
    of an active session" probe. The tolerance is a post-window filter
    on the matched timestamp riding in the carried struct, so the plan
    is identical to the unbounded join."""
    ev = T(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_value="click_ts",
        out_col="recent_click",
        direction="backward",
        tolerance_s=600.0,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("recent_click", _TS_FMT_SPARK).alias("recent_click_ts"),
    )


@register(
    "range_join_bucketized_tiers",
    sql="""
    SELECT b.bucket, COUNT(e.event_id) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM events e
    JOIN (VALUES ('low', 0.0, 5.0), ('mid', 5.0, 10.0), ('high', 10.0, 100.0))
         AS b(bucket, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket
    """,
    tags=("join", "range", "events"),
)
def range_join_bucketized_tiers(spark, sf_dir):
    """The same tier assignment as range_join_value_buckets, through
    the BUCKETIZED plan `range_join`'s docstring promises for range
    tables too large to broadcast: both sides map to width-5 integer
    buckets, ranges replicate to every bucket they overlap, the match
    is a bucket equi-join + exact interval re-check. Same oracle as
    the broadcast variant — identical semantics, shuffle-based plan
    (O(|P| + |R|*repl) instead of |P|*|R| comparisons)."""
    from ..operators.asof import range_join_bucketized

    ev = T(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 10.0), ("high", 10.0, 100.0)],
        "bucket string, lo double, hi double",
    )
    joined = range_join_bucketized(
        ev.select("event_id", "value"), buckets, "value", "lo", "hi", bucket_width=5.0
    )
    from .common import dsum

    return joined.groupBy("bucket").agg(
        F.count("event_id").alias("n"), dsum("value").alias("total")
    )


@register(
    "multimodal_resize_real",
    sql="""
    WITH px AS (
      SELECT doc_id, t.p % 4 AS x, t.p // 4 AS y, c.c AS ch
      FROM documents
      CROSS JOIN LATERAL unnest(range(0, 16)) AS t(p)
      CROSS JOIN LATERAL unnest(range(0, 3)) AS c(c)
    ),
    v AS (
      SELECT doc_id, ch,
        (doc_id * 31 + 7 * ((((y * 2) * 8 + (x * 2)) * 3 + ch))) % 256 AS val
      FROM px
    )
    SELECT doc_id,
      CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
      CAST(MIN(val) AS DOUBLE) / 255.0 AS px_min,
      CAST(MAX(val) AS DOUBLE) / 255.0 AS px_max,
      CAST(SUM(CASE WHEN ch = 0 THEN val ELSE 0 END) AS DOUBLE) / 4080.0 AS mean_r,
      CAST(SUM(CASE WHEN ch = 1 THEN val ELSE 0 END) AS DOUBLE) / 4080.0 AS mean_g,
      CAST(SUM(CASE WHEN ch = 2 THEN val ELSE 0 END) AS DOUBLE) / 4080.0 AS mean_b
    FROM v GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "decode", "resize"),
)
def multimodal_resize_real(spark, sf_dir):
    """REAL decode -> nearest-neighbor resize -> feature pipeline,
    end-to-end and oracle-checked: per document an 8x8 RGB image
    (byte k = (doc_id*31 + 7k) mod 256) round-trips through the BMP
    codec, is NN-resampled to 4x4 by `resize_image_nn` (target (x,y)
    copies source (x*8//4, y*8//4) = (2x, 2y) — integer index
    arithmetic), and the selected pixels' channel statistics are
    integer-exact, so the DuckDB oracle reproduces them with no codec.
    Replaces the byte-prefix resize STUB as the quality-bearing path;
    the stub's metadata contract (`resize_media`) remains for the
    schema/batching surface. Same 100 TB shape as every decode row:
    map-only Arrow kernel, swap a vectorized resampler into the slot."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..multimodal import decode_image, encode_bmp24, resize_image_nn

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = (
        "doc_id bigint, out_w int, out_h int, px_min double, px_max double, "
        "mean_r double, mean_g double, mean_b double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "out_w", "out_h", "px_min", "px_max", "mean_r", "mean_g", "mean_b"]
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                pix = bytes((d * 31 + 7 * k) % 256 for k in range(8 * 8 * 3))
                w, h, nch, decoded = decode_image(encode_bmp24(8, 8, pix))
                small = resize_image_nn(w, h, nch, decoded, 4, 4)
                arr = np.frombuffer(small, dtype=np.uint8).reshape(16, 3)
                sums = arr.sum(axis=0, dtype=np.int64)
                rows.append(
                    (
                        d, 4, 4,
                        float(int(arr.min()) / 255.0),
                        float(int(arr.max()) / 255.0),
                        float(sums[0]) / 4080.0,
                        float(sums[1]) / 4080.0,
                        float(sums[2]) / 4080.0,
                    )
                )
            yield pd.DataFrame(rows, columns=cols).astype(
                {
                    "doc_id": "int64",
                    "out_w": "int32",
                    "out_h": "int32",
                    **{c: "float64" for c in cols[3:]},
                }
            )

    return docs.mapInPandas(kernel, schema=out_schema)


@register(
    "multimodal_decode_jpeg420",
    sql="""
    WITH px AS (
      SELECT doc_id, bi, ((doc_id * 31 + bi * 37) % 128) * 2 AS v
      FROM documents CROSS JOIN LATERAL unnest(range(0, 4)) AS t(bi)
    )
    SELECT doc_id,
           CAST(MIN(v) AS DOUBLE) / 255.0 AS px_min,
           CAST(MAX(v) AS DOUBLE) / 255.0 AS px_max,
           CAST(SUM(v) * 64 AS DOUBLE) / 65280.0 AS mean_gray
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "decode", "jpeg", "subsampled"),
)
def multimodal_decode_jpeg420(spark, sf_dir):
    """REAL 4:2:0-subsampled JPEG decode — the MCU-interleaved
    (4Y+Cb+Cr) scan most real-world JPEGs use, end-to-end through the
    pure-stdlib codec: per document the same four-constant-block image
    as multimodal_decode_jpeg, but CARRIED AS COLOR (r=g=b) and encoded
    with 2x2-averaged chroma at sampling factors 2x2/1x1, then decoded
    back (general sampling-factor MCU walk + nearest chroma
    upsampling) inside the Arrow mapInPandas kernel.

    Bit-exactness argument: luma blocks are constant with EVEN values
    (DC quantizes exactly, as in the 4:4:4 row) and the chroma planes
    of an r=g=b image are identically zero — so 2x2 averaging,
    quantization, and upsampling are all exact, and the decoded RGB
    equals the source. The per-channel stats therefore collapse to the
    same arithmetic the oracle computes with no codec. Round-trips of
    images with real chroma are bounded by test_jpeg_420_roundtrip.
    Same 100 TB shape as every codec row: payloads never leave Arrow
    batches; swap nvJPEG into the same kernel slot."""
    from collections.abc import Iterator

    import pandas as pd

    from ..multimodal import _real_features, encode_jpeg

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = "doc_id bigint, px_min double, px_max double, mean_gray double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "px_min", "px_max", "mean_gray"]
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                img = bytearray(256 * 3)
                for bi in range(4):
                    v = ((d * 31 + bi * 37) % 128) * 2
                    by, bx = divmod(bi, 2)
                    for y in range(8):
                        base = ((by * 8 + y) * 16 + bx * 8) * 3
                        for x in range(8):
                            img[base + 3 * x] = v
                            img[base + 3 * x + 1] = v
                            img[base + 3 * x + 2] = v
                f = _real_features(
                    encode_jpeg(16, 16, 3, bytes(img), subsampling="420")
                )
                rows.append((d, f[3], f[4], f[5]))
            yield pd.DataFrame(rows, columns=cols).astype(
                {"doc_id": "int64", **{c: "float64" for c in cols[1:]}}
            )

    return docs.mapInPandas(kernel, schema=out_schema)


@register(
    "multimodal_decode_jpeg_progressive",
    sql="""
    WITH px AS (
      SELECT doc_id, bi, ((doc_id * 31 + bi * 37) % 128) * 2 AS v
      FROM documents CROSS JOIN LATERAL unnest(range(0, 4)) AS t(bi)
    )
    SELECT doc_id,
           CAST(MIN(v) AS DOUBLE) / 255.0 AS px_min,
           CAST(MAX(v) AS DOUBLE) / 255.0 AS px_max,
           CAST(SUM(v) * 64 AS DOUBLE) / 65280.0 AS mean_gray
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "decode", "jpeg", "progressive"),
)
def multimodal_decode_jpeg_progressive(spark, sf_dir):
    """REAL progressive-JPEG decode (SOF2, spectral selection): the same
    four-constant-block image as multimodal_decode_jpeg, Huffman-encoded
    as a MULTI-SCAN progressive stream (interleaved DC scan, then
    per-component AC band scans with EOB-run coding) and decoded by the
    pure-stdlib multi-scan path — coefficients accumulate across scans,
    one iDCT at the end. Constant even-valued blocks quantize exactly,
    so the stats the oracle computes arithmetically match bit-for-bit;
    the progressive decode of any source equals its baseline decode by
    test (same coefficients, different scan order). Successive
    approximation remains the documented boundary. Same Arrow
    mapInPandas shape as every codec row."""
    from collections.abc import Iterator

    import pandas as pd

    from ..multimodal import _real_features, encode_jpeg_progressive

    docs = T(spark, sf_dir, "documents", parallel=True).select("doc_id")
    out_schema = "doc_id bigint, px_min double, px_max double, mean_gray double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "px_min", "px_max", "mean_gray"]
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                img = bytearray(256)
                for bi in range(4):
                    v = ((d * 31 + bi * 37) % 128) * 2
                    by, bx = divmod(bi, 2)
                    for y in range(8):
                        base = (by * 8 + y) * 16 + bx * 8
                        for x in range(8):
                            img[base + x] = v
                f = _real_features(encode_jpeg_progressive(16, 16, 1, bytes(img)))
                rows.append((d, f[3], f[4], f[5]))
            yield pd.DataFrame(rows, columns=cols).astype(
                {"doc_id": "int64", **{c: "float64" for c in cols[1:]}}
            )

    return docs.mapInPandas(kernel, schema=out_schema)
