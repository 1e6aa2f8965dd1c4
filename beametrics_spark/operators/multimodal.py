"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: media rides as a BINARY column
next to typed metadata (media_type, declared dims, byte length); decode /
feature-extract / resize / frame-sample run as Arrow-batched functions
over ``mapInPandas`` so each task processes whole record batches without
JVM→Python row churn.

The general codec step is STUBBED — image/audio libraries are not in
this container (TESTDATA ships no media either): ``decode_media`` with
``fake=True`` substitutes a deterministic pseudo-decode (hash-derived
dims/duration) so the Spark-side plumbing — schema, batch iteration,
partition behavior — is real and tested end-to-end. BMP and PPM need no
codec, so ``fake=False`` has a REAL path for them (operators/
imagecodec.py, pure numpy in the Arrow batch); any other media type
still raises NotImplementedError honestly.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beametrics_spark.registry import register
from beametrics_spark.sources import load_table

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, n_bytes long"
)

DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    "width int, height int, duration_ms int, feature array<double>"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents: payload = utf-8 bytes of
    the text (an opaque stand-in), media_type assigned round-robin."""
    docs = load_table(spark, sf_dir, "documents")
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int, list[float]]:
    """Deterministic pseudo-decode: dims/duration/feature derived from a
    sha256 of the payload. Replace with PIL/ffmpeg bindings in a real
    deployment — the call signature and batch shape stay identical."""
    digest = hashlib.sha256(payload or b"").digest()
    width = 16 + digest[0] % 240
    height = 16 + digest[1] % 240
    duration = (digest[2] << 8 | digest[3]) if media_type != "image" else 0
    feature = [b / 255.0 for b in digest[:8]]
    return width, height, duration, feature


def _real_decode(payload: bytes, media_type: str) -> tuple[int, int, int, list[float]]:
    """Real decode for codec-free formats: BMP/PPM parse + mean-RGB
    feature. Sums are exact int64 over uint8 samples, so the derived
    doubles are bit-identical across engines and summation orders."""
    if media_type not in ("image/bmp", "image/ppm"):
        raise NotImplementedError(
            f"no codec for {media_type!r} in this container "
            "(only image/bmp and image/ppm decode for real); "
            "pass fake=True for the deterministic stub"
        )
    from beametrics_spark.operators.imagecodec import decode_image

    w, h, px = decode_image(payload)
    sums = px.astype("int64").sum(axis=(0, 1))
    feature = [float(s) / (w * h) / 255.0 for s in sums]
    return w, h, 0, feature


def decode_media(df: DataFrame, *, fake: bool = False) -> DataFrame:
    """Decode/feature-extract over mapInPandas (Arrow record batches).

    ``fake=False`` decodes BMP/PPM payloads for real (pure numpy, see
    operators/imagecodec.py) and raises NotImplementedError for media
    types that would need an absent codec — the honest marker.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode_one = _fake_decode if fake else _real_decode
        for pdf in batches:
            decoded = [
                decode_one(p, m)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "duration_ms": [d[2] for d in decoded],
                    "feature": [d[3] for d in decoded],
                }
            )

    return df.mapInPandas(_decode, schema=DECODED_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame offset.

    Pure DataFrame op (sequence + explode) — the decode of each frame
    would plug into decode_media's batch loop.
    """
    offsets = F.sequence(
        F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms)
    )
    return df.filter(F.col("media_type") == "video").select(
        "doc_id", F.explode(offsets).alias("frame_offset_ms")
    )


@register(
    "multimodal_byte_stats",
    """
    WITH m AS (
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
             octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM documents
    )
    SELECT media_type, count(*) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           ROUND(AVG(n_bytes), 2) AS avg_bytes
    FROM m GROUP BY media_type
    """,
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the binary column (oracle-checked:
    byte accounting is codec-independent)."""
    media = media_table(spark, sf_dir)
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
    )


@register(
    "multimodal_frame_sample",
    """
    WITH h AS (
      SELECT doc_id, sha256(text) AS hx
      FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
    ), d AS (
      SELECT doc_id,
        ((strpos('0123456789abcdef', substr(hx,5,1))-1)*16
          + strpos('0123456789abcdef', substr(hx,6,1))-1)*256
        + (strpos('0123456789abcdef', substr(hx,7,1))-1)*16
        + strpos('0123456789abcdef', substr(hx,8,1))-1 AS duration_ms
      FROM h
    )
    SELECT doc_id,
           CAST(floor(greatest(duration_ms - 1, 0) / 1000) + 1 AS BIGINT)
             AS n_frames
    FROM d
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline, oracle-checked end-to-end: binary column →
    mapInPandas decode (duration from the payload) → sequence/explode one
    row per 1000 ms frame offset → per-video frame count. The stub decode
    is sha256-derived, so DuckDB reproduces the duration — and therefore
    the exact frame count — from the same bytes, making even the
    Python-UDF leg of the multimodal path value-verifiable, not rows-only.
    At scale the explode happens post-decode on the executor, one task per
    Arrow batch; no driver materialization."""
    media = media_table(spark, sf_dir)
    decoded = decode_media(media, fake=True)
    frames = sample_frames(decoded, every_ms=1000)
    return frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))


def bmp_ppm_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL image payloads: each doc_id becomes a BMP (even)
    or PPM (odd) whose pixels follow the shared fixture formula. The
    encode runs in the same Arrow batches the decoder uses."""
    from beametrics_spark.operators.imagecodec import fixture_payload

    # explicit-count repartition before the Python stage — same
    # single-split + AQE-coalesce rationale as wav_media_table
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [fixture_payload(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [mt for mt, _ in payloads],
                    "payload": [p for _, p in payloads],
                    "n_bytes": [len(p) for _, p in payloads],
                }
            )

    return docs.mapInPandas(_encode, schema=MEDIA_SCHEMA)


@register(
    "multimodal_bmp_ppm_decode",
    """
    WITH dims AS (
      SELECT doc_id,
             16 + doc_id % 17 AS width,
             16 + doc_id % 13 AS height,
             CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
                  ELSE 'image/ppm' END AS media_type
      FROM documents
    ),
    px AS (
      SELECT d.doc_id, d.media_type, d.width, d.height,
             (d.doc_id*7 + x.x*3 + y.y*5) % 256       AS r,
             (d.doc_id*7 + x.x*3 + y.y*5 + 11) % 256  AS g,
             (d.doc_id*7 + x.x*3 + y.y*5 + 22) % 256  AS b
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, d.width - 1)) AS x) x,
           LATERAL (SELECT unnest(generate_series(0, d.height - 1)) AS y) y
    ),
    means AS (
      SELECT doc_id, media_type,
             CAST(width AS INT) AS width, CAST(height AS INT) AS height,
             CAST(SUM(r) AS DOUBLE) / (width * height) / 255.0 AS mean_r,
             CAST(SUM(g) AS DOUBLE) / (width * height) / 255.0 AS mean_g,
             CAST(SUM(b) AS DOUBLE) / (width * height) / 255.0 AS mean_b
      FROM px
      GROUP BY doc_id, media_type, width, height
    )
    SELECT doc_id, media_type, width, height, mean_r, mean_g, mean_b,
           ROUND(sqrt(mean_r*mean_r + mean_g*mean_g + mean_b*mean_b), 6)
             AS feature_norm
    FROM means
    """,
)
def multimodal_bmp_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, value-oracled: synthesized BMP/PPM payloads →
    actual header+pixel parse (fake=False) → per-doc dims and mean RGB.

    DuckDB recomputes the same pixels from the fixture formula, so every
    byte the parser touches — row padding, bottom-up BMP order, BGR
    swizzle, PPM header scan — is verified by value, not just shape.
    Channel sums are exact int64, so the double means are bit-identical
    regardless of summation order in either engine.

    Encode and parse run in ONE Python stage (round 12, the AVI
    treatment): the r5-r11 shape chained ``bmp_ppm_media_table``'s
    encode mapInPandas into ``decode_media``'s mapInPandas, shipping
    every synthesized image through two Arrow JVM↔Python round-trips.
    The per-doc channel sum is also batch-vectorized: decoded pixel
    planes concatenate into one (Σpx, 3) int64 matrix reduced per doc
    with ``np.add.reduceat`` (exact int64, order-free). The stored-media
    ingest shape (media table → decode_media) remains for real inputs.
    """
    import numpy as np

    from beametrics_spark.operators.imagecodec import (
        decode_image,
        fixture_payload,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            if not len(ids):
                continue
            mts, ws, hs, planes = [], [], [], []
            for d in ids:
                mt, payload = fixture_payload(int(d))
                w, h, px = decode_image(payload)
                mts.append(mt)
                ws.append(w)
                hs.append(h)
                planes.append(px.reshape(-1, 3))
            ws = np.array(ws, dtype=np.int64)
            hs = np.array(hs, dtype=np.int64)
            n_px = ws * hs
            flat = np.concatenate(planes).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(n_px)[:-1]))
            sums = np.add.reduceat(flat, starts, axis=0)
            means = sums / n_px[:, None] / 255.0
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media_type": mts,
                    "width": ws.astype("int32"),
                    "height": hs.astype("int32"),
                    "feature": [list(m) for m in means],
                }
            )

    decoded = docs.mapInPandas(
        _decode,
        schema=(
            "doc_id long, media_type string, width int, height int, "
            "feature array<double>"
        ),
    )
    mr = F.element_at("feature", 1)
    mg = F.element_at("feature", 2)
    mb = F.element_at("feature", 3)
    # feature_norm folds the former multimodal_decode_features stub-smoke
    # entry into this value-oracled query: the downstream feature math
    # (L2 norm over the decoded embedding) is now verified against the
    # oracle instead of rows-only. Same left-assoc double expression in
    # both engines, so the value is deterministic; round(6) absorbs any
    # final-ulp rendering difference.
    norm = F.round(F.sqrt(mr * mr + mg * mg + mb * mb), 6)
    return decoded.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        mr.alias("mean_r"),
        mg.alias("mean_g"),
        mb.alias("mean_b"),
        norm.alias("feature_norm"),
    )


def wav_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize REAL audio payloads: each doc_id becomes a canonical
    RIFF/PCM16 WAV (with a decoy LIST chunk) whose samples follow the
    shared fixture formula (audiocodec.fixture_wav_payload)."""
    from beametrics_spark.operators.audiocodec import fixture_wav_payload

    # Repartition before the Python stage: a single-file scan gives one
    # input split -> ONE Python worker encoding (and Arrow-shipping) the
    # whole corpus serially. The partition count is explicit because an
    # AQE-coalescable exchange (plain repartition(col)) gets merged
    # back to one partition — the doc_id rows are only KBs, and AQE
    # sizes by bytes, blind to the downstream per-row Python cost.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [fixture_wav_payload(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["audio/wav"] * len(payloads),
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return docs.mapInPandas(_encode, schema=MEDIA_SCHEMA)


@register(
    "multimodal_wav_frame_rms",
    """
    WITH n AS (SELECT doc_id, 800 + doc_id % 257 AS ns FROM documents),
    samp AS (
      SELECT n.doc_id, n.ns, i.i,
             ((n.doc_id * 13 + i.i * 7) % 4096) - 2048 AS s
      FROM n, LATERAL (SELECT unnest(generate_series(0, n.ns - 1)) AS i) i
    ),
    g AS (
      SELECT doc_id, ns, sum(s * s) AS ss, max(abs(s)) AS peak
      FROM samp GROUP BY 1, 2
    ),
    fr AS (
      SELECT doc_id, i // 160 AS frame, sum(s * s) AS fss
      FROM samp WHERE i < (ns // 160) * 160
      GROUP BY 1, 2
    ),
    fmax AS (SELECT doc_id, max(fss) AS max_fss FROM fr GROUP BY 1)
    SELECT g.doc_id,
           CAST(g.ns AS BIGINT) AS n_samples,
           CAST(g.ns // 160 AS BIGINT) AS n_frames,
           ROUND(sqrt(CAST(g.ss AS DOUBLE) / g.ns), 6) AS rms_global,
           CAST(g.peak AS BIGINT) AS peak,
           ROUND(sqrt(CAST(fmax.max_fss AS DOUBLE) / 160), 6) AS max_frame_rms
    FROM g JOIN fmax USING (doc_id)
    """,
)
def multimodal_wav_frame_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, value-oracled: synthesized RIFF/PCM16 WAV →
    chunk-walking header parse + int16 sample extraction (audiocodec) →
    per-doc frame-energy statistics (global RMS, peak amplitude, max
    20 ms-frame RMS — the voice-activity / clipping-detection
    primitives).

    DuckDB recomputes the identical samples from the fixture formula,
    so every byte the parser touches — RIFF length check, fmt fields,
    decoy-chunk skipping, word alignment, LE int16 layout — is verified
    by value.  Square sums are exact int64 in both engines; the only
    doubles are final sqrt/divide on identical integers, so round(6) is
    formality.

    Encode, parse, and frame energy run in ONE Python stage (round 12,
    the AVI treatment from round 11): the r7-r11 shape chained
    ``wav_media_table``'s encode mapInPandas into a second decode
    mapInPandas, shipping every synthesized container through two
    Arrow JVM↔Python round-trips — the container bytes now never leave
    the Python worker that built them. The per-doc Python frame loop is
    also gone: each Arrow batch concatenates its decoded samples into
    one int64 vector and reduces per-doc/per-frame sums with cumsum +
    ``np.add.reduceat`` (exact int64 throughout — frame RMS compares
    int frame sums before the single monotone float divide, so the
    maxima are bit-identical to the per-doc formulation and the
    oracle). A real ingest keyed on STORED media still uses the
    two-stage wav_media_table → decode shape.
    """
    import numpy as np

    from beametrics_spark.operators.audiocodec import (
        FRAME_SAMPLES,
        decode_wav,
        fixture_wav_payload,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            if not len(ids):
                continue
            # per-doc codec work (the REAL encode + chunk-walking parse);
            # everything after is vectorized across the whole batch
            samples = [
                decode_wav(fixture_wav_payload(int(d))) for d in ids
            ]
            lens = np.array([a.size for a in samples], dtype=np.int64)
            s = np.concatenate(samples).astype(np.int64)
            sq = s * s
            doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ss = np.add.reduceat(sq, doc_starts)
            peak = np.maximum.reduceat(np.abs(s), doc_starts)
            nf = lens // FRAME_SAMPLES
            # frame sums by prefix-sum difference: exact int64, any
            # incomplete tail frame excluded by construction
            csum = np.concatenate(([0], np.cumsum(sq)))
            frame_starts_per_doc = np.concatenate(([0], np.cumsum(nf)[:-1]))
            frame_doc = np.repeat(np.arange(len(ids)), nf)
            k = np.arange(int(nf.sum()), dtype=np.int64) - np.repeat(
                frame_starts_per_doc, nf
            )
            fstart = doc_starts[frame_doc] + k * FRAME_SAMPLES
            fss = csum[fstart + FRAME_SAMPLES] - csum[fstart]
            # every fixture doc has >= 5 frames, so reduceat segments
            # are all non-empty
            max_fss = np.maximum.reduceat(fss, frame_starts_per_doc)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_samples": lens,
                    "n_frames": nf,
                    "rms_global": np.sqrt(ss / lens),
                    "peak": peak,
                    "max_frame_rms": np.sqrt(max_fss / FRAME_SAMPLES),
                }
            )

    decoded = docs.mapInPandas(
        _stats,
        schema=(
            "doc_id long, n_samples long, n_frames long, "
            "rms_global double, peak long, max_frame_rms double"
        ),
    )
    return decoded.select(
        "doc_id",
        "n_samples",
        "n_frames",
        F.round("rms_global", 6).alias("rms_global"),
        "peak",
        F.round("max_frame_rms", 6).alias("max_frame_rms"),
    )


PATCH_SCHEMA = (
    "doc_id long, patch_row int, patch_col int, n_px long, mean_sum long"
)

PATCH_GRID = 2


def patch_pool(media: DataFrame, grid: int = PATCH_GRID) -> DataFrame:
    """REAL decode → grid×grid average-pool: the downsample/resize
    primitive of an image-pipeline, as an Arrow-batched mapInPandas.

    Each payload is parsed (BMP/PPM, pure numpy), the pixel plane split
    into a grid of patches (boundary k·dim//grid, so odd dimensions give
    the trailing patch the extra row/column), and each patch reduced to
    an EXACT int64 channel sum — the division into a mean happens later
    in the Spark plan from integers, so the derived double is
    bit-identical across engines and batch shapes."""
    import numpy as np

    from beametrics_spark.operators.imagecodec import decode_image

    def _pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "patch_row", "patch_col", "n_px", "mean_sum"
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = decode_image(bytes(payload))
                plane = px.astype(np.int64)
                for pr in range(grid):
                    for pc in range(grid):
                        y0, y1 = h * pr // grid, h * (pr + 1) // grid
                        x0, x1 = w * pc // grid, w * (pc + 1) // grid
                        out["doc_id"].append(int(doc_id))
                        out["patch_row"].append(pr)
                        out["patch_col"].append(pc)
                        out["n_px"].append((y1 - y0) * (x1 - x0))
                        out["mean_sum"].append(int(plane[y0:y1, x0:x1, :].sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(_pool, schema=PATCH_SCHEMA)


@register(
    "multimodal_image_patch_pool",
    f"""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
      FROM documents
    ),
    px AS (
      SELECT d.doc_id, d.w, d.h, x.x, y.y, c.c,
             (d.doc_id*7 + x.x*3 + y.y*5 + c.c*11) % 256 AS v
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x,
           LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y,
           (SELECT unnest(generate_series(0, 2)) AS c) c
    ),
    patched AS (
      -- grid=2 patch assignment: boundary at dim//2, matching the
      -- Python pool's k*dim//grid slicing (trailing patch gets the
      -- odd-dimension slack)
      SELECT doc_id,
             CASE WHEN y >= h // {PATCH_GRID} THEN 1 ELSE 0 END AS patch_row,
             CASE WHEN x >= w // {PATCH_GRID} THEN 1 ELSE 0 END AS patch_col,
             v
      FROM px
    ),
    agg AS (
      SELECT doc_id, patch_row, patch_col,
             CAST(count(*) // 3 AS BIGINT) AS n_px,
             sum(v) AS s
      FROM patched GROUP BY 1, 2, 3
    )
    SELECT doc_id, CAST(patch_row AS INT) AS patch_row,
           CAST(patch_col AS INT) AS patch_col, n_px,
           ROUND(CAST(s AS DOUBLE) / (n_px * 3 * 255.0), 6) AS mean_intensity
    FROM agg
    """,
)
def multimodal_image_patch_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 average-pooled patch intensities from REAL BMP/PPM decode —
    the spatial-downsample step (resize, patch embedding input) executed
    end-to-end: synthesized payloads → actual header+pixel parse →
    per-patch exact int64 channel sums in the Arrow batch → mean
    intensity derived JVM-side from the integers. DuckDB recomputes the
    identical patches from the fixture pixel formula, so the pooling
    geometry (integer-division patch boundaries, odd-dimension slack to
    the trailing patch) is verified by value.

    At 100 TB this is the canonical media shape: payload bytes never
    leave the executor, the Python stage is Arrow-batched and emits
    grid² small rows per image, and everything after is columnar.

    Encode, decode, and pool run in ONE Python stage (round 12, the AVI
    treatment): the r5-r11 shape chained ``bmp_ppm_media_table``'s
    encode mapInPandas into ``patch_pool``'s mapInPandas — two Arrow
    JVM↔Python round-trips for bytes that never needed to leave the
    worker that built them. ``patch_pool`` itself remains the
    stored-media shape (and keeps the geometry unit tests)."""
    import numpy as np

    from beametrics_spark.operators.imagecodec import (
        decode_image,
        fixture_payload,
    )

    grid = PATCH_GRID
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )

    def _pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "patch_row", "patch_col", "n_px", "mean_sum"
            )}
            for d in pdf["doc_id"]:
                _mt, payload = fixture_payload(int(d))
                w, h, px = decode_image(payload)
                plane = px.astype(np.int64)
                for pr in range(grid):
                    for pc in range(grid):
                        y0, y1 = h * pr // grid, h * (pr + 1) // grid
                        x0, x1 = w * pc // grid, w * (pc + 1) // grid
                        out["doc_id"].append(int(d))
                        out["patch_row"].append(pr)
                        out["patch_col"].append(pc)
                        out["n_px"].append((y1 - y0) * (x1 - x0))
                        out["mean_sum"].append(
                            int(plane[y0:y1, x0:x1, :].sum())
                        )
            yield pd.DataFrame(out)

    pooled = docs.mapInPandas(_pool, schema=PATCH_SCHEMA)
    return pooled.select(
        "doc_id",
        "patch_row",
        "patch_col",
        "n_px",
        F.round(
            F.col("mean_sum") / (F.col("n_px") * 3 * F.lit(255.0)), 6
        ).alias("mean_intensity"),
    )


_AVI_INDEX_SCHEMA = (
    "doc_id long, n_frames long, n_keyframes long, total_frame_bytes long, "
    "max_frame_bytes long, max_key_gap long"
)


_AVI_INDEX_ORACLE = """
    WITH n AS (SELECT doc_id, 8 + doc_id % 13 AS nf FROM documents),
    fr AS (
      SELECT n.doc_id, n.nf, i.i,
             200 + (n.doc_id * 31 + i.i * 17) % 991 AS sz,
             CASE WHEN (n.doc_id + i.i) % 4 = 0 THEN 1 ELSE 0 END AS kf
      FROM n, LATERAL (SELECT unnest(generate_series(0, n.nf - 1)) AS i) i
    ),
    kg AS (
      SELECT doc_id,
             i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS gap
      FROM fr WHERE kf = 1
    ),
    kgm AS (SELECT doc_id, max(gap) AS max_gap FROM kg GROUP BY 1)
    SELECT fr.doc_id,
           CAST(any_value(fr.nf) AS BIGINT) AS n_frames,
           CAST(sum(fr.kf) AS BIGINT) AS n_keyframes,
           CAST(sum(fr.sz) AS BIGINT) AS total_frame_bytes,
           CAST(max(fr.sz) AS BIGINT) AS max_frame_bytes,
           CAST(any_value(kgm.max_gap) AS BIGINT) AS max_key_gap
    FROM fr JOIN kgm USING (doc_id)
    GROUP BY fr.doc_id
    """


@register("multimodal_avi_frame_index", _AVI_INDEX_ORACLE)
def multimodal_avi_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container parse, value-oracled: synthesized RIFF/AVI →
    full chunk walk (hdrl/avih, movi frame chunks, idx1 index) with an
    index-vs-movi CROSS-CHECK per frame → per-doc frame-index stats
    (frame count, keyframe count, byte totals, worst keyframe gap —
    the seek-cost number a frame-sampling job reads before deciding
    which frames to decode). Container-level indexing is the 100 TB
    video primitive: the sampler seeks via idx1 and decodes ONLY the
    sampled frames, so the engine-side work is exactly this parse.

    The DuckDB oracle recomputes the identical frame plan from the
    fixture formula, so every byte the parser touches — RIFF framing,
    avih frame count, per-chunk word alignment, idx1 offset/size
    agreement — is value-verified. All outputs are integers. Same
    Arrow-batched mapInPandas shape as the WAV/BMP paths; per-doc
    state is one bounded frame list. Encode and parse run in ONE
    Python stage (round 11): the r5-r10 shape chained two mapInPandas
    operators, which ships every synthesized container through two
    separate Arrow JVM↔Python round-trips — fusing them keeps the
    payload bytes inside the Python worker that built them (sf1
    3.4 s → 0.97 s together with videocodec's vectorized frame
    synthesis; a real ingest keyed on stored media uses the
    two-stage shape, which stream_avi_ingest_parity still exercises).
    """
    from beametrics_spark.operators.videocodec import (
        decode_avi_index,
        encode_avi,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [],
                "n_frames": [],
                "n_keyframes": [],
                "total_frame_bytes": [],
                "max_frame_bytes": [],
                "max_key_gap": [],
            }
            for doc_id in pdf["doc_id"]:
                plan = decode_avi_index(encode_avi(int(doc_id)))
                sizes = [s for s, _ in plan]
                keys = [i for i, (_s, k) in enumerate(plan) if k]
                gaps = [b - a for a, b in zip(keys, keys[1:])]
                out["doc_id"].append(doc_id)
                out["n_frames"].append(len(plan))
                out["n_keyframes"].append(len(keys))
                out["total_frame_bytes"].append(sum(sizes))
                out["max_frame_bytes"].append(max(sizes))
                out["max_key_gap"].append(max(gaps))
            yield pd.DataFrame(out)

    return docs.mapInPandas(_stats, schema=_AVI_INDEX_SCHEMA)
