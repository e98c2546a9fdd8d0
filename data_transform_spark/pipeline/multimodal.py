"""§2.K — multimodal (binary) columns (SURVEY.md; north-star mandate).

Images/audio/video are opaque BINARY payloads plus typed metadata structs.
The container has no media LIBRARIES (PIL/cv2/imageio probed absent,
HISTORY.md r9), but BMP needs none: since round 10 the decode path is a
REAL pure-numpy 24-bpp BMP codec (little-endian header parse, 4-byte row
padding, bottom-up row order, BGR channel order) — r9 VERDICT #4. The
fixture prep synthesizes valid BMP payloads deterministically from each
doc's md5, so the DuckDB twin can recompute the decoded pixel statistics
analytically and the whole encode -> decode -> stats/resize path is value-
hash-checked. At 100 TB the pattern is: payloads in parquet binary columns
(or object-store pointers), metadata extracted once via mapInPandas, then
all filtering/grouping happens on the cheap metadata columns.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from data_transform_spark.io import load_table, spread, stage
from data_transform_spark.registry import register


# --- pure-numpy BMP codec (r9 VERDICT #4: no external media libs) --------

BMP_HEADER_BYTES = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def encode_bmp(arr: "np.ndarray") -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a REAL 24-bpp BMP file:
    54-byte header, rows bottom-up, channels BGR, each row padded to a
    4-byte boundary — the actual on-disk format, not a fake container."""
    h, w, ch = arr.shape
    if ch != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_bmp expects (h, w, 3) uint8 RGB")
    row = w * 3
    pad = (4 - row % 4) % 4
    stride = row + pad
    size = BMP_HEADER_BYTES + stride * h
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, BMP_HEADER_BYTES)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, :row] = arr[:, :, ::-1].reshape(h, row)  # RGB -> BGR
    return header + info + padded[::-1].tobytes()  # top-down -> bottom-up


def decode_bmp(payload: bytes) -> "np.ndarray":
    """Decode a 24-bpp bottom-up BMP into an (h, w, 3) uint8 RGB array with
    numpy alone: parse the little-endian header for dims/bpp/pixel offset,
    strip the per-row padding, flip the bottom-up rows, swap BGR -> RGB.
    Raises on anything that is not the 24-bpp uncompressed layout."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0 or h <= 0 or w <= 0:
        raise ValueError(f"unsupported BMP layout (bpp={bpp})")
    row = w * 3
    stride = row + (4 - row % 4) % 4
    data = np.frombuffer(payload, dtype=np.uint8, offset=offset, count=stride * h)
    rows = data.reshape(h, stride)[:, :row].reshape(h, w, 3)
    return rows[::-1, :, ::-1].copy()  # bottom-up -> top-down, BGR -> RGB


def synth_image(digest: bytes) -> "np.ndarray":
    """Deterministic fixture image from an md5 digest: dims 8..31 from the
    first two digest bytes, pixel (r, c, k) = (7r + 11c + 13k + seed) % 256
    with seed = digest[2] — an analytic gradient the DuckDB oracle can
    re-sum without decoding bytes."""
    w = 8 + digest[0] % 24
    h = 8 + digest[1] % 24
    seed = digest[2]
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    k = np.arange(3, dtype=np.int64)[None, None, :]
    return ((r * 7 + c * 11 + k * 13 + seed) % 256).astype(np.uint8)


# analytic twins of synth_image's dims, shared by both upgraded oracles
_BMP_META_SQL = """
        SELECT doc_id,
               8 + CAST(('0x' || substring(md5(text), 1, 2)) AS BIGINT) % 24 AS w,
               8 + CAST(('0x' || substring(md5(text), 3, 2)) AS BIGINT) % 24 AS h,
               CAST(('0x' || substring(md5(text), 5, 2)) AS BIGINT) AS seed
        FROM documents
"""


@register(
    "multimodal_binary",
    oracle="""
    SELECT doc_id,
           lower(hex(encode(text))) AS payload_hex,
           'text/plain' AS mime,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS checksum
    FROM documents
    """,
)
def multimodal_binary(spark, sf_dir):
    """Typed binary column + metadata, hash-checked byte-for-byte vs DuckDB.

    The payload is built and measured as a real BinaryType column; it is
    PROJECTED as lowercase hex because the two engines' pandas bridges
    disagree on raw binary (bytearray vs bytes) — same trap as DATE/MAP.
    """
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.lower(F.hex(payload)).alias("payload_hex"),
        F.lit("text/plain").alias("mime"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.md5("text").alias("checksum"),
    )


@register(
    "multimodal_features",
    oracle=f"""
    WITH meta AS ({_BMP_META_SQL}),
    px AS (
        SELECT doc_id,
               CAST(sum((r.r * 7 + c.c * 11 + k.k * 13 + seed) % 256)
                    AS BIGINT) AS px_sum,
               CAST(min((r.r * 7 + c.c * 11 + k.k * 13 + seed) % 256)
                    AS BIGINT) AS px_min,
               CAST(max((r.r * 7 + c.c * 11 + k.k * 13 + seed) % 256)
                    AS BIGINT) AS px_max
        FROM meta,
             unnest(generate_series(0, h - 1)) AS r(r),
             unnest(generate_series(0, w - 1)) AS c(c),
             unnest(generate_series(0, 2)) AS k(k)
        GROUP BY doc_id
    )
    SELECT m.doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           CAST({BMP_HEADER_BYTES} + (3 * w + (4 - (3 * w) % 4) % 4) * h
                AS BIGINT) AS byte_len,
           px_sum, px_min, px_max
    FROM meta m JOIN px USING (doc_id)
    """,
)
def multimodal_features(spark, sf_dir):
    """REAL image decode via Arrow-batched mapInPandas (r9 VERDICT #4,
    upgraded from the r4 stub): each doc's payload becomes a valid 24-bpp
    BMP (synthesized deterministically from its md5 — the fixture prep),
    the pure-numpy BMP codec decodes it back — header parse, row-padding
    strip, bottom-up flip, BGR swap — and the emitted features are the
    DECODED dims plus pixel statistics (sum/min/max over every channel
    value). The DuckDB twin recomputes dims, exact BMP byte length
    (header + padded stride × rows) and the pixel stats analytically from
    the generator rule, so any codec bug — wrong stride, missed padding,
    channel swap that changes values, off-by-one in the flip — breaks the
    value hash. Shape of a real image pipeline: binary in -> metadata
    columns out, one Python worker pass per Arrow batch, no driver
    involvement; at 100 TB the decode cost is the corpus scan and the
    emitted metadata is what every later stage filters on.

    NOT spread (r14 A/B): unlike phash_fingerprints' per-pixel md5
    loop, the per-doc decode here is a handful of vectorized numpy ops
    — repartitioning the single-split fixture scan measured ~30%
    SLOWER (0.59 → 0.78 s median of 4: the shuffle + 32-task overhead
    exceeds the serialized Python it parallelizes). At 100 TB the scan
    has thousands of splits and parallelism is free."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    src = d.select("doc_id", payload.alias("payload"))

    def extract(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                blob = encode_bmp(synth_image(hashlib.md5(bytes(p)).digest()))
                img = decode_bmp(blob)
                h, w, ch = img.shape
                px = img.astype(np.int64)
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        ch,
                        len(blob),
                        int(px.sum()),
                        int(px.min()),
                        int(px.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_channels",
                    "byte_len", "px_sum", "px_min", "px_max",
                ],
            )

    return src.mapInPandas(
        extract,
        "doc_id long, width long, height long, n_channels long, "
        "byte_len long, px_sum long, px_min long, px_max long",
    )


RESIZE_TARGET = 16  # thumbnail long side (r10: real pixel resample)


def resize_nearest(img: "np.ndarray", target: int = RESIZE_TARGET):
    """Aspect-preserving nearest-neighbor resample to ``target`` px on the
    long side: integer index maps src_r = (r' * h) // oh, src_c =
    (c' * w) // ow — exact integer arithmetic, replayable in SQL."""
    h, w, _ = img.shape
    if w >= h:
        ow, oh = target, max(1, (h * target) // w)
    else:
        ow, oh = max(1, (w * target) // h), target
    r_idx = (np.arange(oh, dtype=np.int64) * h) // oh
    c_idx = (np.arange(ow, dtype=np.int64) * w) // ow
    return img[r_idx][:, c_idx]


@register(
    "multimodal_resize",
    oracle=f"""
    WITH meta AS ({_BMP_META_SQL}),
    dims AS (
        SELECT doc_id, w, h, seed,
               CASE WHEN w >= h THEN {RESIZE_TARGET}
                    ELSE greatest(1, (w * {RESIZE_TARGET}) // h) END AS ow,
               CASE WHEN w >= h THEN greatest(1, (h * {RESIZE_TARGET}) // w)
                    ELSE {RESIZE_TARGET} END AS oh
        FROM meta
    ),
    px AS (
        SELECT doc_id,
               CAST(sum(((rp.rp * h // oh) * 7 + (cp.cp * w // ow) * 11
                         + k.k * 13 + seed) % 256) AS BIGINT) AS px_sum,
               CAST(sum(((rp.rp * ow + cp.cp) * 3 + k.k + 1)
                        * (((rp.rp * h // oh) * 7 + (cp.cp * w // ow) * 11
                            + k.k * 13 + seed) % 256)) AS BIGINT) AS px_wsum
        FROM dims,
             unnest(generate_series(0, oh - 1)) AS rp(rp),
             unnest(generate_series(0, ow - 1)) AS cp(cp),
             unnest(generate_series(0, 2)) AS k(k)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(w AS BIGINT) AS src_width, CAST(h AS BIGINT) AS src_height,
           CAST(ow AS BIGINT) AS out_width, CAST(oh AS BIGINT) AS out_height,
           px_sum, px_wsum
    FROM dims d JOIN px USING (doc_id)
    """,
)
def multimodal_resize(spark, sf_dir):
    """REAL aspect-preserving thumbnail resample (r9 VERDICT #4, upgraded
    from the r6 dims-only stub): decode the valid BMP payload with the
    pure-numpy codec, nearest-neighbor-resample the ACTUAL pixel array to
    a {RESIZE_TARGET} px long side with exact integer index maps, and emit
    the output dims plus two pixel checksums over the RESIZED array — the
    plain sum and a position-weighted sum (value × (flat_index + 1)), the
    second of which breaks under any row/column/channel transposition the
    first would miss. The DuckDB twin replays the synth rule composed with
    the same integer index maps, so the hash pins the entire decode ->
    resample path at the pixel level. Per-batch Python pass via
    mapInPandas; at 100 TB this is the standard thumbnail/preprocess
    stage — corpus-scan-shaped, no shuffle. (NOT spread — the
    multimodal_features A/B: vectorized per-doc decode is cheaper than
    the repartition at fixture scale.)"""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    src = d.select("doc_id", payload.alias("payload"))

    def resize(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_bmp(
                    encode_bmp(synth_image(hashlib.md5(bytes(p)).digest()))
                )
                h, w, _ = img.shape
                out = resize_nearest(img).astype(np.int64)
                oh, ow, _ = out.shape
                flat = out.reshape(-1)
                wsum = int((np.arange(flat.size, dtype=np.int64) + 1) @ flat)
                rows.append((doc_id, w, h, ow, oh, int(flat.sum()), wsum))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_width", "src_height",
                    "out_width", "out_height", "px_sum", "px_wsum",
                ],
            )

    return src.mapInPandas(
        resize,
        "doc_id long, src_width long, src_height long, "
        "out_width long, out_height long, px_sum long, px_wsum long",
    )


FRAME_BYTES = 16  # fake frame size
FRAME_STRIDE = 4  # keep every 4th frame


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST((s - 1) / {FRAME_BYTES} AS BIGINT) AS frame_idx,
           md5(substring(text, s, {FRAME_BYTES})) AS frame_md5,
           octet_length(encode(substring(text, s, {FRAME_BYTES}))) AS frame_bytes
    FROM documents,
         unnest(generate_series(1, octet_length(encode(text)),
                                {FRAME_BYTES * FRAME_STRIDE})) AS u(s)
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling from an opaque video-like payload: split the binary
    into fixed 16-byte 'frames', keep every 4th, emit per-frame checksums —
    the mapInPandas shape of ffmpeg keyframe extraction (one Python pass per
    Arrow batch, rows fan OUT per input row).

    The payload is ASCII text bytes, so the DuckDB twin samples the same
    offsets with substring — a full value hash over the fan-out. A real
    decoder body would replace the slicing with ffmpeg calls; schema,
    batching and partitioning are unchanged. (NOT spread — the
    multimodal_features A/B: slicing bytes per doc is cheaper than the
    repartition at fixture scale.)"""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    src = d.select("doc_id", payload.alias("payload"))
    step = FRAME_BYTES * FRAME_STRIDE

    def sample(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                for s in range(0, len(b), step):
                    frame = b[s : s + FRAME_BYTES]
                    rows.append(
                        (
                            doc_id,
                            s // FRAME_BYTES,
                            hashlib.md5(frame).hexdigest(),
                            len(frame),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_md5", "frame_bytes"]
            )

    return src.mapInPandas(
        sample, "doc_id long, frame_idx long, frame_md5 string, frame_bytes long"
    )


# --- perceptual image dedup (r10 VERDICT #2) ------------------------------

PHASH_GRID = 8  # dHash grid: 8 rows x 9 sampled cols -> 64 bits
PHASH_MAX_HAMMING = 3  # near-dup threshold (of 64 bits)
PHASH_CHUNKS = 4  # pigeonhole: ham<=3 pairs agree on >=1 of 4 16-bit chunks
PHASH_VARIANT_MOD = 5  # docs with doc_id % 5 == 4 carry a near-dup variant


def _phash_dims(source: int) -> tuple:
    """(w, h) in 8..31 from md5(f'dim:{source}') — the phash family's own
    dims rule, keyed on the image's PIXEL SOURCE id (not the carrying
    doc's text) so a variant image has its source's dims row-locally."""
    dg = hashlib.md5(f"dim:{source}".encode()).digest()
    return 8 + dg[0] % 24, 8 + dg[1] % 24


def noise_image(source: int, w: int, h: int) -> "np.ndarray":
    """(h, w, 3) uint8 fixture image whose pixel (r, c, k) is byte k of
    md5(f'img:{source}:{r}:{c}') — per-pixel md5 noise, so (a) dHash bits
    are balanced fair coins (the banding join stays uniform, unlike the
    gradient synth_image whose monotone rows would concentrate chunk
    buckets) and (b) the DuckDB twin recomputes any SAMPLED position's
    gray value from the same md5 rule without decoding bytes.

    Implementation (r14, guide §4.2): one bytes-join of digest[:3]
    slices + a single frombuffer/reshape instead of 3 numpy scalar
    stores per pixel — identical bytes (digest bytes 0..2 are channels
    0..2), ~3× less Python per pixel in the hot synthesis loop."""
    md5 = hashlib.md5
    buf = b"".join(
        md5(b"img:%d:%d:%d" % (source, r, c)).digest()[:3]
        for r in range(h)
        for c in range(w)
    )
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3).copy()


def dhash64(img: "np.ndarray") -> int:
    """Difference hash of a decoded (h, w, 3) image: integer gray
    (r+g+b)//3, nearest-neighbor sample to an 8x9 grid (src = (i*dim)//n,
    the resize_nearest index map), bit(r, c) = gray(r, c) > gray(r, c+1),
    packed little-endian into a SIGNED 64-bit int (Spark LongType carries
    the bit pattern; hamming via bit_count(xor) is sign-agnostic)."""
    g = img.astype(np.int64).sum(axis=2) // 3
    h, w = g.shape
    rows = (np.arange(PHASH_GRID, dtype=np.int64) * h) // PHASH_GRID
    cols = (np.arange(PHASH_GRID + 1, dtype=np.int64) * w) // (PHASH_GRID + 1)
    gs = g[rows][:, cols]
    bits = (gs[:, :PHASH_GRID] > gs[:, 1:]).reshape(-1).astype(np.uint64)
    fp = int((bits << np.arange(64, dtype=np.uint64)).sum())
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def _phash_gray_sql(delta: str) -> str:
    """Analytic gray value at sampled grid cell (r, c): the md5-noise rule
    composed with the integer index maps — b0 carries the variant's +delta
    perturbation (mod 256), exactly like the planted pixel array."""
    key = "'img:' || s || ':' || ((r * h) // 8) || ':' || ((c * w) // 9)"
    b = [
        f"CAST(('0x' || substring(md5({key}), {1 + 2 * k}, 2)) AS BIGINT)"
        for k in range(3)
    ]
    return f"((({b[0]} + {delta}) % 256 + {b[1]} + {b[2]}) // 3)"


# Image inventory + analytic dHash bits, shared by all three phash oracles.
# Every doc carries its own noise image (pixel source s = doc_id); docs with
# doc_id % 5 == 4 ALSO carry a near-dup VARIANT of a DIFFERENT document's
# image — pixel source s = doc_id - 4, channel 0 shifted +1 mod 256 — so
# planted pairs are cross-doc (the "two crawled pages embed near-identical
# images" case), and because doc_id % 10 of a variant carrier is 4 or 9
# while its source's is 0 or 5, the pairs split deterministically into
# history-history and batch-vs-history — the incremental tier is exercised
# for real (a carrier-keyed %5==0 rule would never put a variant in the
# %10>=8 batch partition; found designing dedup_image_phash_incr).
_PHASH_FP_SQL = f"""
    imgs AS (
        SELECT doc_id * 2 AS img_id, doc_id AS s, 0 AS delta FROM documents
        UNION ALL
        SELECT doc_id * 2 + 1, doc_id - {PHASH_VARIANT_MOD - 1}, 1
        FROM documents
        WHERE doc_id % {PHASH_VARIANT_MOD} = {PHASH_VARIANT_MOD - 1}
    ),
    dims AS (
        SELECT img_id, s, delta,
               8 + CAST(('0x' || substring(md5('dim:' || s), 1, 2))
                        AS BIGINT) % 24 AS w,
               8 + CAST(('0x' || substring(md5('dim:' || s), 3, 2))
                        AS BIGINT) % 24 AS h
        FROM imgs
    ),
    cells AS (
        SELECT img_id, r.r AS r, c.c AS c,
               {_phash_gray_sql("delta")} AS gray
        FROM dims,
             unnest(generate_series(0, {PHASH_GRID - 1})) AS r(r),
             unnest(generate_series(0, {PHASH_GRID})) AS c(c)
    ),
    bits AS (
        SELECT a.img_id, a.r * 8 + a.c AS idx,
               CASE WHEN a.gray > b.gray THEN '1' ELSE '0' END AS bit
        FROM cells a JOIN cells b
          ON a.img_id = b.img_id AND a.r = b.r AND b.c = a.c + 1
        WHERE a.c < {PHASH_GRID}
    ),
    fp AS (
        SELECT img_id, string_agg(bit, '' ORDER BY idx) AS f
        FROM bits GROUP BY img_id
    )
"""


def phash_fingerprints(docs):
    """(img_id, phash) over the fixture image corpus: each doc's own noise
    image (img_id = 2*doc_id) plus, for doc_id % 5 == 4 carriers, the
    planted cross-doc variant (img_id = 2*doc_id + 1, pixel source
    doc_id - 4, channel 0 shifted +1 mod 256) — each round-tripped
    through the real BMP codec before hashing. Needs only doc_id from the
    input frame (pixels are synthesized), so the scan prunes to one
    column.

    Parallelism (r14, guide §2/§6): the single-file fixture scan is one
    input split, which serialized the entire per-pixel md5 synthesis +
    codec round-trip onto ONE core (this dominated dedup_image_phash's
    wall). ``spread`` repartitions the 8-byte doc_id rows across every
    core before the Python stage; row placement cannot affect the
    row-wise fingerprints."""
    src = spread(docs.select("doc_id"))

    def fingerprint(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = _phash_dims(doc_id)
                base = noise_image(doc_id, w, h)
                rows.append((doc_id * 2, dhash64(decode_bmp(encode_bmp(base)))))
                if doc_id % PHASH_VARIANT_MOD == PHASH_VARIANT_MOD - 1:
                    s = doc_id - (PHASH_VARIANT_MOD - 1)
                    ws, hs = _phash_dims(s)
                    var = noise_image(s, ws, hs)
                    var[:, :, 0] = (
                        (var[:, :, 0].astype(np.int64) + 1) % 256
                    ).astype(np.uint8)
                    rows.append(
                        (doc_id * 2 + 1, dhash64(decode_bmp(encode_bmp(var))))
                    )
            yield pd.DataFrame(rows, columns=["img_id", "phash"])

    return src.mapInPandas(fingerprint, "img_id long, phash long")


def _phash_chunks(fp):
    """(img_id, phash, chunk, val) — the 16-bit pigeonhole band rows."""
    return fp.select(
        "img_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("phash", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(PHASH_CHUNKS)
                ]
            )
        ).alias("cc"),
    ).select(
        "img_id", "phash",
        F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"),
    )


def phash_pairs(fp):
    """All (img_a < img_b) pairs within PHASH_MAX_HAMMING over an
    (img_id, phash) frame — candidates from the 16-bit-chunk pigeonhole
    equi-join (exact recall 1.0), verified by bit_count(xor)."""
    chunks = _phash_chunks(fp)
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.img_id") < F.col("b.img_id")),
        )
        .select(
            F.col("a.img_id").alias("img_a"),
            F.col("b.img_id").alias("img_b"),
            F.col("a.phash").alias("fp_a"),
            F.col("b.phash").alias("fp_b"),
        )
        .dropDuplicates(["img_a", "img_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (
        cand.select("img_a", "img_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .orderBy("img_a", "img_b")
    )


@register(
    "dedup_image_phash",
    oracle=f"""
    WITH {_PHASH_FP_SQL}
    SELECT a.img_id AS img_a, b.img_id AS img_b,
           CAST(hamming(a.f, b.f) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.img_id < b.img_id
    WHERE hamming(a.f, b.f) <= {PHASH_MAX_HAMMING}
    """,
)
def dedup_image_phash(spark, sf_dir):
    """Perceptual near-dup IMAGE dedup (r10 VERDICT #2) — the one dedup
    modality the text ladder didn't cover: decode every image payload with
    the real pure-numpy BMP codec, fingerprint it with a 64-bit dHash
    (integer gray, 8x9 nearest-neighbor grid, adjacent-column comparisons
    — the standard perceptual hash), and emit all pairs within hamming
    <= {PHASH_MAX_HAMMING}, found via the dedup_simhash pigeonhole: pairs
    that close must agree on >= 1 of 4 16-bit chunks, so candidate
    generation is a (chunk, value)-keyed equi-join with EXACT recall 1.0
    (pigeonhole principle, property-tested vs brute force) — never
    all-pairs.

    Fixture planting (see _PHASH_FP_SQL): per-pixel md5-noise images; the
    planted near-dups are CROSS-DOC — a carrier doc embeds a +1-shifted
    copy of ANOTHER doc's image — the crawl reality the operator exists
    for, and a perturbation that leaves most adjacent-gray comparisons
    unchanged (both sides shift together under the floor-div) while
    deterministically flipping a few bits at near-tie and wrap cells:
    planted pairs land at hamming 0..{PHASH_MAX_HAMMING} with
    deterministic exclusions beyond it. The DuckDB twin replays gray
    values at the 72 sampled grid positions analytically from the md5
    rule (never decoding bytes) and checks ALL pairs, so the hash
    certifies both the codec-fed dHash and the banding recall.

    Scale shape: fingerprints are one mapInPandas corpus scan (decode +
    72-cell sample, same pass a thumbnail stage already pays); banding is
    the dedup_simhash posture — md5-noise grays make the 16-bit chunk
    buckets uniform, so bucket load is n²/2^16 per chunk (skew-free); at
    larger corpora you widen chunks / add bits exactly as for simhash,
    trading the pigeonhole guarantee's threshold against bucket size."""
    d = load_table(spark, sf_dir, "documents")
    return phash_pairs(phash_fingerprints(d))


# --- image-dedup ladder: survivors + incremental tier (round 11) ---------


@register(
    "dedup_image_survivors",
    oracle=f"""
    WITH RECURSIVE {_PHASH_FP_SQL},
    p AS (
        SELECT a.img_id AS img_a, b.img_id AS img_b
        FROM fp a JOIN fp b ON a.img_id < b.img_id
        WHERE hamming(a.f, b.f) <= {PHASH_MAX_HAMMING}
    ),
    edges AS (
        SELECT img_a AS a, img_b AS b FROM p
        UNION ALL
        SELECT img_b AS a, img_a AS b FROM p
    ),
    reach(node, lbl) AS (
        SELECT img_id, img_id FROM fp
        UNION
        SELECT g.a, r.lbl FROM edges g JOIN reach r ON r.node = g.b
    ),
    minlab AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
    SELECT f.img_id, f.img_id % 2 = 1 AS is_variant
    FROM fp f JOIN minlab m ON f.img_id = m.node
    WHERE m.lbl = f.img_id
    """,
)
def dedup_image_survivors(spark, sf_dir):
    """The pick-survivors half of image dedup: collapse each hamming-
    <= {PHASH_MAX_HAMMING} phash cluster to its min-id canonical image —
    dedup_near_survivors' connected-component policy applied to the
    dedup_image_phash pair graph (pairs from the pigeonhole band join,
    clusters from the shared cc_survivor_ids fixpoint; the DuckDB twin
    redoes both with an all-pairs join + recursive CTE, the
    dedup_embed_cosine oracle shape). A planted (source-base, variant)
    pair keeps the SOURCE's base image (2*(d-4) < 2*d+1), i.e. the
    original wins over the embedded near-copy — exactly what a multimodal
    pipeline feeds downstream after near-dup image removal.

    Scale: pairs are the dedup_image_phash plan; survivor selection is
    the O(diameter) min-label fixpoint (clusters here are pairs/small
    stars; cc_survivor_ids_star covers web-scale diameters)."""
    from data_transform_spark.pipeline.dedup import cc_survivor_ids

    d = load_table(spark, sf_dir, "documents")
    fp = phash_fingerprints(d)
    pairs = phash_pairs(fp).select(
        F.col("img_a").alias("doc_a"), F.col("img_b").alias("doc_b")
    )
    nodes = fp.select(F.col("img_id").alias("doc_id"))
    surv = cc_survivor_ids(nodes, pairs).select(F.col("doc_id").alias("img_id"))
    return surv.select(
        "img_id", (F.col("img_id") % 2 == 1).alias("is_variant")
    ).orderBy("img_id")


def phash_stage_store(spark, sf_dir) -> str:
    """Stage the HISTORY partition's image fingerprints (img_id, phash)
    once — 8 bytes a picture; the raw pixels are never re-decoded."""

    def _build(tmp: str) -> None:
        hist = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 < 8)
        phash_fingerprints(hist).write.parquet(f"{tmp}/fingerprints")

    return stage("phash_store", sf_dir, "documents", _build)


@register(
    "dedup_image_phash_incr",
    oracle=f"""
    WITH {_PHASH_FP_SQL}
    SELECT a.img_id AS img_a, b.img_id AS img_b,
           CAST(hamming(a.f, b.f) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.img_id < b.img_id
    WHERE hamming(a.f, b.f) <= {PHASH_MAX_HAMMING}
      AND NOT ((a.img_id // 2) % 10 < 8 AND (b.img_id // 2) % 10 < 8)
    """,
)
def dedup_image_phash_incr(spark, sf_dir):
    """Incremental IMAGE near-dup — the dedup_minhash_incr contract for
    the multimodal tier, completing the incremental ladder (exact doc /
    substring / text near-dup / image): history images are staged ONCE
    as 8-byte fingerprints; a new crawl batch decodes and hashes only
    its own images, then finds every pair it introduces — batch-vs-store
    via the pigeonhole chunk join against the staged fingerprints
    (exercised for real: batch carriers with doc_id % 10 == 9 embed
    variants of HISTORY docs' images, so genuine store-vs-batch pairs
    exist by construction), batch-vs-batch via the self-join — with the
    exact hamming verify. Historical PIXELS are never re-decoded: the
    store is ~8 B/image (vs KBs-MBs of payload), the increment pays one
    chunk-keyed join + its own batch's decode scan. The oracle is the
    full all-pairs answer restricted to pairs with at least one
    batch-side image, and equality with the self-contained
    dedup_image_phash under the same restriction is property-tested
    (phash_fingerprints is shared verbatim)."""
    staged = phash_stage_store(spark, sf_dir)
    store_fp = spark.read.parquet(f"{staged}/fingerprints")
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    batch_fp = phash_fingerprints(batch)

    h = _phash_chunks(store_fp).alias("h")
    n = _phash_chunks(batch_fp).alias("n")
    cross = (
        h.join(
            n,
            (F.col("h.chunk") == F.col("n.chunk"))
            & (F.col("h.val") == F.col("n.val")),
        )
        .select(
            F.least(F.col("h.img_id"), F.col("n.img_id")).alias("img_a"),
            F.greatest(F.col("h.img_id"), F.col("n.img_id")).alias("img_b"),
            F.least("h.phash", "n.phash").alias("fp_x"),
            F.greatest("h.phash", "n.phash").alias("fp_y"),
        )
    )
    a = _phash_chunks(batch_fp).alias("a")
    b = _phash_chunks(batch_fp).alias("b")
    intra = a.join(
        b,
        (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col("a.img_id") < F.col("b.img_id")),
    ).select(
        F.col("a.img_id").alias("img_a"),
        F.col("b.img_id").alias("img_b"),
        F.least("a.phash", "b.phash").alias("fp_x"),
        F.greatest("a.phash", "b.phash").alias("fp_y"),
    )
    cand = cross.unionByName(intra).dropDuplicates(["img_a", "img_b"])
    hamming = F.bit_count(F.col("fp_x").bitwiseXOR(F.col("fp_y"))).cast("long")
    return (
        cand.select("img_a", "img_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .orderBy("img_a", "img_b")
    )


# --- pure-numpy WAV (RIFF PCM16) codec — the audio rung of the modality
# ladder (images got the real-codec treatment in round 10) ----------------

WAV_HEADER_BYTES = 44  # RIFF(12) + fmt chunk(24) + data chunk header(8)
WAV_RATE = 8000  # fixture sample rate (Hz), mono 16-bit PCM


def synth_audio(digest: bytes) -> "np.ndarray":
    """Deterministic fixture clip from an md5 digest: length 256..767
    samples from digest bytes 3-4, sample(i) = ((17i + 29·seed) % 65536)
    − 32768 with seed = digest[5] — an analytic sawtooth-ish signal the
    DuckDB oracle can re-aggregate without decoding bytes."""
    n = 256 + ((digest[3] << 8 | digest[4]) % 512)
    seed = digest[5]
    i = np.arange(n, dtype=np.int64)
    return ((i * 17 + seed * 29) % 65536 - 32768).astype(np.int16)


def encode_wav(samples: "np.ndarray", rate: int = WAV_RATE) -> bytes:
    """Encode mono int16 PCM as a REAL RIFF/WAVE file: RIFF size field,
    canonical 16-byte fmt chunk (PCM=1, channels=1, byte rate, block
    align, 16 bits), data chunk header, little-endian payload."""
    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(blob: bytes):
    """Decode a mono PCM16 RIFF/WAVE blob back to (samples, rate) with
    real validation: magic tags, PCM format, channel count, bit depth,
    and the data-chunk length must all be consistent."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    (fmt_tag, fmt_len, audio_fmt, n_ch, rate, _brate, _align, bits) = (
        struct.unpack("<4sIHHIIHH", blob[12:36])
    )
    if fmt_tag != b"fmt " or fmt_len != 16 or audio_fmt != 1:
        raise ValueError("unsupported WAV format chunk")
    if n_ch != 1 or bits != 16:
        raise ValueError(f"unsupported WAV layout (ch={n_ch}, bits={bits})")
    data_tag, data_len = struct.unpack("<4sI", blob[36:44])
    if data_tag != b"data" or data_len != len(blob) - WAV_HEADER_BYTES:
        raise ValueError("corrupt WAV data chunk")
    return np.frombuffer(blob, dtype="<i2", offset=WAV_HEADER_BYTES), rate


_WAV_META_SQL = """
        SELECT doc_id,
               256 + ((CAST(('0x' || substring(md5(text), 7, 2)) AS BIGINT) * 256
                       + CAST(('0x' || substring(md5(text), 9, 2)) AS BIGINT))
                      % 512) AS n,
               CAST(('0x' || substring(md5(text), 11, 2)) AS BIGINT) AS seed
        FROM documents
"""


@register(
    "multimodal_audio_stats",
    oracle=f"""
    WITH meta AS ({_WAV_META_SQL}),
    smp AS (
        SELECT doc_id,
               (i.i * 17 + seed * 29) % 65536 - 32768 AS v,
               lead((i.i * 17 + seed * 29) % 65536 - 32768)
                   OVER (PARTITION BY doc_id ORDER BY i.i) AS nxt
        FROM meta, unnest(generate_series(0, n - 1)) AS i(i)
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(v) AS BIGINT) AS amp_sum,
               CAST(sum(v * v) AS BIGINT) AS energy,
               CAST(max(abs(v)) AS BIGINT) AS peak,
               CAST(sum(CASE WHEN nxt IS NOT NULL
                              AND ((v < 0) <> (nxt < 0)) THEN 1 ELSE 0 END)
                    AS BIGINT) AS zero_crossings
        FROM smp GROUP BY doc_id
    )
    SELECT m.doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST({WAV_RATE} AS BIGINT) AS sample_rate,
           CAST(n * 1000000 / {WAV_RATE} AS BIGINT) AS duration_us,
           CAST({WAV_HEADER_BYTES} + 2 * n AS BIGINT) AS byte_len,
           amp_sum, energy, peak, zero_crossings
    FROM meta m JOIN agg USING (doc_id)
    """,
)
def multimodal_audio_stats(spark, sf_dir):
    """REAL audio decode via Arrow-batched mapInPandas — the audio rung of
    the modality ladder (multimodal_features is the image rung): each
    doc's payload becomes a valid mono PCM16 RIFF/WAVE clip (synthesized
    deterministically from its md5 — the fixture prep), the pure-numpy
    WAV codec decodes it back with full header validation, and the
    emitted features are computed from the DECODED samples: count, rate,
    duration, exact byte length, amplitude sum, energy (Σv²), peak and
    zero-crossing count — the standard cheap audio-quality gates. The
    DuckDB twin re-aggregates everything analytically from the generator
    rule, so any codec bug — endianness, header offset, chunk-length
    mismatch, sign handling — breaks the value hash. Same 100 TB shape
    as the image keys: binary in → metadata columns out, one Python pass
    per Arrow batch, decode cost = the corpus scan. (NOT spread — the
    multimodal_features A/B: 0.68 → 0.91 s median of 4; the vectorized
    per-doc decode is cheaper than the repartition at fixture scale.)"""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    src = d.select("doc_id", payload.alias("payload"))

    def extract(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                blob = encode_wav(
                    synth_audio(hashlib.md5(bytes(p)).digest())
                )
                samples, rate = decode_wav(blob)
                v = samples.astype(np.int64)
                neg = v < 0
                rows.append(
                    (
                        doc_id,
                        len(v),
                        rate,
                        len(v) * 1_000_000 // rate,
                        len(blob),
                        int(v.sum()),
                        int((v * v).sum()),
                        int(np.abs(v).max()),
                        int((neg[:-1] != neg[1:]).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sample_rate", "duration_us",
                    "byte_len", "amp_sum", "energy", "peak",
                    "zero_crossings",
                ],
            )

    return src.mapInPandas(
        extract,
        "doc_id long, n_samples long, sample_rate long, duration_us long, "
        "byte_len long, amp_sum long, energy long, peak long, "
        "zero_crossings long",
    )
