"""Multimodal-column operators (SURVEY.md §2.K): opaque binary payloads with
typed metadata, decoded/feature-extracted via Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the *decode* step is a
deterministic fake (md5-derived dimensions) clearly separated behind
``decode_image_real`` (NotImplementedError until PIL exists). Everything
Spark-side is real: the binary column, the typed metadata struct, the
``mapInPandas`` batch iteration, the output schema contract, and the
frame-sampling explode — which is what matters for the 100 TB pipeline
shape (payload bytes never leave the executor; only Arrow record batches
cross the JVM↔Python boundary, and only for the decode stage).

Because the fake decode is pure md5 arithmetic, even the Python
``mapInPandas`` path is oracle-checked bit-exact against DuckDB SQL — the
check proves the Arrow plumbing preserves every row and value.

Reference parity: the reference treats payloads as opaque JSON and never
decodes media; this implements the north-star multimodal mandate
(BASELINE.json).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import register
from ..session import scoped_persist
from ..tables import table

# --- the synthetic media table ------------------------------------------------
# documents.text encoded to utf-8 bytes stands in for an image/audio payload;
# kind and a typed metadata struct ride alongside, as a real lakehouse media
# table would (payload binary + metadata columns, partitioned by kind).


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("n_chars").cast("long").alias("content_length"),
            F.lit("fake/v1").alias("codec"),
        ).alias("meta"),
    )


# DuckDB twin of _media's audio rows (odd doc_id) with the payload length
# n, shared by the mm_audio_frames and mm_audio_vad oracles.
_AUDIO_DUCK = """SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n
  FROM documents WHERE doc_id % 2 = 1"""


def _require_pil():
    """Import-gate for the optional image codec dependency."""
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "image codecs not available in this environment; "
            "mm_decode uses the deterministic fake decoder"
        ) from exc
    return Image


def decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real image decode (width, height) — functional when PIL is
    installed, NotImplementedError otherwise (this container ships no
    codecs, so the engine's oracle-checked path is the deterministic fake
    in ``mm_decode``). tests/test_multimodal.py exercises both branches:
    a skipif(PIL)-gated round-trip and the gate itself."""
    Image = _require_pil()
    import io

    img = Image.open(io.BytesIO(payload))
    return img.width, img.height


def mm_decode_real(media: DataFrame) -> DataFrame:
    """REAL-codec variant of mm_decode over a (doc_id, payload, kind) frame:
    same mapInPandas plumbing, schema, and batch shape as the registered
    fake-decoder query, with PIL doing the decode. Not registered — it
    cannot run (or be oracle-checked) in a codec-less container — but the
    PIL-gated test proves it end-to-end where the dependency exists, so
    swapping decoders really is a one-function change."""

    def decode_batches(batches):
        import io

        import pandas as pd
        from PIL import Image

        for pdf in batches:
            dims = []
            for p in pdf["payload"]:
                with Image.open(io.BytesIO(bytes(p))) as img:
                    dims.append((img.width, img.height))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                }
            )

    _require_pil()  # fail fast on the driver, not inside executor tasks
    return media.select("doc_id", "payload", "kind").mapInPandas(
        decode_batches,
        schema="doc_id long, kind string, n_bytes long, width long, height long",
    )


# --- mm_decode: Arrow-batched decode via mapInPandas -------------------------

_DECODE_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 1920 AS width,
       CAST(('0x' || substring(md5(text), 5, 4)) AS BIGINT) % 1080 AS height
FROM documents
"""


@register("mm_decode", oracle=_DECODE_ORACLE, tags=("llm", "multimodal"))
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract binary payloads with ``mapInPandas``: Arrow
    batches of (doc_id, payload, kind) enter Python, a vectorized decoder
    emits (doc_id, kind, n_bytes, width, height). The decoder body is the
    deterministic md5 fake (see module docstring); swapping in
    ``decode_image_real`` changes one function, not the plumbing. Executors
    process batches independently — no shuffle, linear scale."""
    media = _media(spark, sf_dir)

    # defined inside the builder so cloudpickle ships it by value (driver
    # workers have no PYTHONPATH to this repo)
    def decode_batches(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            digests = [hashlib.md5(p).hexdigest() for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "width": [int(d[0:4], 16) % 1920 for d in digests],
                    "height": [int(d[4:8], 16) % 1080 for d in digests],
                }
            )

    return media.select("doc_id", "payload", "kind").mapInPandas(
        decode_batches,
        schema="doc_id long, kind string, n_bytes long, width long, height long",
    )


# --- mm_frame_sample: per-payload frame explode ------------------------------

_FRAME_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CAST(strlen(text) AS BIGINT) AS n_bytes,
         greatest(CAST(strlen(text) AS BIGINT) // 100, 1) AS n_frames
  FROM documents
)
SELECT m.doc_id, t.i AS frame_no,
       t.i * 1000 // m.n_frames AS ts_ms,
       CAST(('0x' || substring(md5(m.doc_id || ':' || t.i), 1, 8)) AS BIGINT)
         AS frame_sig
FROM m, UNNEST(range(0, m.n_frames)) AS t(i)
"""


@register("mm_frame_sample", oracle=_FRAME_ORACLE, tags=("llm", "multimodal"))
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over media payloads: derive a frame count from the
    payload size, explode one row per frame with a timestamp and a
    deterministic frame signature — the shape of video→frames fan-out
    (decode itself stubbed, §module docstring). Generate (explode) is
    pipelined; output cardinality = sum of frame counts, no shuffle."""
    media = _media(spark, sf_dir)
    m = media.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        # floor of 1 frame: sequence(0, -1) would generate a DESCENDING range
        F.greatest(F.expr("length(payload) div 100"), F.lit(1)).cast("long").alias("n_frames"),
    )
    frames = m.select(
        "doc_id", "n_frames", F.explode(F.expr("sequence(0, n_frames - 1)")).alias("frame_no")
    )
    return frames.select(
        "doc_id",
        "frame_no",
        F.expr("frame_no * 1000 div n_frames").alias("ts_ms"),
        F.expr(
            "cast(conv(substring(md5(concat(cast(doc_id as string), ':', "
            "cast(frame_no as string))), 1, 8), 16, 10) as bigint)"
        ).alias("frame_sig"),
    )


# --- mm_image_resize: thumbnail-fit resize plumbing ---------------------------

# fit-longest-side-to-256 with integer math (w*256 div max(w,h)), floored at
# 1px — the standard thumbnail contract, computed on the fake-decoded dims
# so the whole path (decode → per-image arithmetic → output schema) is
# oracle-checkable; a real codec swaps the decode line only, exactly like
# mm_decode vs mm_decode_real.
_RESIZE_BOX = 256

_RESIZE_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 1920 + 1 AS width,
         CAST(('0x' || substring(md5(text), 5, 4)) AS BIGINT) % 1080 + 1 AS height
  FROM documents
  WHERE doc_id % 2 = 0
)
SELECT doc_id, width, height,
       greatest(width * {_RESIZE_BOX} // greatest(width, height), 1) AS out_w,
       greatest(height * {_RESIZE_BOX} // greatest(width, height), 1) AS out_h,
       greatest(width * {_RESIZE_BOX} // greatest(width, height), 1)
         * greatest(height * {_RESIZE_BOX} // greatest(width, height), 1) * 3 AS out_bytes
FROM d
"""


@register("mm_image_resize", oracle=_RESIZE_ORACLE, tags=("llm", "multimodal"))
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing over the media table: Arrow batches of image
    payloads enter ``mapInPandas``, the decoder yields (width, height), and
    vectorized pandas integer math computes the 256-box thumbnail dims and
    output byte size. The kind='image' predicate is applied BEFORE the
    Python boundary, so audio payloads never cross into Arrow — at 100 TB
    the decode stage only pays for the rows it transforms. Dims are +1
    offset from mm_decode's so zero-width degenerate images cannot occur
    (real codecs guarantee >=1px the same way)."""
    media = _media(spark, sf_dir).filter(F.col("kind") == "image")

    def resize_batches(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            digests = [hashlib.md5(p).hexdigest() for p in pdf["payload"]]
            w = pd.Series([int(d[0:4], 16) % 1920 + 1 for d in digests], dtype="int64")
            h = pd.Series([int(d[4:8], 16) % 1080 + 1 for d in digests], dtype="int64")
            longest = w.combine(h, max)
            out_w = (w * _RESIZE_BOX // longest).clip(lower=1)
            out_h = (h * _RESIZE_BOX // longest).clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "out_w": out_w,
                    "out_h": out_h,
                    "out_bytes": out_w * out_h * 3,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        resize_batches,
        schema="doc_id long, width long, height long, out_w long, out_h long, out_bytes long",
    )


# --- mm_validate_magic: payload header audit ---------------------------------

# Pure codegen over the BINARY column: hex(substring(payload, 1, 4)) is
# evaluated on bytes in Spark; the oracle computes the identical hex over
# the source text (payloads are UTF-8 of ASCII fixture text, so byte and
# character offsets coincide — TESTDATA.md). A real ingest would compare
# the magic against per-codec expectations; the fixture check (printable
# first byte + minimum size) exercises the same plumbing.
_MAGIC_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       upper(hex(substr(text, 1, 4))) AS magic_hex,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN ascii(substr(text, 1, 1)) BETWEEN 32 AND 126
                  AND strlen(text) >= 64 THEN 1 ELSE 0 END AS INT) AS is_valid
FROM documents
"""


@register("mm_validate_magic", oracle=_MAGIC_ORACLE, tags=("llm", "multimodal", "quality"))
def mm_validate_magic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header (magic-bytes) validation over the media table: hex of the
    first 4 payload bytes plus a validity verdict (recognizable first
    byte, minimum payload size) — the cheap pre-decode gate a media
    pipeline runs BEFORE spending codec time, so truncated or mislabeled
    blobs die at scan cost. Everything is JVM-side codegen on the binary
    column (substring/hex/ascii): zero shuffle, zero Python, and at
    100 TB the audit rides the same scan that loads the payloads."""
    media = _media(spark, sf_dir)
    first_byte = F.expr("cast(conv(substring(hex(substring(payload, 1, 1)), 1, 2), 16, 10) as int)")
    return media.select(
        "doc_id",
        "kind",
        F.upper(F.hex(F.expr("substring(payload, 1, 4)"))).alias("magic_hex"),
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.when(
            first_byte.between(32, 126) & (F.length("payload") >= 64), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("is_valid"),
    )


# --- mm_audio_frames: hop-windowed frame features over binary payloads -------

# The audio analog of mm_frame_sample: 32-byte frames at a 16-byte hop,
# per-frame integer energy (sum of byte values) and an md5-prefix
# signature. The frame math runs in Arrow-batched pandas over the binary
# column; the oracle recomputes it in SQL over the source text (ASCII ->
# byte == char), so the Python path is value-hash-checked end to end.
_AUDIO_FRAME_LEN = 32
_AUDIO_HOP = 16

_AUDIO_FRAMES_ORACLE = f"""
WITH audio AS ({_AUDIO_DUCK}),
frames AS (
  SELECT a.doc_id, t.i AS frame_idx,
         t.i * {_AUDIO_HOP} AS start_byte,
         substr(a.text, t.i * {_AUDIO_HOP} + 1, {_AUDIO_FRAME_LEN}) AS fr
  FROM audio a,
       UNNEST(range(0, greatest((a.n - {_AUDIO_FRAME_LEN}) // {_AUDIO_HOP} + 1, 1)))
         AS t(i)
)
SELECT doc_id, frame_idx, start_byte,
       CAST(strlen(fr) AS INT) AS frame_len,
       CAST(list_reduce(list_prepend(0,
              list_transform(range(1, strlen(fr) + 1),
                             i -> ascii(substr(fr, i, 1)))),
            (s, x) -> s + x) AS BIGINT) AS energy,
       substring(md5(fr), 1, 8) AS sig8
FROM frames
"""


@register("mm_audio_frames", oracle=_AUDIO_FRAMES_ORACLE, tags=("llm", "multimodal"))
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-windowed framing over audio payloads: 32-byte frames every 16
    bytes, each with an integer energy (byte-value sum — the stand-in for
    RMS until real codecs exist, module note) and an md5-prefix
    signature — the shape of audio feature extraction (VAD windows,
    fingerprinting). The payload bytes stay executor-side: mapInPandas
    receives Arrow batches of the binary column, slices frames in numpy-
    speed Python, and emits only the (id, idx, features) rows — at 100 TB
    the JVM->Python transfer is the payload once, never frames times
    payload. Short payloads produce one truncated frame (the honest
    contract); all features are integers or hex, so the Arrow path is
    bit-checked against the SQL oracle."""
    audio = _media(spark, sf_dir).filter(F.col("kind") == "audio").select(
        "doc_id", "payload"
    )

    def frame_batches(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "start_byte": [],
                   "frame_len": [], "energy": [], "sig8": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                n_frames = max((n - _AUDIO_FRAME_LEN) // _AUDIO_HOP + 1, 1)
                for i in range(n_frames):
                    fr = b[i * _AUDIO_HOP : i * _AUDIO_HOP + _AUDIO_FRAME_LEN]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["start_byte"].append(i * _AUDIO_HOP)
                    out["frame_len"].append(len(fr))
                    out["energy"].append(sum(fr))
                    out["sig8"].append(hashlib.md5(fr).hexdigest()[:8])
            yield pd.DataFrame(out)

    return audio.mapInPandas(
        frame_batches,
        schema="doc_id long, frame_idx long, start_byte long, "
        "frame_len int, energy long, sig8 string",
    )


# --- mm_dedup_binary: exact payload dedup across modalities --------------------

# Training-set multimodal dedup, stage 1: EXACT payload duplicates. The
# same image/audio blob re-crawled under different ids (or modal labels)
# is found by grouping on (sha256(payload), byte length) — the digest
# does the comparing, the length column is a second factor that makes an
# (astronomically unlikely) digest collision detectable rather than
# silent. Payload bytes NEVER cross an exchange: each executor reduces
# its blobs to 40-byte (digest, len) keys map-side; the shuffle carries
# keys and counts only — the property that makes exact media dedup
# tractable at 100 TB of binaries (the binary twin of llm_exact_dedup's
# text-digest discipline).
_MM_DEDUP_ORACLE = """
SELECT sha256(text) AS digest,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
            + MAX(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_kinds,
       MIN(doc_id) AS keep_id
FROM documents
GROUP BY 1, 2
HAVING COUNT(*) > 1
"""


@register("mm_dedup_binary", oracle=_MM_DEDUP_ORACLE, tags=("multimodal", "dedup"))
def mm_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multimodal payload dedup: group binary blobs by
    (sha256, byte length), surface every duplicate group with its copy
    count, how many modal kinds it spans, and the canonical keep id
    (smallest) — the first pass every media-corpus dedup runs before any
    perceptual/near-dup stage.

    Scale shape: the digest and byte length are computed map-side in ONE
    codegen projection over the payload column — the blob itself dies at
    the scan; the only exchange carries (32-byte digest, BIGINT) keys
    with partial counts (map-side combine). Oracle computes the identical
    sha256/length on the text the payload encodes (same UTF-8 bytes).
    100 TB of media shuffles a few GB of digests."""
    media = _media(spark, sf_dir)
    return (
        media.select(
            "doc_id",
            "kind",
            F.sha2(F.col("payload"), 256).alias("digest"),
            F.length("payload").cast("bigint").alias("n_bytes"),
        )
        .groupBy("digest", "n_bytes")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            # modal-kind spread WITHOUT a count-distinct Expand: the kind
            # domain is bounded, so presence flags (one max per kind)
            # keep the rollup a single one-exchange aggregate
            (
                F.max(F.when(F.col("kind") == "image", 1).otherwise(0))
                + F.max(F.when(F.col("kind") == "audio", 1).otherwise(0))
            )
            .cast("bigint")
            .alias("n_kinds"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


# --- mm_patch_grid: ViT-style patch addressing --------------------------------

# Vision-training data prep: every image is cut into a grid of 256px
# patches (edge patches smaller), each with a stable (patch_id, px, py,
# pw, ph) address — the coordinate system a patch-level loader, masking
# policy, or tile dedup keys on. Dimensions come from the image METADATA
# (here the same md5-derived stand-in both engines share — at 100 TB
# they're real width/height columns); the payload is never touched, so
# the whole grid is codegen + one generator, zero Python. A fixed
# doc_id % 29 panel bounds the exploded output like the other
# ground-truth panels.
_PATCH = 256

_PATCH_GRID_ORACLE = f"""
WITH img AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 1920 AS w,
         CAST(('0x' || substring(md5(text), 5, 4)) AS BIGINT) % 1080 AS h
  FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % 29 = 0
),
-- zero-dim guard: a width/height of 0 (md5 % 1920 CAN be 0) has no
-- patches; without it Spark's sequence(0, -1) would generate a
-- DESCENDING range (the llm_doc_chunk lesson)
nz AS (SELECT * FROM img WHERE w > 0 AND h > 0),
g AS (
  SELECT doc_id, w, h,
         (w + {_PATCH - 1}) // {_PATCH} AS n_x,
         (h + {_PATCH - 1}) // {_PATCH} AS n_y
  FROM nz
)
SELECT doc_id, w AS width, h AS height,
       CAST(i AS BIGINT) AS patch_id,
       CAST(i % n_x AS BIGINT) AS px,
       CAST(i // n_x AS BIGINT) AS py,
       CAST(least({_PATCH}, w - (i % n_x) * {_PATCH}) AS BIGINT) AS pw,
       CAST(least({_PATCH}, h - (i // n_x) * {_PATCH}) AS BIGINT) AS ph
FROM g, UNNEST(range(0, n_x * n_y)) AS t(i)
"""


@register("mm_patch_grid", oracle=_PATCH_GRID_ORACLE, tags=("multimodal",))
def mm_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch grid addressing over the image-kind media panel:
    each image becomes ceil(w/256)·ceil(h/256) patches with stable
    (patch_id, px, py) coordinates and exact edge-patch sizes — the
    address space patch-level loaders, mask policies, and tile dedup
    key on.

    Scale shape: dimensions are metadata (the md5 stand-in here; real
    width/height columns at 100 TB) so the payload is NEVER read — the
    grid is one codegen projection + ONE generator (a single explode
    over the linearized patch index, px/py recovered by div/mod, not a
    nested explode); output is bounded by the fixed doc panel. Zero
    Python, zero joins."""
    docs = table(spark, sf_dir, "documents")
    img = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 29 == 0)).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(text), 1, 4), 16, 10) AS BIGINT) % 1920"
        ).alias("w"),
        F.expr(
            "CAST(conv(substring(md5(text), 5, 4), 16, 10) AS BIGINT) % 1080"
        ).alias("h"),
    )
    # zero-dim guard — see the oracle comment (sequence(0, -1) descends)
    g = img.filter((F.col("w") > 0) & (F.col("h") > 0)).select(
        "doc_id",
        "w",
        "h",
        F.expr(f"(w + {_PATCH - 1}) div {_PATCH}").alias("n_x"),
        F.expr(f"(h + {_PATCH - 1}) div {_PATCH}").alias("n_y"),
    )
    x = g.select(
        "doc_id",
        "w",
        "h",
        "n_x",
        F.explode(F.expr("sequence(0, n_x * n_y - 1)")).alias("i"),
    )
    return x.select(
        "doc_id",
        F.col("w").alias("width"),
        F.col("h").alias("height"),
        F.col("i").cast("bigint").alias("patch_id"),
        (F.col("i") % F.col("n_x")).cast("bigint").alias("px"),
        F.expr("i div n_x").cast("bigint").alias("py"),
        F.expr(f"least({_PATCH}, w - (i % n_x) * {_PATCH})")
        .cast("bigint")
        .alias("pw"),
        F.expr(f"least({_PATCH}, h - (i div n_x) * {_PATCH})")
        .cast("bigint")
        .alias("ph"),
    )


# --- mm_phash: perceptual average-hash + duplicate families -------------------

_PHASH_CELLS = 16

_PHASH_ORACLE = f"""
WITH cells AS (
  SELECT doc_id,
         i,
         CAST(('0x' || substring(md5(text || '|' || CAST(i AS VARCHAR)), 1, 4))
              AS BIGINT) % 256 AS v
  FROM documents, UNNEST(range({_PHASH_CELLS})) AS t(i)
),
bits AS (
  SELECT doc_id, i, v,
         CASE WHEN v * {_PHASH_CELLS} > SUM(v) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS b
  FROM cells
),
hashed AS (
  SELECT doc_id, CAST(SUM(b * (1 << i)) AS BIGINT) AS phash
  FROM bits GROUP BY doc_id
)
SELECT doc_id, phash,
       CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS family_size
FROM hashed
"""


@register("mm_phash", oracle=_PHASH_ORACLE, tags=("llm", "multimodal", "dedup"))
def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over decoded image grids + duplicate-family
    sizing — the near-dup primitive for IMAGE corpora, where byte-exact
    dedup (mm_dedup_binary) misses re-encodes: decode each payload to a
    16-cell luma grid (deterministic md5 fake, the mm_decode contract —
    a real decoder swaps in one function), set bit i where cell i exceeds
    the grid mean (integer-exact: v*16 > Σv), pack bits into a 16-bit
    hash, then group by hash.

    Scale shape: the decode+hash runs in ONE Arrow-batched mapInPandas
    pass (payload bytes cross the Python boundary once, nothing else
    ever does); the only exchange after it carries (doc_id, phash) pairs
    for the hash-grain family count. Even the Python path is
    oracle-checked bit-exact — proving the Arrow plumbing, not just the
    formula."""
    media = _media(spark, sf_dir)

    def hash_batches(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                if p is None:
                    # NULL payload: every cell is NULL, so no bit can clear
                    # the mean test — the oracle's CASE yields phash 0.
                    out.append(0)
                    continue
                text = bytes(p).decode("utf-8")
                v = [
                    int(
                        hashlib.md5(f"{text}|{i}".encode("utf-8")).hexdigest()[:4], 16
                    )
                    % 256
                    for i in range(_PHASH_CELLS)
                ]
                total = sum(v)
                out.append(
                    sum(
                        (1 << i)
                        for i in range(_PHASH_CELLS)
                        if v[i] * _PHASH_CELLS > total
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "phash": pd.Series(out, dtype="int64")}
            )

    hashed = media.select("doc_id", "payload").mapInPandas(
        hash_batches, schema="doc_id long, phash long"
    )
    fam = Window.partitionBy("phash")
    return hashed.select(
        "doc_id", "phash", F.count(F.lit(1)).over(fam).cast("bigint").alias("family_size")
    )


# --- mm_scene_cut: scene-boundary detection over sampled frames ----------------

_SCENE_THRESH = 96  # luma jump that counts as a hard cut

_SCENE_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         greatest(CAST(strlen(text) AS BIGINT) // 100, 1) AS n_frames
  FROM documents
),
frames AS (
  SELECT m.doc_id, t.i,
         CAST(('0x' || substring(md5(m.doc_id || ':' || t.i), 1, 8)) AS BIGINT) % 256
           AS luma
  FROM m, UNNEST(range(0, m.n_frames)) AS t(i)
),
deltas AS (
  SELECT doc_id, i, luma,
         abs(luma - LAG(luma) OVER (PARTITION BY doc_id ORDER BY i)) AS delta
  FROM frames
)
SELECT doc_id,
       COUNT(*) AS n_frames,
       CAST(SUM(CASE WHEN delta > {_SCENE_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cuts,
       CAST(coalesce(MIN(CASE WHEN delta > {_SCENE_THRESH} THEN i END), -1) AS BIGINT)
         AS first_cut_frame
FROM deltas GROUP BY doc_id
"""


@register("mm_scene_cut", oracle=_SCENE_ORACLE, tags=("llm", "multimodal"))
def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-boundary detection over the video→frames fan-out: sample one
    frame per 100 payload bytes (the mm_frame_sample contract), extract a
    per-frame luma (deterministic md5 fake — a real frame-difference
    detector swaps into the same shape), and count hard cuts where the
    inter-frame jump exceeds the threshold, with the first cut position.

    Scale shape: the frame fan-out is a pipelined generator (no shuffle);
    the lag window pays ONE doc-keyed exchange — the same exchange any
    per-video sequence op needs — and the corpus then collapses map-side
    back to the doc grain. All integer arithmetic, bit-exact in DuckDB."""
    docs = table(spark, sf_dir, "documents")
    # octet_length, not length: DuckDB strlen counts BYTES while Spark's
    # length() on a string counts characters — a >=100-byte multibyte doc
    # would land the two engines in different div-100 buckets otherwise
    # (and diverge from mm_frame_sample, which measures the utf-8 payload).
    m = docs.select(
        "doc_id",
        F.greatest(
            F.expr("CAST(octet_length(text) AS BIGINT) div 100"),
            F.lit(1).cast("bigint"),
        ).alias("n_frames"),
    )
    frames = m.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("i"),
    ).select(
        "doc_id",
        "i",
        (
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
                "CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
            % 256
        ).alias("luma"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    deltas = frames.select(
        "doc_id", "i", F.abs(F.col("luma") - F.lag("luma").over(w)).alias("delta")
    )
    cut = F.when(F.col("delta") > _SCENE_THRESH, 1).otherwise(0)
    return deltas.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(cut).cast("bigint").alias("n_cuts"),
        F.coalesce(
            F.min(F.when(F.col("delta") > _SCENE_THRESH, F.col("i"))), F.lit(-1)
        )
        .cast("bigint")
        .alias("first_cut_frame"),
    )


# --- mm_aspect_bucket: aspect-ratio bucketing for batch packing ----------------

# Training on variable-shape media requires grouping samples into
# fixed-aspect batches (SDXL-style bucketed batching: every batch is one
# resolution, so no crop/pad waste). The bucket decision is a pure
# METADATA operation — in production it consumes mm_decode's (width,
# height) columns without ever touching payload bytes; here the dims
# derive from the same md5 fake as mm_decode's decoder so both engines
# agree bit-for-bit. Nearest-ratio assignment is exact integer
# arithmetic: |w/h - a/b| compared via |w*b - a*h| * (144/b) (144 = LCM
# of the bucket denominators clears fractions), ties broken by fixed
# bucket priority, zero-dim rows quarantined to 'degenerate' — no
# doubles anywhere, so assignment can never flip on an ulp.
_ASPECT_BUCKETS = [("1:1", 1, 1), ("4:3", 4, 3), ("3:4", 3, 4), ("16:9", 16, 9), ("9:16", 9, 16)]


def _aspect_case(score):
    names = [n for n, _, _ in _ASPECT_BUCKETS]
    clauses = []
    for i, n in enumerate(names):
        later = [f"s{j}" for j in range(len(names)) if j > i]
        cond = " AND ".join(f"s{i} <= {o}" for o in later) or "TRUE"
        clauses.append(f"WHEN {cond} THEN '{n}'")
    return "CASE " + " ".join(clauses) + " END"


_ASPECT_SCORES_DUCK = ", ".join(
    f"abs(w * {b} - {a} * h) * {144 // b} AS s{i}"
    for i, (_, a, b) in enumerate(_ASPECT_BUCKETS)
)
_ASPECT_SCORES_SPARK = _ASPECT_SCORES_DUCK  # identical integer SQL

_ASPECT_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 1920 AS w,
         CAST(('0x' || substring(md5(text), 5, 4)) AS BIGINT) % 1080 AS h
  FROM documents
),
s AS (SELECT doc_id, kind, w, h, {_ASPECT_SCORES_DUCK} FROM m),
b AS (
  SELECT kind,
         CASE WHEN w = 0 OR h = 0 THEN 'degenerate'
              ELSE {_aspect_case('s')} END AS bucket,
         CASE WHEN h = 0 THEN NULL ELSE w * 1000 // h END AS aspect_milli
  FROM s
)
SELECT kind, bucket, CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(MIN(aspect_milli) AS BIGINT) AS min_aspect_milli,
       CAST(MAX(aspect_milli) AS BIGINT) AS max_aspect_milli
FROM b GROUP BY kind, bucket
"""


@register("mm_aspect_bucket", oracle=_ASPECT_ORACLE, tags=("llm", "multimodal"))
def mm_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucket assignment for fixed-shape batch packing:
    every media row lands in its nearest of five canonical ratios (1:1,
    4:3, 3:4, 16:9, 9:16) by exact integer cross-multiplication, with
    zero-dimension rows quarantined to 'degenerate' (the fixture
    contains a real w = 0 row). Reports per-(kind, bucket) counts and
    the aspect range actually observed in each bucket.

    Scale shape: a pure metadata projection (no payload bytes, no
    Python) feeding ONE map-side-combinable aggregate over the
    |kinds x buckets| cell grain — the exchange carries about a dozen
    rows per map task at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        (F.expr("cast(conv(substring(md5(text), 1, 4), 16, 10) as bigint)") % 1920).alias("w"),
        (F.expr("cast(conv(substring(md5(text), 5, 4), 16, 10) as bigint)") % 1080).alias("h"),
    )
    s = m.selectExpr("doc_id", "kind", "w", "h", *_ASPECT_SCORES_SPARK.split(", "))
    b = s.select(
        "kind",
        F.expr(
            f"CASE WHEN w = 0 OR h = 0 THEN 'degenerate' ELSE {_aspect_case('s')} END"
        ).alias("bucket"),
        F.expr("CASE WHEN h = 0 THEN NULL ELSE (w * 1000) div h END").alias(
            "aspect_milli"
        ),
    )
    return b.groupBy("kind", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_media"),
        F.min("aspect_milli").cast("bigint").alias("min_aspect_milli"),
        F.max("aspect_milli").cast("bigint").alias("max_aspect_milli"),
    )


# --- mm_audio_vad: energy-threshold voice-activity detection -------------------

# The canonical first pass of every speech pipeline: frame the signal,
# compare each frame's energy to an adaptive threshold, report the
# speech ratio and how many contiguous speech SEGMENTS exist (the
# utterance count). Frames are mm_audio_frames' 32-byte/16-hop grid with
# integer byte-sum energies; the threshold is per-media adaptive —
# a frame is speech iff energy * n_frames > total_energy (strictly
# above the media's mean frame energy), a pure integer cross-multiply
# that can never flip on a double ulp. Segment starts are counted with
# one lag() over the per-media frame sequence.
_VAD_FRAME_LEN = 32
_VAD_HOP = 16

_AUDIO_VAD_ORACLE = f"""
WITH audio AS (
  -- NULL text == NULL payload: no signal, no frames, no output row
  -- (the mm_phash NULL-payload lesson, excluded identically both sides)
  {_AUDIO_DUCK} AND text IS NOT NULL
),
frames AS (
  SELECT a.doc_id, t.i AS frame_idx,
         CAST(list_reduce(list_prepend(0,
                list_transform(range(1, strlen(substr(a.text, t.i * {_VAD_HOP} + 1,
                                                      {_VAD_FRAME_LEN})) + 1),
                               j -> ascii(substr(substr(a.text, t.i * {_VAD_HOP} + 1,
                                                        {_VAD_FRAME_LEN}), j, 1)))),
              (s, x) -> s + x) AS BIGINT) AS energy
  FROM audio a,
       UNNEST(range(0, greatest((a.n - {_VAD_FRAME_LEN}) // {_VAD_HOP} + 1, 1)))
         AS t(i)
),
flagged AS (
  SELECT doc_id, frame_idx, energy,
         CASE WHEN energy * COUNT(*) OVER (PARTITION BY doc_id)
                   > SUM(energy) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS speech
  FROM frames
),
runs AS (
  SELECT doc_id, speech,
         CASE WHEN speech = 1 AND COALESCE(lag(speech) OVER (
                PARTITION BY doc_id ORDER BY frame_idx), 0) = 0
              THEN 1 ELSE 0 END AS seg_start
  FROM flagged
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(speech) AS BIGINT) AS n_speech,
       CAST(SUM(seg_start) AS BIGINT) AS n_segments,
       ROUND(CAST(SUM(speech) AS DOUBLE) / COUNT(*), 9) AS speech_ratio
FROM runs
GROUP BY doc_id
"""


@register("mm_audio_vad", oracle=_AUDIO_VAD_ORACLE, tags=("llm", "multimodal"))
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity detection over audio payloads:
    per media, the fraction of 32-byte frames whose energy strictly
    exceeds the media's mean frame energy (integer cross-multiplied
    verdict) and the number of contiguous speech segments — the
    utterance-count / silence-trim statistic a speech data pipeline
    computes before any model sees audio. Framing reuses the
    mm_audio_frames contract (deterministic byte energies standing in
    for RMS until real codecs exist, module note); the oracle recomputes
    the whole chain in SQL, value-hash-checking the Arrow path.

    Scale shape: payload bytes cross into Python ONCE (mapInPandas over
    the binary column, emitting only (doc_id, frame_idx, energy) ints);
    the VAD windows ride per-media partitions of the frame table —
    bounded by payload/hop per media, shuffled as 3-int rows. The
    per-media threshold means no global exchange exists at all."""
    audio = (
        _media(spark, sf_dir)
        .filter((F.col("kind") == "audio") & F.col("payload").isNotNull())
        .select("doc_id", "payload")
    )

    def energy_batches(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                n_frames = max((n - _VAD_FRAME_LEN) // _VAD_HOP + 1, 1)
                for i in range(n_frames):
                    fr = b[i * _VAD_HOP : i * _VAD_HOP + _VAD_FRAME_LEN]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["energy"].append(sum(fr))
            yield pd.DataFrame(out)

    frames = audio.mapInPandas(
        energy_batches, schema="doc_id long, frame_idx long, energy long"
    )
    wp = Window.partitionBy("doc_id")
    ws = Window.partitionBy("doc_id").orderBy("frame_idx")
    flagged = frames.select(
        "doc_id", "frame_idx",
        F.when(
            F.col("energy") * F.count(F.lit(1)).over(wp)
            > F.sum("energy").over(wp),
            1,
        )
        .otherwise(0)
        .alias("speech"),
    )
    runs = flagged.select(
        "doc_id", "speech",
        F.when(
            (F.col("speech") == 1)
            & (F.coalesce(F.lag("speech").over(ws), F.lit(0)) == 0),
            1,
        )
        .otherwise(0)
        .alias("seg_start"),
    )
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("speech").cast("bigint").alias("n_speech"),
        F.sum("seg_start").cast("bigint").alias("n_segments"),
        F.round(F.sum("speech").cast("double") / F.count(F.lit(1)), 9).alias(
            "speech_ratio"
        ),
    )


# --- mm_bitrate: payload bitrate audit over the audio frame grid ---------------

# Storage/QA audit for a media lake: effective bitrate of every audio
# payload on the mm_audio_frames 32/16 grid (20 ms per frame-hop =>
# rate_bps = bytes * 8 * 50 / n_frames), bucketed to integer kbps and
# rolled up per bucket — how one finds the batch of truncated or
# over-padded uploads without decoding anything. All integer arithmetic:
# byte counts (DuckDB strlen = bytes, Spark length(binary) = bytes — the
# mm_scene_cut char/byte lesson), truncating division (// vs div, equal
# on non-negatives), integer bucket keys; one closing ROUND(9) mean.
_BITRATE_ORACLE = """
WITH a AS (
  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n
  FROM documents WHERE doc_id % 2 = 1
),
r AS (
  SELECT doc_id, n,
         greatest((n - 32) // 16 + 1, 1) AS n_frames,
         (n * 400) // greatest((n - 32) // 16 + 1, 1) AS rate_bps
  FROM a
)
SELECT rate_bps // 1000 AS kbps_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(n) AS BIGINT) AS total_bytes,
       ROUND(CAST(SUM(rate_bps) AS DOUBLE) / COUNT(*), 9) AS mean_rate_bps
FROM r
GROUP BY rate_bps // 1000
"""


@register("mm_bitrate", oracle=_BITRATE_ORACLE, tags=("llm", "multimodal"))
def mm_bitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-bitrate audit of audio payloads on the 32/16 frame grid
    (20 ms hops): integer bits-per-second per payload, bucketed to kbps,
    rolled up per bucket with counts, total bytes, and mean rate — the
    no-decode screen for truncated or padded uploads. Byte counts and
    truncating division per the family parity rules (see header).

    Scale shape: pure per-row integer projection on the payload length
    (no Python, payload bytes never shuffle — only the length), then ONE
    map-side-combinable collapse to the |buckets| grain. Scan once,
    exchange buckets."""
    audio = _media(spark, sf_dir).filter(F.col("kind") == "audio").select(
        "doc_id", F.length("payload").cast("bigint").alias("n")
    )
    n_frames = F.greatest(
        F.expr("(n - 32) div 16") + 1, F.lit(1).cast("bigint")
    )
    r = audio.select(
        "doc_id", "n",
        n_frames.alias("n_frames"),
        F.expr(
            "(n * 400) div greatest((n - 32) div 16 + 1, 1)"
        ).alias("rate_bps"),
    )
    return r.groupBy(
        F.expr("rate_bps div 1000").alias("kbps_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_media"),
        F.sum("n").cast("bigint").alias("total_bytes"),
        F.round(F.sum("rate_bps").cast("double") / F.count(F.lit(1)), 9).alias(
            "mean_rate_bps"
        ),
    )


# --- mm_modality_balance: corpus composition across modalities -----------------

# The multimodal-mix dashboard every pretraining run is planned from:
# per (modality, origin) asset counts, byte volume, and each cell's
# share of the corpus byte budget — the multimodal analog of
# llm_domain_mix. Byte counts are exact integers off the binary column;
# shares are exact ratios against a 1-row broadcast total; the skew flag
# (cell holds > 2x its uniform byte share) is an integer
# cross-multiplication.
_MODALITY_ORACLE = """
WITH m AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         source AS origin,
         CAST(strlen(text) AS BIGINT) AS n_bytes
  FROM documents
),
g AS (
  SELECT kind, origin, CAST(COUNT(*) AS BIGINT) AS n_assets,
         CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
  FROM m GROUP BY kind, origin
),
t AS (
  SELECT CAST(SUM(total_bytes) AS BIGINT) AS corpus_bytes,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM g
)
SELECT g.kind, g.origin, g.n_assets, g.total_bytes,
       ROUND(CAST(g.total_bytes AS DOUBLE) / CAST(g.n_assets AS DOUBLE), 9)
         AS avg_bytes,
       ROUND(CAST(g.total_bytes AS DOUBLE) / CAST(t.corpus_bytes AS DOUBLE), 9)
         AS byte_share,
       g.total_bytes * t.n_cells > 2 * t.corpus_bytes AS skew_flag
FROM g CROSS JOIN t
"""


@register("mm_modality_balance", oracle=_MODALITY_ORACLE, tags=("multimodal", "llm"))
def mm_modality_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition across modalities: per (kind, origin) asset
    counts, byte volume, byte share, and a storage-skew flag — the
    multimodal mix dashboard a pretraining data budget is planned from
    (llm_domain_mix's analog over the binary side of the corpus).

    Scale shape: ONE map-side-combined collapse of the media scan to the
    (modality, origin) cell grain — byte lengths are codegen over the
    binary column, payloads never shuffle; the corpus total is a 1-row
    broadcast; the skew flag is integer cross-multiplication."""
    media = _media(spark, sf_dir)
    g = media.groupBy(
        "kind", F.col("meta.origin").alias("origin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum(F.length("payload")).cast("bigint").alias("total_bytes"),
    )
    g = scoped_persist(g)
    t = g.agg(
        F.sum("total_bytes").cast("bigint").alias("corpus_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    return g.crossJoin(F.broadcast(t)).select(
        "kind",
        "origin",
        "n_assets",
        "total_bytes",
        F.round(
            F.col("total_bytes").cast("double") / F.col("n_assets").cast("double"),
            9,
        ).alias("avg_bytes"),
        F.round(
            F.col("total_bytes").cast("double")
            / F.col("corpus_bytes").cast("double"),
            9,
        ).alias("byte_share"),
        (
            F.col("total_bytes") * F.col("n_cells")
            > 2 * F.col("corpus_bytes")
        ).alias("skew_flag"),
    )
