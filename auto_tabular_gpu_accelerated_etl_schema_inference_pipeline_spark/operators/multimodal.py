"""Multimodal-column plumbing: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas`` (north-star
surface; the fixtures have no real image/audio, so payloads are derived
from document text and REAL decode is stubbed — the Spark-side schema,
partitioning, UDF signature and batch shapes are real and tested).

Scale design (100 TB of blobs):
- Blobs stay opaque bytes in parquet; metadata (mime, size, checksum)
  are ordinary columns so filters/pruning never touch payloads.
- Feature extraction is mapInPandas: one Arrow batch of payloads in,
  one batch of features out — embarrassingly parallel, no shuffle; batch
  size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch so
  executor memory is payload-batch-bounded, not file-bounded.
- Real decoders (PIL / torchaudio / cv2) plug into ``decode_image`` /
  ``decode_audio`` below; in this container they raise
  NotImplementedError and the deterministic fake featurizer runs instead.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, checksum_prefix string, fake_embedding_0 double"
)


def decode_image(payload: bytes):
    """Real image decode would go here (PIL.Image.open). STUB: the
    container has no imaging libs."""
    try:
        from PIL import Image  # type: ignore  # noqa: F401
    except ImportError:
        raise NotImplementedError("image decode requires PIL; not in this container")
    raise NotImplementedError("wire PIL decode here when the lib is present")


def decode_audio(payload: bytes):
    """Real audio decode would go here (soundfile/torchaudio). STUB."""
    raise NotImplementedError("audio decode requires an audio lib; not in container")


def _featurize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake featurizer over binary payloads: byte length,
    md5-prefix checksum, and one pseudo-embedding dim derived from the
    digest (stands in for a real model forward pass)."""
    for pdf in batches:
        payloads = pdf["payload"]
        digests = [hashlib.md5(p).hexdigest() for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) for p in payloads],
                "checksum_prefix": [d[:8] for d in digests],
                # first 8 hex chars -> [0, 1) float: deterministic fake
                "fake_embedding_0": [int(d[:8], 16) / 0xFFFFFFFF for d in digests],
            }
        )


#: strips everything outside printable ASCII (0x20-0x7e). The windowed
#: oracle queries index CHARACTERS (DuckDB substr) while the engine
#: windows BYTES; they agree only when every char is one byte. Applying
#: the same normalization on both sides pins that, independent of the
#: fixture vintage (a non-ASCII char in a future fixture would otherwise
#: silently desync window boundaries).
_ASCII_RE = "[^ -~]"


def with_binary_payload(docs: DataFrame, ascii_normalize: bool = False) -> DataFrame:
    """Model a multimodal table: payload = utf8 bytes of the text (the
    fixture stand-in for image/audio bytes) + typed metadata columns.
    ``ascii_normalize`` keeps byte-windowed outputs char-oracle-checkable
    (see _ASCII_RE); real ingestion leaves it off — bytes are bytes."""
    text = F.col("text")
    if ascii_normalize:
        text = F.regexp_replace(text, _ASCII_RE, "")
    payload = F.encode(text, "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("text/plain").alias("mime_type"),
        F.octet_length(payload).alias("payload_size"),
    )


def q_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column featurization through mapInPandas (Arrow batches).
    Deterministic (md5-based), so fully oracle-checkable: DuckDB mirrors
    the arithmetic on the same utf8 bytes."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = with_binary_payload(docs)
    return blobs.mapInPandas(_featurize_batches, schema=FEATURE_SCHEMA)


FRAME_BYTES = 64
MAX_FRAMES = 5

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_bytes int, frame_checksum string"


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame sampling over binary payloads — the video/audio pattern
    (decode container -> sample k frames -> per-frame features), with the
    codec stubbed to fixed-size byte windows (a real impl swaps in
    cv2.VideoCapture / torchaudio frame iteration; see decode_audio).
    1-to-N batch shape: each input row yields up to MAX_FRAMES output
    rows — the Arrow batch EXPLODES inside mapInPandas, which is exactly
    how per-frame extraction avoids materializing a frames table first."""
    for pdf in batches:
        out_doc, out_idx, out_n, out_ck = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = min(-(-len(payload) // FRAME_BYTES), MAX_FRAMES)
            for i in range(n_frames):
                chunk = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                out_doc.append(doc_id)
                out_idx.append(i)
                out_n.append(len(chunk))
                out_ck.append(hashlib.md5(chunk).hexdigest()[:8])
        yield pd.DataFrame(
            {
                "doc_id": out_doc,
                "frame_idx": out_idx,
                "frame_bytes": out_n,
                "frame_checksum": out_ck,
            }
        )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload frame sampling via exploding mapInPandas. Deterministic
    byte-window "codec" -> fully oracle-checkable (fixture text is ASCII,
    so DuckDB's char-indexed substr sees the same bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = with_binary_payload(docs, ascii_normalize=True)
    return blobs.mapInPandas(_frame_sample_batches, schema=FRAME_SCHEMA)


RESIZE_STRIDE = 4

RESIZE_SCHEMA = (
    "doc_id bigint, n_bytes_in int, n_bytes_out int, resized_checksum string"
)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Resize plumbing: payload -> smaller payload (every RESIZE_STRIDEth
    byte — the 1-D analog of nearest-neighbor downsampling; a real image
    pipeline swaps in PIL.Image.resize via decode_image). Shows the
    shrink-before-shuffle discipline: at 100 TB you resize INSIDE the
    scan stage so only thumbnails ever move."""
    for pdf in batches:
        outs = [bytes(p[::RESIZE_STRIDE]) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes_in": [len(p) for p in pdf["payload"]],
                "n_bytes_out": [len(o) for o in outs],
                "resized_checksum": [hashlib.md5(o).hexdigest()[:8] for o in outs],
            }
        )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'resize' over binary payloads via mapInPandas
    (ASCII fixture text -> DuckDB mirrors the byte decimation with
    char indexing)."""
    docs = load_table(spark, sf_dir, "documents")
    return with_binary_payload(docs, ascii_normalize=True).mapInPandas(
        _resize_batches, schema=RESIZE_SCHEMA
    )


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None):
    """Blob INGESTION: the binaryFile source reads raw files as
    (path, modificationTime, length, content) rows — how image/audio
    corpora enter the engine before with_binary_payload-style processing.
    Scale note: one task per file (combined for small files), metadata
    columns filterable without touching content; cap single-blob size via
    spark.sql.sources.binaryFile.maxLength."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


AUDIO_WINDOW = 64  # "samples" (bytes) per analysis window

AUDIO_SCHEMA = (
    "doc_id bigint, window_idx int, n_samples int, energy bigint, peak int"
)


def _audio_window_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Audio analysis plumbing: payload bytes as u8 samples, fixed-size
    windows, per-window energy (sum of squares) and peak — the
    torchaudio/librosa frame-analysis shape with the codec stubbed to
    raw bytes (a real impl decodes PCM via decode_audio first). Arrow
    batch in -> numpy vectorized per window -> exploded rows out, the
    same 1-to-N mapInPandas discipline as frame sampling; integer
    energies keep the oracle exact."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "window_idx": [], "n_samples": [], "energy": [], "peak": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            samples = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            for w in range(-(-len(samples) // AUDIO_WINDOW)):
                win = samples[w * AUDIO_WINDOW : (w + 1) * AUDIO_WINDOW]
                out["doc_id"].append(doc_id)
                out["window_idx"].append(w)
                out["n_samples"].append(len(win))
                out["energy"].append(int((win * win).sum()))
                out["peak"].append(int(win.max()))
        yield pd.DataFrame(out)


def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio-energy analysis over binary payloads via
    mapInPandas (ASCII fixture bytes -> DuckDB mirrors with ascii() over
    char windows; exact integer energy/peak)."""
    docs = load_table(spark, sf_dir, "documents")
    return with_binary_payload(docs, ascii_normalize=True).mapInPandas(
        _audio_window_batches, schema=AUDIO_SCHEMA
    )


def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-payload frame deduplication: frames whose checksum appears
    in >= 2 distinct payloads (the image/video dedup pattern — find the
    same thumbnail across a corpus). The dedup join runs on the 8-hex
    DIGEST produced inside the scan-side mapInPandas stage; frame bytes
    never shuffle — the multimodal instance of the digests-not-documents
    invariant."""
    frames = q_multimodal_frame_sample(spark, sf_dir)
    return (
        frames.groupBy("frame_checksum")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


#: intensity delta between consecutive frames that flags a scene cut
SCENE_CUT_DELTA = 200

_SCENE_SCHEMA = "doc_id bigint, frame_idx int, intensity bigint"


def _scene_frame_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-frame intensity (sum of byte values) computed INSIDE the
    scan-side mapInPandas stage — the frame-dedup discipline: only the
    8-byte-per-frame signal ever leaves the stage, never frame bytes.
    A real pipeline swaps the byte-window codec for cv2 frame decode +
    mean-pixel intensity."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "intensity": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = min(-(-len(payload) // FRAME_BYTES), MAX_FRAMES)
            for i in range(n_frames):
                chunk = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["intensity"].append(
                    int(np.frombuffer(chunk, dtype=np.uint8).sum())
                )
        yield pd.DataFrame(out)


def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection over binary payloads: consecutive-frame
    intensity deltas above SCENE_CUT_DELTA flag a cut — the shot-
    boundary primitive of video pipelines (sample frames -> cheap
    per-frame signal -> temporal diff), with the codec stubbed to byte
    windows like the rest of the multimodal lane.

    Plan shape: the Python stage emits only (doc_id, frame_idx,
    intensity); the temporal diff is a JVM-side lag() window over at
    most MAX_FRAMES rows per doc. Exact integer arithmetic end-to-end."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    frames = with_binary_payload(docs, ascii_normalize=True).mapInPandas(
        _scene_frame_batches, schema=_SCENE_SCHEMA
    )
    prev = F.lag("intensity").over(
        Window.partitionBy("doc_id").orderBy("frame_idx")
    )
    is_cut = (
        F.when(prev.isNull(), F.lit(0))
        .when(
            F.abs(F.col("intensity") - prev) > SCENE_CUT_DELTA, F.lit(1)
        )
        .otherwise(F.lit(0))
    )
    return frames.select(
        "doc_id", "frame_idx", "intensity", is_cut.cast("int").alias("is_cut")
    )


PHASH_SUB_BYTES = 16  # bytes per sub-window ("pixel block")
PHASH_MAX_BITS = 16  # signature bits = sub-windows hashed
PHASH_MAX_HAMMING = 1

_PHASH_SCHEMA = "doc_id bigint, phash bigint"


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Average-hash (aHash) signature computed INSIDE the scan-side
    mapInPandas stage: 16 sub-window intensities, bit i set iff
    n·intensity_i > Σ intensities (the integer form of 'above the
    mean' — no float mean crosses the comparison). Only the 8-byte
    signature leaves the stage, never payload bytes. A real pipeline
    swaps the byte-window codec for PIL 'resize to 4x4, threshold at
    mean pixel'."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "phash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            subs = [
                int(
                    np.frombuffer(
                        payload[i * PHASH_SUB_BYTES : (i + 1) * PHASH_SUB_BYTES],
                        dtype=np.uint8,
                    ).sum()
                )
                for i in range(
                    min(
                        -(-len(payload) // PHASH_SUB_BYTES), PHASH_MAX_BITS
                    )
                )
            ]
            n, total = len(subs), sum(subs)
            h = 0
            for i, s in enumerate(subs):
                if n * s > total:
                    h |= 1 << i
            out["doc_id"].append(doc_id)
            out["phash"].append(h)
        yield pd.DataFrame(out)


def q_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs across binary payloads:
    aHash signatures (see _phash_batches), pairs at Hamming distance
    <= 1 — the image-near-dup primitive (exact-digest dedup catches
    re-uploads; pHash catches re-encodes/crops).

    Scale shape: NOT an all-pairs scan — each doc emits its signature
    plus the 16 single-bit flips (multi-probe LSH on the Hamming ball),
    and candidates come from the EQUI-join probe == signature, which is
    lossless for d <= 1 (equal hashes meet on the identity probe; d=1
    pairs meet exactly where the flipped bit lands). One shuffle on an
    8-byte key, candidate volume proportional to true near-dup volume.
    The oracle replays signatures in SQL byte-window arithmetic and
    verifies the pair set with a naive bit_count(xor) cross join."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = with_binary_payload(docs, ascii_normalize=True).mapInPandas(
        _phash_batches, schema=_PHASH_SCHEMA
    )
    probes = sigs.select(
        F.col("doc_id").alias("a_id"),
        F.col("phash").alias("a_phash"),
        F.explode(
            F.expr(
                "concat(array(phash),"
                f" transform(sequence(0, {PHASH_MAX_BITS - 1}),"
                " i -> phash ^ shiftleft(1L, i)))"
            )
        ).alias("probe"),
    )
    right = sigs.select(
        F.col("doc_id").alias("b_id"), F.col("phash").alias("b_phash")
    )
    return (
        probes.join(right, probes.probe == right.b_phash)
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.bit_count(
                F.col("a_phash").bitwiseXOR(F.col("b_phash"))
            ).cast("int").alias("hamming"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )


QUERIES = {
    "multimodal_phash_neardup": q_multimodal_phash_neardup,
    "multimodal_scene_cuts": q_multimodal_scene_cuts,
    "multimodal_frame_dedup": q_multimodal_frame_dedup,
    "multimodal_featurize": q_multimodal_featurize,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_audio_energy": q_multimodal_audio_energy,
}

ORACLES = {
    "multimodal_phash_neardup": f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
  FROM documents
), subs AS (
  SELECT doc_id, i,
    CAST(list_sum(list_transform(
      generate_series(1, length(substr(text, i * {PHASH_SUB_BYTES} + 1,
                                       {PHASH_SUB_BYTES}))),
      j -> ascii(substr(substr(text, i * {PHASH_SUB_BYTES} + 1,
                               {PHASH_SUB_BYTES}), j, 1)))) AS BIGINT)
      AS s
  FROM norm, generate_series(0, {PHASH_MAX_BITS - 1}) AS t(i)
  WHERE i * {PHASH_SUB_BYTES} < length(text)
), sigs2 AS (
  SELECT a.doc_id,
    CAST(sum(CASE WHEN g.n * a.s > g.total THEN 1 << a.i ELSE 0 END)
      AS BIGINT) AS phash
  FROM subs a JOIN (
    SELECT doc_id, count(*) AS n, sum(s) AS total FROM subs GROUP BY 1
  ) g USING (doc_id)
  GROUP BY a.doc_id
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM sigs2 a JOIN sigs2 b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
""",
    "multimodal_scene_cuts": f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
  FROM documents
), frames AS (
  SELECT doc_id, i AS frame_idx,
    CAST(list_sum(list_transform(
      generate_series(1, length(substr(text, i * {FRAME_BYTES} + 1,
                                       {FRAME_BYTES}))),
      j -> ascii(substr(substr(text, i * {FRAME_BYTES} + 1,
                               {FRAME_BYTES}), j, 1)))) AS BIGINT)
      AS intensity
  FROM norm, generate_series(0, {MAX_FRAMES - 1}) AS t(i)
  WHERE i * {FRAME_BYTES} < length(text)
)
SELECT doc_id, frame_idx, intensity,
  CAST(CASE
    WHEN lag(intensity) OVER w IS NULL THEN 0
    WHEN abs(intensity - lag(intensity) OVER w) > {SCENE_CUT_DELTA} THEN 1
    ELSE 0 END AS INTEGER) AS is_cut
FROM frames
WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
""",
    "multimodal_frame_dedup": f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
  FROM documents
), frames AS (
  SELECT doc_id, substr(md5(substr(text, i * {FRAME_BYTES} + 1,
                                   {FRAME_BYTES})), 1, 8) AS frame_checksum
  FROM norm, generate_series(0, {MAX_FRAMES - 1}) AS t(i)
  WHERE i * {FRAME_BYTES} < length(text)
)
SELECT frame_checksum, count(DISTINCT doc_id) AS n_docs,
  count(*) AS n_occurrences
FROM frames GROUP BY frame_checksum
HAVING count(DISTINCT doc_id) >= 2
""",
    "multimodal_audio_energy": f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
  FROM documents
), wins AS (
  SELECT doc_id, text, length(text) AS n,
    unnest(generate_series(0, (length(text) - 1) // {AUDIO_WINDOW})) AS w
  FROM norm
), codes AS (
  SELECT doc_id, w,
    list_transform(
      generate_series(w * {AUDIO_WINDOW} + 1,
                      least((w + 1) * {AUDIO_WINDOW}, n)),
      i -> ascii(substr(text, i, 1))) AS cs
  FROM wins
)
SELECT doc_id, CAST(w AS INTEGER) AS window_idx,
  CAST(len(cs) AS INTEGER) AS n_samples,
  CAST(list_sum(list_transform(cs, c -> c * c)) AS BIGINT) AS energy,
  CAST(list_max(cs) AS INTEGER) AS peak
FROM codes
""",
    "multimodal_resize": f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
  FROM documents
), r AS (
  SELECT doc_id, length(text) AS n_in,
    array_to_string(list_transform(
      generate_series(1, 100000, {RESIZE_STRIDE}),
      i -> substr(text, i, 1)), '') AS resized
  FROM norm
)
SELECT doc_id, CAST(n_in AS INTEGER) AS n_bytes_in,
  CAST(length(resized) AS INTEGER) AS n_bytes_out,
  substr(md5(resized), 1, 8) AS resized_checksum
FROM r
""",
    "multimodal_frame_sample": f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
  FROM documents
), frames AS (
  SELECT doc_id, i AS frame_idx,
    substr(text, i * {FRAME_BYTES} + 1, {FRAME_BYTES}) AS chunk
  FROM norm,
    generate_series(0, {MAX_FRAMES - 1}) AS t(i)
  WHERE i * {FRAME_BYTES} < length(text)
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
  CAST(length(chunk) AS INTEGER) AS frame_bytes,
  substr(md5(chunk), 1, 8) AS frame_checksum
FROM frames
""",
    "multimodal_featurize": """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
  substr(md5(text), 1, 8) AS checksum_prefix,
  CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS DOUBLE) / 4294967295.0 AS fake_embedding_0
FROM documents
""",
}
