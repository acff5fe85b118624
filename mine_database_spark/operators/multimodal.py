"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The real decoders (PIL/torchaudio/ffmpeg) are not in this container, so the
decode step is STUBBED: `decode_image_real` raises NotImplementedError; the
default pipeline uses a deterministic fake decoder (md5-derived dimensions)
so the Spark-side plumbing — schema, batch shape, UDF signature,
partitioning — is real and testable, and the fake is reproducible in SQL
for the oracle gate.

Scale notes: binary payloads stay in Arrow buffers end-to-end (no Python
row loop); batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
so executor memory holds `batch × max_blob` bytes. Partition by content hash
for even blob-size distribution.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("blob", BinaryType(), True),
        StructField("media_type", StringType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("blob_bytes", IntegerType(), False),
        StructField("fingerprint", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
    ]
)


def decode_image_real(blob: bytes):
    """Production decode path — requires an image library.

    STUB: not available in this container. The contract is: bytes -> (width,
    height, pixel array); swap in PIL/turbojpeg here.
    """
    raise NotImplementedError("image decoding requires PIL/libjpeg — not in this container")


def _fake_decode(blob: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode: dimensions derived from the
    content hash (reproducible in SQL: md5 hex slices mod 1024/768 + 1)."""
    h = hashlib.md5(blob).hexdigest()
    return int(h[:4], 16) % 1024 + 1, int(h[4:8], 16) % 768 + 1


def extract_media_features(media: DataFrame, id_col: str = "media_id", blob_col: str = "blob") -> DataFrame:
    """mapInPandas feature extraction over binary blobs (Arrow-batched)."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            blobs = pdf[blob_col].map(lambda b: bytes(b) if b is not None else b"")
            dims = blobs.map(_fake_decode)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "blob_bytes": blobs.map(len).astype("int32"),
                    "fingerprint": blobs.map(lambda b: hashlib.sha256(b).hexdigest()),
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                }
            )

    return media.select(F.col(id_col), F.col(blob_col)).mapInPandas(features, FEATURE_SCHEMA)


def frame_sample_stub(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling plumbing: emits (media_id, frame_no) rows for a
    deterministic fake frame count (blob_bytes // 1024 frames)."""
    return (
        media.withColumn("n_frames", (F.length(F.col("blob")) / 1024).cast("int") + 1)
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_no"),
        )
    )


def binary_dedup(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """Exact dedup of binary payloads with NO decode step — the multimodal
    dedup tier that works today even though image decode is dep-gated
    (decode_image_real above): identical bytes are identical media
    regardless of what they encode. Mirrors the reference's binary-blob
    ingestion need (SDF mol blocks imported as opaque blobs,
    compound_io.py:278 import_sdf).

    Per input row: (id, digest, n_copies, keep) where digest = sha2-256
    over the raw bytes, n_copies the group size, and keep marks the
    group's min-id survivor (same first-wins rule as exact_dedup; `min`
    on the id is type-agnostic — string ids work).

    Scale: ONE digest-keyed shuffle for the group stats plus the join
    back on the same key (co-partitioned — no second full shuffle of the
    hashed side under AQE). Blobs themselves never shuffle: only the
    fixed 64-char digest and the id leave the scan."""
    h = media.select(
        F.col(id_col), F.sha2(F.col(blob_col), 256).alias("digest")
    )
    # group key coalesces NULL digests (null blobs) to a sentinel: a plain
    # inner join on the digest would silently drop them (NULL never equals
    # NULL in a join key); with the sentinel they form their own group and
    # surface with digest NULL in the output
    hk = h.withColumn("__k", F.coalesce("digest", F.lit("\x00null")))
    groups = hk.groupBy("__k").agg(
        F.min(id_col).alias("__keeper"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )
    return hk.join(groups, "__k").select(
        F.col(id_col),
        "digest",
        "n_copies",
        (F.col(id_col) == F.col("__keeper")).alias("keep"),
    )


def binary_shingle_table(
    media: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "blob",
    k: int = 8,
    max_bytes: int = 4096,
    sample_mod: int = 4,
) -> DataFrame:
    """(doc_id, shingle) byte k-gram table over a binary column — the
    shingle stage of binary_neardup, factored out so the dedup-module
    MinHash/banding stack (dedup.minhash_signatures and friends) applies
    to blobs unchanged. Each shingle is the HEX of k consecutive bytes
    (2k hex chars), taken at EVERY byte offset of the blob's first
    `max_bytes` bytes, then mod-sampled: a shingle survives iff its md5's
    first-8-hex value % sample_mod == 0. Mod-sampling (the standard
    modulo-sketch trick) is SHIFT-INVARIANT — selection depends only on
    shingle content, so an insertion that offsets every later byte still
    samples the same grams, where offset-strided sampling would lose all
    alignment.

    Short blobs (1..k-1 bytes) contribute their whole hex as a single
    shingle; empty and NULL blobs contribute nothing (a payload-less row
    has no near-dup evidence — surface those via binary_dedup's NULL
    sentinel group instead). A blob whose every shingle is sampled away
    (possible below ~sample_mod grams) likewise drops out; callers
    needing guaranteed coverage of tiny blobs lower sample_mod or k.

    Scale: the gram construction is ONE scan-side expression chain
    (substring → hex → transform over a sequence) — blobs never shuffle;
    only sampled 2k-char gram strings leave the scan, at most
    (max_bytes−k+1)/sample_mod per row in expectation. The head window
    bounds per-row explode volume regardless of payload size, and is the
    right identity window for the re-encode/trailing-metadata variants
    this tier exists to catch: such variants share the head bytes and
    differ at the tail."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_bytes < k:
        raise ValueError(f"max_bytes must be >= k, got {max_bytes} < {k}")
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    # Grams are sliced from the BINARY head (byte-addressed, O(1) offset)
    # and hexed per slice — identical strings to slicing one big hex string
    # (hex(bytes[j..j+k-1]) == substr(hex(head), 2j-1, 2k)), but O(c·k) per
    # row instead of O(c²): UTF8String.substring on the 2·max_bytes-char
    # hex string seeks code points from the head on every call, the
    # quadratic the lang-ID gram extractor already documents (measured r15:
    # the seek dominated binary_neardup's scan stage). The guide-§4.1 rule:
    # keep the expression, fix its access pattern.
    head = F.expr(f"substring({blob_col}, 1, {int(max_bytes)})")
    nbytes = F.length(head).cast("int")
    grams = (
        F.when(
            nbytes >= k,
            F.transform(
                F.sequence(F.lit(1), nbytes - (k - 1)),
                lambda j: F.hex(head.substr(j, F.lit(k))),
            ),
        )
        .when(nbytes >= 1, F.array(F.hex(head)))
        .otherwise(F.array().cast("array<string>"))
    )
    sh = media.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle")
    )
    if sample_mod > 1:
        keep = (
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % sample_mod
            == 0
        )
        sh = sh.where(keep)
    return sh


def binary_neardup(
    media: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "blob",
    k: int = 8,
    max_bytes: int = 4096,
    sample_mod: int = 4,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    storage_level=None,
) -> DataFrame:
    """NEAR-dup candidate pairs over binary payloads with NO decode — the
    tier binary_dedup (exact sha256) leaves open: a re-encoded or
    trailing-metadata variant (EXIF strip, appended XMP block, archive
    re-stamp) differs in SOME bytes, so its digest differs, but its byte
    k-gram profile barely moves. Byte-level MinHash+LSH: hex k-gram
    shingles over the blob head window (binary_shingle_table, mod-sampled
    and shift-invariant), the dedup module's 16-permutation universal-
    hash MinHash, 4-row banding, distinct band-bucket pairs. Mirrors the
    ingest template's stage-6 routing need (a re-fetched asset with a new
    tracking trailer must collapse onto its original before decode).

    Per candidate pair: (a_id, b_id, n_agree, est_jaccard) with n_agree
    the count of agreeing signature positions and est_jaccard =
    n_agree/num_hashes — the sketch-side similarity of the SAMPLED gram
    sets (an unbiased estimator of the full byte-gram Jaccard), surfaced
    so a scrub policy can threshold instead of trusting the banding
    alone. Pair order is a_id < b_id (type-agnostic: string ids work).

    Scale: blobs never shuffle — grams are scan-side, signatures are ONE
    wide-form groupBy(doc_id) with num_hashes min-aggregates (map-side
    combinable), and candidate volume is banded exactly like text
    MinHash-LSH (never all-pairs; the band join's output is bounded by
    bucket sizes, auditable with the lsh_candidate_fraction recipe on
    the gram signatures if a corpus clusters weakly).

    The signature table feeds THREE plan branches (band keys + both
    n_agree join sides) and the gram explode + 16 min-aggregates behind
    it are the query's dominant cost; `storage_level` (e.g.
    MEMORY_AND_DISK — the registered form) lazily persists it across
    them. O(docs)·num_hashes ints, so pinning it is safe even at 100 TB
    where the blobs themselves never shuffle; None keeps pure recompute."""
    from mine_database_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sh = binary_shingle_table(media, id_col, blob_col, k, max_bytes, sample_mod)
    sigs = minhash_signatures(sh, num_hashes)
    if storage_level is not None:
        sigs = sigs.persist(storage_level)
    pairs = lsh_candidate_pairs(lsh_band_keys(sigs, rows_per_band))
    sa = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh_{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh_{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    n_agree = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        for i in range(num_hashes)
    ).cast("int")
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", n_agree.alias("n_agree"))
        .select(
            "a_id",
            "b_id",
            "n_agree",
            F.round(F.col("n_agree") / F.lit(float(num_hashes)), 6).alias(
                "est_jaccard"
            ),
        )
    )


def binary_profile(
    media: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "blob",
    magic_bytes: int = 4,
) -> DataFrame:
    """Format census over a binary column with NO decode: one row per
    magic prefix (the first `magic_bytes` bytes, hex — what file(1) keys
    on: ffd8ff=JPEG, 89504e47=PNG, ...), with blob count, distinct
    payloads, and size stats. The profile a pipeline runs on a new media
    source before routing blobs to typed decoders; NULL blobs group under
    a NULL prefix so missing payloads are visible, not dropped.

    Scale: scan-side prefix/length/digest expressions + one small
    groupBy(prefix) — aggregation state is O(formats), not O(blobs);
    n_distinct carries sha2 digests (fixed 64 chars), never payloads. At
    100 TB switch n_distinct to approx_count_distinct the same way
    profile_table does."""
    if magic_bytes < 1:
        raise ValueError(f"magic_bytes must be >= 1, got {magic_bytes}")
    b = media.select(
        F.hex(
            F.expr(f"substring({blob_col}, 1, {int(magic_bytes)})")
        ).alias("magic_hex"),
        F.length(F.col(blob_col)).cast("bigint").alias("nbytes"),
        F.sha2(F.col(blob_col), 256).alias("digest"),
    )
    return (
        b.groupBy("magic_hex")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blobs"),
            F.count_distinct("digest").cast("bigint").alias("n_distinct"),
            F.min("nbytes").alias("min_bytes"),
            F.max("nbytes").alias("max_bytes"),
            F.sum("nbytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy(F.col("n_blobs").desc(), "magic_hex")
    )
