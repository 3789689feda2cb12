"""B-11 multimodal columns (SURVEY.md §2; training-data pipeline surface).

Images/audio/video are opaque ``binary`` payload columns with a typed
metadata struct, processed by Arrow-batched pandas functions over
``mapInPandas``. The image/audio codec libraries are NOT in this container
(mandate: stub the decode itself, keep the Spark plumbing real), so:

- ``decode_image`` is the clearly-marked stub: raises NotImplementedError.
- ``_fake_decode`` is the deterministic stand-in used by the pipeline: it
  treats the payload bytes as the "pixel" stream, so schema, partitioning,
  UDF signature, and batch shapes are all exercised for real.

Payloads here are synthesized from document text (utf-8 bytes) since the
fixtures carry no true binary media; on a real lake this is
``spark.read.format("binaryFile")`` or a parquet binary column.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud2sql_spark.catalog import load_table
from cloud2sql_spark.queries.extensions import _track
from cloud2sql_spark.registry import register


def decode_image(payload: bytes) -> "object":
    """Real image decode (PIL/cv2) — STUB: codec libs are not available in
    this environment. The Spark-side plumbing around it is real and tested
    via the deterministic fake below."""
    raise NotImplementedError(
        "image codecs not available in this container; use _fake_decode"
    )


def _with_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload column + typed metadata struct — the
    multimodal column shape (payload BINARY, meta STRUCT<format,width,
    frames>)."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("utf8-text").alias("format"),
            F.col("n_chars").cast("int").alias("width"),
            F.size(F.split("text", " ")).alias("frames"),
        ).alias("meta"),
    )


@register(
    "multimodal_cols",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           'utf8-text' AS format,
           CAST(n_chars AS INT) AS width,
           CAST(len(string_split(text, ' ')) AS INT) AS frames
    FROM documents
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + typed metadata: the storage schema for
    media at scale (payload stays opaque/columnar; metadata is queryable
    without touching bytes — column pruning skips payloads entirely for
    metadata-only queries)."""
    mm = _with_payload(load_table(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.length("payload").cast("int").alias("n_bytes"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.frames").alias("frames"),
    )


@register(
    "multimodal_decode",
    oracle="""
    WITH b AS (SELECT doc_id,
                      list_transform(string_split(text, ''), c -> ascii(c))
                          AS bytes_list
               FROM documents)
    SELECT doc_id,
           CAST(len(bytes_list) AS INT) AS n_bytes,
           CAST(list_aggregate(bytes_list, 'sum') AS DOUBLE) / len(bytes_list)
               AS mean_byte,
           CAST(list_aggregate(bytes_list, 'max') AS INT) AS max_byte
    FROM b
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Decode + feature-extract' over binary payloads via mapInPandas:
    Arrow batches of (doc_id, payload) flow into pandas, the stubbed
    decoder derives per-item features (here: byte statistics — exact
    integer sums, one IEEE division). The batch shape, schema contract,
    and partition parallelism are exactly what a PIL/ffmpeg decode would
    use; only the codec call is faked (see decode_image)."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # np.frombuffer: zero-copy byte view — the vectorized 'decode'
            # NULL payload -> NULL features (the oracle's NULL-propagation
            # shape; r13 NULL-injection probe — a None must not reach
            # np.frombuffer). int/int division == the former vectorized
            # int64-array division bit-for-bit below 2^53.
            n, means, mx = [], [], []
            for b in pdf["payload"]:
                if b is None:
                    n.append(None)
                    means.append(None)
                    mx.append(None)
                    continue
                arr = np.frombuffer(b, dtype=np.uint8)
                n.append(arr.size)
                means.append(int(arr.sum()) / arr.size)
                mx.append(int(arr.max()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(n, dtype="Int32"),
                    "mean_byte": pd.array(means, dtype="Float64"),
                    "max_byte": pd.array(mx, dtype="Int32"),
                }
            )

    return mm.mapInPandas(
        extract, "doc_id BIGINT, n_bytes INT, mean_byte DOUBLE, max_byte INT"
    )


@register(
    "multimodal_resize",
    oracle="""
    WITH b AS (SELECT doc_id,
                      list_transform(string_split(text, ''), c -> ascii(c))
                          AS bl
               FROM documents),
    s AS (SELECT doc_id, bl, len(bl) AS n FROM b)
    SELECT doc_id, CAST(n AS INT) AS n_bytes,
           array_to_string(
             [CAST(floor(CAST(list_aggregate(
                      bl[(i*n)//16 + 1 : ((i+1)*n)//16], 'sum') AS DOUBLE)
                    / (((i+1)*n)//16 - (i*n)//16) * 1000000 + 0.5) AS BIGINT)
              for i in range(0, 16)], ',') AS resized_q6
    FROM s
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' over binary payloads: area-average downsample of the byte
    stream to a fixed 16-bucket signature — the 1-D analogue of image
    thumbnailing (a real decode would produce an HxWxC array and the same
    bucketed mean runs per channel; see decode_image stub). Bucket means
    are integer sums over fixed bounds divided once in IEEE double; the
    signature is serialized as micro-scaled integers (floor(mean*1e6+0.5),
    comma-joined) because the driver's canonicalizer sorts result columns
    with pandas and cannot hash ARRAY cells (round-2 red row) — the same
    array→string repair agg_collect needed in round 1. Both sides run the
    identical IEEE double ops, so the strings match exactly. Every payload
    is one Arrow batch row; work is embarrassingly parallel over
    partitions."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        w = 16
        for pdf in batches:
            n_bytes, resized = [], []
            for b in pdf["payload"]:
                # NULL payload -> NULL row (oracle NULL-propagation; r13)
                if b is None:
                    n_bytes.append(None)
                    resized.append(None)
                    continue
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                n = arr.size
                bounds = (np.arange(w + 1) * n) // w
                sums = np.add.reduceat(arr, bounds[:-1])
                means = sums / np.diff(bounds)
                q6 = np.floor(means * 1e6 + 0.5).astype(np.int64)
                n_bytes.append(n)
                resized.append(",".join(map(str, q6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(n_bytes, dtype="Int32"),
                    "resized_q6": resized,
                }
            )

    return mm.mapInPandas(
        resize, "doc_id BIGINT, n_bytes INT, resized_q6 STRING"
    )


@register(
    "multimodal_frames",
    oracle="""
    WITH b AS (SELECT doc_id,
                      list_transform(string_split(text, ''), c -> ascii(c))
                          AS bl
               FROM documents),
    s AS (SELECT doc_id, bl, len(bl) AS n,
                 CAST(ceil(len(bl) / 64.0) AS INT) AS nf
          FROM b),
    f AS (SELECT doc_id, bl, n, unnest(range(0, nf)) AS fi FROM s)
    SELECT doc_id, fi AS frame_idx,
           CAST(least((fi+1)*64, n) - fi*64 AS INT) AS n_bytes,
           CAST(list_aggregate(bl[fi*64 + 1 : least((fi+1)*64, n)], 'sum')
                AS BIGINT) AS byte_sum
    FROM f
    WHERE fi % 4 = 0
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Frame sampling' over binary payloads: the byte stream is cut into
    fixed 64-byte frames and every 4th frame is sampled with per-frame
    stats — the video keyframe-extraction shape (a real ffmpeg decode
    would seek the same stride; see decode_image stub). One input row
    fans out to nf/4 output rows inside the Arrow batch, exactly how a
    frame sampler multiplies rows without a shuffle."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        frame, stride = 64, 4
        for pdf in batches:
            ids, idxs, sizes, sums = [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None:  # NULL payload: no frames (oracle shape; r13)
                    continue
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                n = arr.size
                nf = -(-n // frame)
                for fi in range(0, nf, stride):
                    seg = arr[fi * frame : min((fi + 1) * frame, n)]
                    ids.append(doc_id)
                    idxs.append(fi)
                    sizes.append(seg.size)
                    sums.append(int(seg.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.array(idxs, dtype="int64"),
                    "n_bytes": pd.array(sizes, dtype="int32"),
                    "byte_sum": pd.array(sums, dtype="int64"),
                }
            )

    return mm.mapInPandas(
        sample, "doc_id BIGINT, frame_idx BIGINT, n_bytes INT, byte_sum BIGINT"
    )


_AUDIO_WIN, _AUDIO_HOP = 32, 16


def _audio_energy(arr):
    """(starts, per-window byte-sum energies) for the shared 32/16 audio
    framing — the ONE definition both multimodal_audio_window and
    multimodal_audio_peaks (and their oracles) must agree with."""
    import numpy as np

    n = arr.size
    nw = (n - _AUDIO_WIN) // _AUDIO_HOP + 1
    starts = np.arange(nw) * _AUDIO_HOP
    cs = np.concatenate(([0], np.cumsum(arr, dtype=np.int64)))
    return starts, cs[starts + _AUDIO_WIN] - cs[starts]



@register(
    "multimodal_audio_window",
    oracle="""
    WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n
               FROM documents),
    s AS (SELECT doc_id, text, n,
                 CASE WHEN n >= 32 THEN (n - 32) // 16 + 1 ELSE 0 END AS nw
          FROM b),
    w AS (SELECT doc_id, text, unnest(range(0, nw)) AS win_idx FROM s),
    seg AS (SELECT doc_id, win_idx,
                   substr(text, win_idx * 16 + 1, 32) AS chunk
            FROM w)
    SELECT doc_id, win_idx,
           CAST(list_aggregate(
                    list_transform(string_split(chunk, ''), c -> ascii(c)),
                    'sum') AS BIGINT) AS energy,
           md5(chunk) AS checksum
    FROM seg
    """,
)
def multimodal_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Audio windowing' over binary payloads: fixed 32-byte windows with
    a 16-byte hop (50% overlap) — the STFT / feature-frame shape every
    audio pipeline runs before spectral features (a real pipeline would
    np.fft each window; the byte-sum 'energy' and md5 checksum stand in,
    per the codec-stub mandate — see decode_image).

    Window fan-out happens inside the Arrow batch via numpy
    sliding-window views: one input row becomes ~n/16 output rows with
    no shuffle, the same in-batch multiplication multimodal_frames uses.
    Energy is an exact integer sum; the checksum is hashlib.md5 over the
    raw window bytes, byte-identical to SQL md5 (corpus is ASCII, so the
    oracle's char slicing sees the same bytes). Embarrassingly parallel
    at any corpus size."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        size = _AUDIO_WIN
        for pdf in batches:
            ids, idxs, energies, sums = [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None:  # NULL payload: no windows (oracle shape; r13)
                    continue
                arr = np.frombuffer(b, dtype=np.uint8)
                if arr.size < size:
                    continue
                starts, e = _audio_energy(arr)
                for wi, st in enumerate(starts):
                    ids.append(doc_id)
                    idxs.append(wi)
                    energies.append(int(e[wi]))
                    sums.append(
                        hashlib.md5(arr[st:st + size].tobytes()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "win_idx": pd.array(idxs, dtype="int64"),
                    "energy": pd.array(energies, dtype="int64"),
                    "checksum": sums,
                }
            )

    return mm.mapInPandas(
        windows, "doc_id BIGINT, win_idx BIGINT, energy BIGINT, checksum STRING"
    )


@register(
    "multimodal_patchify",
    oracle="""
    WITH b AS (SELECT doc_id,
                      list_transform(string_split(text, ''), c -> ascii(c))
                          AS bl
               FROM documents),
    s AS (SELECT doc_id, bl, len(bl) AS n,
                 CAST(floor(sqrt(CAST(len(bl) AS DOUBLE))) AS INT) AS side
          FROM b WHERE len(bl) >= 16),
    p AS (SELECT doc_id, bl, side, unnest(range(0, 16)) AS pi FROM s),
    g AS (SELECT doc_id, bl, side,
                 CAST(pi // 4 AS INT) AS pr, CAST(pi % 4 AS INT) AS pc
          FROM p),
    bounds AS (
      SELECT doc_id, bl, side, pr, pc,
             (pr * side) // 4 AS r0, ((pr + 1) * side) // 4 AS r1,
             (pc * side) // 4 AS c0, ((pc + 1) * side) // 4 AS c1
      FROM g)
    SELECT doc_id, pr AS patch_row, pc AS patch_col,
           CAST((r1 - r0) * (c1 - c0) AS BIGINT) AS n_px,
           CAST(floor(CAST(list_aggregate(
                  [list_aggregate(bl[r * side + c0 + 1 : r * side + c1],
                                  'sum') for r in range(r0, r1)],
                  'sum') AS DOUBLE)
                / ((r1 - r0) * (c1 - c0)) * 1000000 + 0.5) AS BIGINT)
               AS mean_q6
    FROM bounds
    """,
)
def multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch extraction over binary payloads: the byte stream is
    viewed as a side x side 'image' (side = floor(sqrt(n)), trailing bytes
    cropped — a real decode yields HxWxC and the identical grid math runs
    per channel; see decode_image stub) and cut into a 4x4 patch grid with
    per-patch mean statistics — the transformer-vision preprocessing shape
    (patchify -> per-patch embed). One input row fans out to exactly 16
    patch rows inside the Arrow batch: no shuffle, no explode — the same
    in-batch fan-out as multimodal_frames, embarrassingly parallel over
    partitions. Patch means are exact integer sums over floor-divided grid
    bounds with ONE IEEE division, micro-quantized (floor(mean*1e6+0.5))
    like multimodal_resize — both engines compute identical doubles from
    identical integers, so the quantized values match exactly. Payloads
    shorter than 16 bytes cannot fill a 4x4 grid and are filtered on both
    sides."""
    import math

    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .filter(F.octet_length("payload") >= 16)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def patchify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        grid = 4
        for pdf in batches:
            ids, prs, pcs, npx, means = [], [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                side = int(math.floor(math.sqrt(arr.size)))
                img = arr[: side * side].reshape(side, side)
                bounds = (np.arange(grid + 1) * side) // grid
                for pr in range(grid):
                    r0, r1 = bounds[pr], bounds[pr + 1]
                    for pc in range(grid):
                        c0, c1 = bounds[pc], bounds[pc + 1]
                        block = img[r0:r1, c0:c1]
                        k = block.size
                        mean = int(block.sum()) / k
                        ids.append(doc_id)
                        prs.append(pr)
                        pcs.append(pc)
                        npx.append(k)
                        means.append(int(np.floor(mean * 1e6 + 0.5)))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "patch_row": pd.array(prs, dtype="int32"),
                    "patch_col": pd.array(pcs, dtype="int32"),
                    "n_px": pd.array(npx, dtype="int64"),
                    "mean_q6": pd.array(means, dtype="int64"),
                }
            )

    return mm.mapInPandas(
        patchify,
        "doc_id BIGINT, patch_row INT, patch_col INT, n_px BIGINT, mean_q6 BIGINT",
    )


@register(
    "dedup_media_phash",
    oracle="""
    WITH b AS (SELECT doc_id, list_transform(string_split(text, ''),
                                             c -> ascii(c)) AS bl
               FROM documents),
    s AS (SELECT doc_id, bl, len(bl) AS n FROM b WHERE len(bl) >= 60),
    tot AS (SELECT doc_id, bl, n, list_aggregate(bl, 'sum') AS t FROM s),
    sig AS (SELECT doc_id,
             list_sum([CASE WHEN list_aggregate(
                                    bl[(i*n)//60 + 1:((i+1)*n)//60], 'sum') * n
                                 > t * (((i+1)*n)//60 - (i*n)//60)
                            THEN (1::BIGINT << i) ELSE 0 END
                       for i in range(0, 60)]) AS sig
            FROM tot),
    bands AS (SELECT doc_id, sig, unnest(range(0, 12)) AS bi FROM sig),
    bv AS (SELECT doc_id, sig, bi,
                  (sig >> CAST(bi * 5 AS INT)) & 31 AS bval
           FROM bands),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sig_a,
                             b2.doc_id AS doc_b, b2.sig AS sig_b
             FROM bv a JOIN bv b2
               ON a.bi = b2.bi AND a.bval = b2.bval
              AND a.doc_id < b2.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 11
    """,
)
def dedup_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection for BINARY media payloads — the
    aHash recipe (a real image phash averages pixel blocks; here the
    payload byte stream stands in, per the module's codec-stub mandate):
    60 area-averaged blocks, bit i set when block i's mean exceeds the
    global mean — compared in EXACT integer cross-multiplication
    (block_sum * n > total * block_len, no division) — packed into a
    60-bit BIGINT kept below the sign bit (engines disagree past 1<<62).
    Candidate pairs come from 12 x 5-bit band-equality joins: a pair at
    hamming <= 11 can corrupt at most 11 bands, so one band survives —
    the dedup_simhash pigeonhole, giving EXACT recall at the threshold,
    never all-pairs. Signatures are numpy per Arrow batch; the verify is
    codegen bit_count(xor). Re-encoded/resized media that keeps gross
    structure lands within the threshold; the oracle replays the
    identical integer pipeline."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .filter(F.octet_length("payload") >= 60)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        nb = 60
        shifts = np.arange(nb, dtype=np.int64)
        for pdf in batches:
            m = len(pdf)
            if not m:
                continue
            # Whole-batch vectorization (r15, guide §4.2 — the Arrow
            # binary column is one contiguous buffer + offsets, so block
            # sums for EVERY doc come from a single reduceat over the
            # concatenated bytes): the former per-doc Python loop ran
            # |docs| small numpy calls per batch. Per-doc bounds are
            # strictly increasing (octet_length >= 60 upstream), and
            # doc d's last block ends at doc d+1's first bound == d's
            # end offset, so the flattened reduceat segments tile the
            # buffer exactly. A/B best-of-4: 1.37 -> 1.28s; pairs
            # identical.
            lens = np.fromiter(
                (len(b) for b in pdf["payload"]), dtype=np.int64, count=m
            )
            buf = np.frombuffer(
                b"".join(pdf["payload"]), dtype=np.uint8
            ).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            i = np.arange(nb, dtype=np.int64)
            bounds = (
                starts[:, None] + (i[None, :] * lens[:, None]) // nb
            ).ravel()
            sums = np.add.reduceat(buf, bounds).reshape(m, nb)
            tots = sums.sum(axis=1)
            blens = np.diff(
                np.concatenate(
                    [bounds.reshape(m, nb), (starts + lens)[:, None]], axis=1
                ),
                axis=1,
            )
            bits = (sums * lens[:, None]) > (tots[:, None] * blens)
            sigs = (bits.astype(np.int64) << shifts[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "sig": pd.array(sigs, dtype="int64")}
            )

    sig = _track(mm.mapInPandas(phash, "doc_id BIGINT, sig BIGINT").persist())
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("bi"),
    ).withColumn(
        "bval", F.expr("shiftright(sig, CAST(bi * 5 AS INT))") % 32
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "bi", "bval"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "bi", "bval"
    )
    cand = (
        a.join(b, ["bi", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "sig_a", "doc_b", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 11)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "multimodal_scene_cut",
    oracle="""
    WITH b AS (SELECT doc_id,
                      list_transform(string_split(text, ''), c -> ascii(c))
                          AS bl
               FROM documents),
    p AS (SELECT doc_id, unnest(range(1, len(bl) + 1)) AS i, bl FROM b),
    pv AS (SELECT doc_id, i, bl[i] AS val FROM p),
    d AS (
      SELECT a.doc_id, CAST((a.i - 1) // 64 AS INT) AS frame_idx,
             abs(a.val - prev.val) AS ad
      FROM pv a JOIN pv prev
        ON a.doc_id = prev.doc_id AND prev.i = a.i - 64
      WHERE a.i > 64),
    fd AS (
      SELECT doc_id, frame_idx, CAST(sum(ad) AS BIGINT) AS diff_l1
      FROM d GROUP BY doc_id, frame_idx),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_diffs,
             CAST(sum(diff_l1) AS BIGINT) AS total_diff
      FROM fd GROUP BY doc_id)
    SELECT f.doc_id, f.frame_idx, f.diff_l1
    FROM fd f JOIN tot t ON f.doc_id = t.doc_id
    WHERE f.diff_l1 * t.n_diffs > 2 * t.total_diff
    """,
)
def multimodal_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the binary video stand-in: payloads cut
    into 64-byte frames (the multimodal_frames raster), consecutive
    frames compared by aligned-position L1 distance, and a CUT flagged
    where a frame's distance exceeds 2x the document's mean inter-frame
    distance — the adaptive-threshold frame-differencing recipe, with
    the threshold as the integer cross-multiplication
    diff·n_diffs > 2·total (no doubles, no per-doc second pass). All
    per-document math runs vectorized inside ONE Arrow batch (numpy
    shifted-difference + reduceat per-frame sums — in-batch fan-out, no
    shuffle, no self-join); a real decoder would replace the byte
    raster per the module codec-stub mandate. The oracle replays the
    math as a position self-join — algorithm-diverse from the
    vectorized path. The final frame's partial overlap compares only
    positions present in both frames."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, fids, diffs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # NULL payload: no cuts (oracle; r13)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = arr.size
                if n <= 64:
                    continue
                d = np.abs(arr[64:] - arr[:-64])
                bounds = np.arange(0, d.size, 64)
                fd = np.add.reduceat(d, bounds)
                n_diffs = fd.size
                total = int(fd.sum())
                cut = fd * n_diffs > 2 * total
                for f in np.nonzero(cut)[0]:
                    ids.append(doc_id)
                    fids.append(int(f) + 1)
                    diffs.append(int(fd[f]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(fids, dtype="int32"),
                    "diff_l1": pd.array(diffs, dtype="int64"),
                }
            )

    return mm.mapInPandas(cuts, "doc_id BIGINT, frame_idx INT, diff_l1 BIGINT")


@register(
    "multimodal_audio_peaks",
    oracle="""
    WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n
               FROM documents),
    s AS (SELECT doc_id, text, n,
                 CASE WHEN n >= 32 THEN (n - 32) // 16 + 1 ELSE 0 END AS nw
          FROM b),
    w AS (SELECT doc_id, text, nw, unnest(range(0, nw)) AS win_idx FROM s),
    e AS (SELECT doc_id, win_idx, nw,
                 CAST(list_aggregate(
                          list_transform(
                              string_split(substr(text, win_idx * 16 + 1, 32),
                                           ''),
                              c -> ascii(c)),
                          'sum') AS BIGINT) AS energy
          FROM w),
    lagged AS (
      SELECT doc_id, win_idx, energy, nw,
             lag(energy)  OVER (PARTITION BY doc_id ORDER BY win_idx)
                 AS prev_e,
             lead(energy) OVER (PARTITION BY doc_id ORDER BY win_idx)
                 AS next_e,
             sum(energy)  OVER (PARTITION BY doc_id) AS tot_e
      FROM e)
    SELECT doc_id, CAST(win_idx AS INT) AS win_idx, energy
    FROM lagged
    WHERE prev_e IS NOT NULL AND next_e IS NOT NULL
      AND energy > prev_e AND energy > next_e
      AND energy * nw > tot_e
    """,
)
def multimodal_audio_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-peak picking over the audio-window energy track — the
    constellation step of an audio fingerprinter (Wang 2003): a window
    is a PEAK when its energy strictly exceeds both neighbours AND the
    per-document mean (the integer cross-multiplication
    energy·n_windows > total — no division). Windowing/energy reuse the
    multimodal_audio_window 32/16 framing; the peak test is two lag/lead
    windows plus one per-doc sum on the SAME (doc, win_idx) partitioning
    — a single shuffle over the window rows, embarrassingly parallel by
    document. A real pipeline would FFT each window and peak-pick per
    frequency band; the byte-energy track stands in per the module's
    codec-stub mandate."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, idxs, es = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # NULL payload: no windows (oracle; r13)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                if arr.size < _AUDIO_WIN:
                    continue
                starts, window_sums = _audio_energy(arr)
                nw = starts.size
                ids.extend([doc_id] * nw)
                idxs.extend(range(nw))
                es.extend(int(x) for x in window_sums)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "win_idx": pd.array(idxs, dtype="int32"),
                    "energy": pd.array(es, dtype="int64"),
                }
            )

    e = mm.mapInPandas(energies, "doc_id BIGINT, win_idx INT, energy BIGINT")
    wdoc = Window.partitionBy("doc_id")
    word = wdoc.orderBy("win_idx")
    lagged = e.select(
        "doc_id",
        "win_idx",
        "energy",
        F.lag("energy").over(word).alias("prev_e"),
        F.lead("energy").over(word).alias("next_e"),
        F.sum("energy").over(wdoc).alias("tot_e"),
        F.count(F.lit(1)).over(wdoc).alias("nw"),
    )
    return lagged.filter(
        F.col("prev_e").isNotNull()
        & F.col("next_e").isNotNull()
        & (F.col("energy") > F.col("prev_e"))
        & (F.col("energy") > F.col("next_e"))
        & (F.col("energy") * F.col("nw") > F.col("tot_e"))
    ).select("doc_id", "win_idx", "energy")


@register(
    "multimodal_silence_segments",
    oracle="""
    WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n
               FROM documents),
    s AS (SELECT doc_id, text, n,
                 CASE WHEN n >= 32 THEN (n - 32) // 16 + 1 ELSE 0 END AS nw
          FROM b),
    w AS (SELECT doc_id, text, nw, unnest(range(0, nw)) AS win_idx FROM s),
    e AS (SELECT doc_id, win_idx, nw,
                 CAST(list_aggregate(
                          list_transform(
                              string_split(substr(text, win_idx * 16 + 1, 32),
                                           ''),
                              c -> ascii(c)),
                          'sum') AS BIGINT) AS energy
          FROM w),
    t AS (SELECT doc_id, win_idx, energy, nw,
                 sum(energy) OVER (PARTITION BY doc_id) AS tot_e
          FROM e),
    sil AS (
      SELECT doc_id, win_idx,
             win_idx - row_number() OVER (PARTITION BY doc_id
                                          ORDER BY win_idx) AS isle
      FROM t WHERE energy * 2 * nw < tot_e),
    runs AS (
      SELECT doc_id, isle, CAST(count(*) AS BIGINT) AS run_len
      FROM sil GROUP BY doc_id, isle)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           CAST(sum(run_len) AS BIGINT) AS n_silent_windows
    FROM runs GROUP BY doc_id
    """,
)
def multimodal_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-segment detection over the audio-energy track — windows
    whose energy sits below HALF the per-document mean (integer
    cross-multiplication energy·2·nw < total, no division) merge into
    maximal consecutive runs, the trim/split points a speech pipeline
    cuts on before transcription. Framing/energy reuse the shared 32/16
    _audio_energy contract; run detection is the win_idx − row_number
    gaps-and-islands constant-offset trick on the SAME per-doc
    partitioning as the energy windows — one shuffle by document,
    embarrassingly parallel, state bounded by the longest single
    recording. Docs with no silent window (or too short to frame)
    correctly emit nothing. The byte-energy track stands in for a real
    decoder per the module's codec-stub mandate."""
    mm = (
        _with_payload(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "payload")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, idxs, es = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # NULL payload: no windows (oracle; r13)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                if arr.size < _AUDIO_WIN:
                    continue
                starts, window_sums = _audio_energy(arr)
                nw = starts.size
                ids.extend([doc_id] * nw)
                idxs.extend(range(nw))
                es.extend(int(x) for x in window_sums)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "win_idx": pd.array(idxs, dtype="int32"),
                    "energy": pd.array(es, dtype="int64"),
                }
            )

    e = mm.mapInPandas(energies, "doc_id BIGINT, win_idx INT, energy BIGINT")
    wdoc = Window.partitionBy("doc_id")
    t = e.select(
        "doc_id",
        "win_idx",
        "energy",
        F.sum("energy").over(wdoc).alias("tot_e"),
        F.count(F.lit(1)).over(wdoc).alias("nw"),
    )
    sil = t.filter(
        F.col("energy") * 2 * F.col("nw") < F.col("tot_e")
    ).select(
        "doc_id",
        (
            F.col("win_idx")
            - F.row_number().over(wdoc.orderBy("win_idx"))
        ).alias("isle"),
    )
    runs = sil.groupBy("doc_id", "isle").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len")
    )
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.max("run_len").cast("bigint").alias("longest_run"),
        F.sum("run_len").cast("bigint").alias("n_silent_windows"),
    )
