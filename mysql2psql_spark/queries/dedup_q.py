"""Scale-path dedup + multimodal queries.

Both probabilistic-candidate operators carry EXACT SQL oracles:

- dedup_minhash_lsh exact-verifies its banding candidates (output =
  pairs with true Jaccard >= 0.5), and the banding threshold (~0.59 for
  b=8, r=4) sits far below the fixture's true-pair Jaccard floor (0.89),
  so recall is 1 and the output equals the all-pairs answer — which the
  oracle computes directly (size-window blocked, lossless for J >= 0.5).
  tests/test_operators.py pins the recall=1 premise against the
  unblocked truth.
- dedup_simhash is restated in SQL wholesale: features use a 60-bit
  md5-prefix hash both engines compute bit-for-bit, the oracle rebuilds
  the per-bit majority fingerprint with 60 conditional sums, and the
  8x8 pigeonhole banding is lossless for hamming <= 7, so the oracle is
  just the Hamming filter over the XOR popcount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql2psql_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
from mysql2psql_spark.operators.multimodal import extract_features, with_binary_payload
from mysql2psql_spark.operators.text import shingle_hash_table
from mysql2psql_spark.queries import query
from mysql2psql_spark.sources import load_table
from mysql2psql_spark.queries.text_q import _SHINGLE_SQL

_JACCARD = """CAST(LEN(LIST_INTERSECT(a.sg, b.sg)) AS DOUBLE)
                 / (LEN(a.sg) + LEN(b.sg) - LEN(LIST_INTERSECT(a.sg, b.sg)))"""


def _doc_table_parts(spark: SparkSession, sf_dir: str) -> int:
    """Partition width for DOC-COUNT-sized persisted frames (the minhash
    per-doc array tables), derived from the documents table's on-disk
    bytes — guide §2.5 / the _bpe_vocab_parts class: these frames hold
    one row per document, but their aggregation exchanges run at the
    session shuffle width and a persisted plan's exchange is never
    AQE-coalesced, so every consumer stage schedules session-width
    partitions of near-empty tasks. 256 KB of corpus per slot keeps the
    fixture's frames a handful of partitions while any real corpus
    saturates the cluster; width caps at defaultParallelism either way
    (scale-adaptive, never a local constant)."""
    import os

    from mysql2psql_spark.sources.parquet import path_stat

    width = spark.sparkContext.defaultParallelism
    try:
        _, nbytes = path_stat(os.path.realpath(f"{sf_dir}/documents.parquet"))
    except OSError:
        return width
    return int(max(2, min(width, (nbytes + (256 << 10) - 1) // (256 << 10))))


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND({_JACCARD}, 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.doc_id < b.doc_id
         AND LEN(b.sg) BETWEEN CAST(CEIL(LEN(a.sg) * 0.5) AS BIGINT)
                           AND CAST(FLOOR(LEN(a.sg) * 2.0) AS BIGINT)
    WHERE {_JACCARD} >= 0.5
    """,
)
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    """RECALL PREMISE of the exact oracle: the oracle is the all-pairs
    J >= 0.5 answer, which equals the LSH output only because (a) the
    fixture corpus has no pairs with true Jaccard in [0.5, ~0.89) — its
    planted near-dups all sit >= 0.89, far above the 8x4 banding
    threshold (~0.59) — and (b) banding recall at J >= 0.89 is
    ~1 - 4e-4 per pair under the fixed xxhash64 seeds. A different
    corpus, seed set, or banding geometry can make a CORRECT
    implementation miss a borderline pair and fail this oracle; the
    premise itself is pinned in
    tests/test_operators.py::test_minhash_agrees_with_exact.

    ``shingles`` lets a composing caller (dedup_recall_gate) pass the
    shared persisted shingle-hash frame instead of re-deriving it —
    the r11 shared-artifact posture, r12-extended to the dedup family."""
    if shingles is None:
        d = load_table(spark, sf_dir, "documents")
        shingles = shingle_hash_table(d)
    return minhash_lsh_pairs(shingles, threshold=0.5)


def _simhash_oracle(max_hamming: int = 7, bits: int = 60) -> str:
    """DuckDB SQL computing the identical SimHash pair set: md5-prefix
    60-bit feature hashes -> per-bit majority fingerprint -> Hamming
    filter (banding is pigeonhole-lossless for hamming <= 7, so the
    candidate step needs no SQL restatement)."""
    majority = "\n           + ".join(
        f"CASE WHEN 2 * SUM((h >> {i}) & 1) > COUNT(*)"
        f" THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    WITH sg AS ({_SHINGLE_SQL}),
    feat AS (
      SELECT DISTINCT doc_id,
             CAST(CONCAT('0x', SUBSTR(MD5(g), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, UNNEST(sg) AS g FROM sg)
    ),
    fp AS (
      SELECT doc_id,
             ( {majority} ) AS f
      FROM feat GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(BIT_COUNT(XOR(a.f, b.f)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.f, b.f)) <= {max_hamming}
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    # SimHash features = 3-word shingle hashes (unigram features are
    # useless on a small vocabulary: every doc has nearly the same word
    # set, so unigram SimHashes collide corpus-wide). portable=True uses
    # the md5-prefix hash so the oracle rebuilds identical fingerprints.
    # ``shingles`` lets a composing caller (dedup_method_agreement) pass
    # the shared persisted shingle-hash frame instead of re-deriving it
    # — the same shared-artifact posture minhash/ngram already carry.
    if shingles is None:
        d = load_table(spark, sf_dir, "documents")
        # the default (arrow) shingle engine always emits the portable
        # md5-prefix hash, so the oracle rebuilds identical fingerprints
        shingles = shingle_hash_table(d)
    pairs = simhash_pairs(shingles, max_hamming=7)
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload -> Arrow-batched mapInPandas feature
# extraction. The deterministic stub (size + 4-byte magic hex) is fully
# oracle-checkable, so the Spark-side contract is hash-verified even though
# the real codec is stubbed.
# ---------------------------------------------------------------------------
@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS n_bytes,
           SUBSTR(UPPER(HEX(ENCODE(text))), 1, 8) AS head_hex
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return extract_features(with_binary_payload(d))


# Frame sampling (video keyframe shape): 16-byte frames, every 4th kept.
# The oracle restates the chunking as hex-substring arithmetic.
@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(j AS INT) AS frame_idx,
           UPPER(SUBSTR(HEX(ENCODE(text)), CAST(j AS INT) * 32 + 1, 32)) AS frame_hex
    FROM documents,
         LATERAL (SELECT UNNEST(RANGE(0, CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / 16.0) AS INT), 4)) AS j)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(d))


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the exact-Jaccard pair
# graph, cluster id = min reachable doc id (the canonical-representative
# step after candidate generation). The oracle walks the same graph with
# a recursive CTE.
# ---------------------------------------------------------------------------
from mysql2psql_spark.queries import ORACLE as _ORACLE_REG  # noqa: E402
from mysql2psql_spark.queries.text_q import dedup_ngram_jaccard  # noqa: E402

_PAIRS_SQL = _ORACLE_REG["dedup_ngram_jaccard"]


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      WHERE e.dst != r.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.dedup import connected_components

    return connected_components(dedup_ngram_jaccard(spark, sf_dir))


# ---------------------------------------------------------------------------
# Canonical-survivor materialization: the step a dedup pipeline actually
# ships — drop every near-dup cluster member except the canonical (min
# doc id) representative, keep everything unclustered. The pair graph is
# tiny relative to the corpus (near-dups are rare), so the anti-join
# broadcasts the duplicate list; the corpus itself never shuffles.
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      WHERE e.dst != r.src
    ),
    dupes AS (
      SELECT src AS doc_id FROM reach
      GROUP BY src HAVING LEAST(src, MIN(dst)) != src
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dupes)
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    cc = connected_components(dedup_ngram_jaccard(spark, sf_dir))
    dupes = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    # the duplicate list is pair-graph-sized (tiny); broadcast it so the
    # corpus-side anti-join is map-side — no corpus shuffle
    return d.join(F.broadcast(dupes), "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------------
# REAL audio decode: deterministic PCM16 WAV payloads are synthesized
# per document (valid RIFF containers), then decoded by the actual
# chunk-walking parser (operators/multimodal.py::decode_wav_pcm16) and
# reduced to integer-exact features. The oracle computes the same
# features from the generating formula — if the RIFF parse, PCM decode,
# or feature math were wrong anywhere, the hashes would diverge.
# ---------------------------------------------------------------------------
@query(
    "multimodal_wav_features",
    oracle="""
    WITH samp AS (
      SELECT doc_id, i, ((doc_id * 31 + i * 7) % 2048) - 1024 AS s
      FROM (SELECT doc_id, UNNEST(RANGE(0, 400 + doc_id % 97)) AS i
            FROM documents)
    ),
    lagged AS (
      SELECT doc_id, i, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM samp
    )
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(MAX(i) + 1 AS INT) AS n_samples,
           CAST(MAX(ABS(s)) AS INT) AS peak_abs,
           CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
           CAST(COALESCE(SUM(CASE WHEN CAST(s AS BIGINT) * prev < 0
                                  THEN 1 ELSE 0 END), 0) AS INT) AS n_zero_cross
    FROM lagged GROUP BY doc_id
    """,
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from mysql2psql_spark.operators.multimodal import encode_wav_pcm16, wav_features

    # fanout reverted (r18, VERDICT r17 #1): the r17 isolated A/B read
    # 0.979 -> 0.869 (marginal) but every committed artifact since reads
    # the fanned shape at ~2x the 0.373/0.453 pre-fanout floors (final2
    # 0.696/0.624, r18 baseline 0.900/0.645 under 1.25x ambient) — the
    # ~400-sample synth is too light per row to pay the exchange, the
    # same class as the rejected BMP/frame flips. vad_spans (4x the
    # samples per row) keeps its fanout: its artifacts support it
    # (1.251 -> 1.055 driver ground truth, 0.956 r18 baseline).
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                n = 400 + int(doc_id) % 97
                i = np.arange(n, dtype=np.int64)
                s = (int(doc_id) * 31 + i * 7) % 2048 - 1024
                rows.append((int(doc_id), encode_wav_pcm16(s)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return wav_features(payloads)


# ---------------------------------------------------------------------------
# Audio framing over REAL-decoded PCM: the spectrogram/VAD precursor —
# fixed 160-sample windows over the decoded stream, one row per frame
# with integer-exact energy, trailing partial frame kept at true length.
# Same deterministic WAV synthesis as multimodal_wav_features, so the
# oracle recomputes every frame energy from the generating formula: a
# wrong chunk walk, sample decode, frame boundary, or tail handling all
# diverge the hashes.
# ---------------------------------------------------------------------------
@query(
    "multimodal_audio_frames",
    oracle="""
    WITH samp AS (
      SELECT doc_id, i, ((doc_id * 31 + i * 7) % 2048) - 1024 AS s
      FROM (SELECT doc_id, UNNEST(RANGE(0, 400 + doc_id % 97)) AS i
            FROM documents)
    )
    SELECT doc_id,
           CAST(i // 160 AS INT) AS frame_idx,
           CAST(COUNT(*) AS INT) AS n_frame_samples,
           CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS frame_energy
    FROM samp
    GROUP BY doc_id, i // 160
    """,
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from mysql2psql_spark.operators.multimodal import audio_frame_energies, encode_wav_pcm16

    # fanout reverted (r18) — see multimodal_wav_features: same synth
    # weight, same artifact-regression evidence.
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                n = 400 + int(doc_id) % 97
                i = np.arange(n, dtype=np.int64)
                s = (int(doc_id) * 31 + i * 7) % 2048 - 1024
                rows.append((int(doc_id), encode_wav_pcm16(s)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return audio_frame_energies(payloads, frame_samples=160)


# ---------------------------------------------------------------------------
# QUEUED (r15+ registration per the window budget): energy-threshold VAD
# segmentation over REAL-decoded PCM (operators/multimodal.py::
# vad_spans) — the voice-activity step an audio pipeline runs before
# ASR/feature extraction, and the natural consumer of the framing
# operator above. The synthesized WAV alternates voiced and quiet
# regions BY CONSTRUCTION (every third 160-sample frame carries a
# near-silent ±4 signal, the rest the full ±1024 ramp), so the span
# merge is exercised non-trivially: ~3-6 spans per document with
# varying tails. The voiced test is the integer cross-multiplication
# frame_energy >= 1000 * n_frame_samples (no division in either
# engine); spans come from the gaps-and-islands subtraction; every
# output value is an exact integer. A wrong RIFF walk, PCM decode,
# frame boundary, threshold compare, or island merge diverges the
# hashes.
#
# Scale shape: decode fan-out is partition-local and payload-bounded;
# the islands windows partition by doc_id (per-partition state = one
# document's frames, never the corpus); the span agg is map-side
# combined on (doc_id, island).
#
# r14 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 (2,015 rows), sf0.01 (2,015), sf0.1
# (22,744); python replay of the full decode->frame->threshold->merge
# chain pinned on hand-built payloads incl. an all-quiet document
# (zero spans) and an all-voiced one (one spanning island)
# (tests/test_operators.py). 5x documents replica probe: x1.1 wall at
# x5 rows with x5 output (decode-bound, linear). First 7-rep
# interleaved median 1.29 s at sf0.1 (loadavg 4-5, control
# multimodal_audio_frames at 0.536 s median in the same reps).
# ---------------------------------------------------------------------------
_ORACLE_VAD_SPANS = """
    WITH samp AS (
      SELECT doc_id, i,
             CASE WHEN (i // 160) % 3 = 0 THEN ((doc_id + i) % 8) - 4
                  ELSE ((doc_id * 31 + i * 7) % 2048) - 1024 END AS s
      FROM (SELECT doc_id, UNNEST(RANGE(0, 1600 + doc_id % 997)) AS i
            FROM documents)
    ),
    frames AS (
      SELECT doc_id, CAST(i // 160 AS INT) AS frame_idx,
             CAST(COUNT(*) AS INT) AS n,
             CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS fe
      FROM samp GROUP BY doc_id, i // 160
    ),
    voiced AS (
      SELECT doc_id, frame_idx, fe,
             frame_idx - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY frame_idx
             ) AS isl
      FROM frames WHERE n > 0 AND fe >= 1000 * n
    ),
    spans AS (
      SELECT doc_id, isl,
             MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
             CAST(COUNT(*) AS INT) AS n_frames,
             CAST(SUM(fe) AS BIGINT) AS span_energy
      FROM voiced GROUP BY doc_id, isl
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY start_frame
           ) AS INT) AS span_idx,
           start_frame, end_frame, n_frames, span_energy
    FROM spans
"""


@query("multimodal_vad_spans", oracle=_ORACLE_VAD_SPANS)
def multimodal_vad_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD spans over gated synthetic WAV — see the block above."""
    import numpy as np
    import pandas as pd

    from mysql2psql_spark.operators.multimodal import encode_wav_pcm16, vad_spans

    d = load_table(spark, sf_dir, "documents", fanout=True).select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                n = 1600 + int(doc_id) % 997
                i = np.arange(n, dtype=np.int64)
                quiet = (i // 160) % 3 == 0
                s = np.where(
                    quiet,
                    (int(doc_id) + i) % 8 - 4,
                    (int(doc_id) * 31 + i * 7) % 2048 - 1024,
                )
                rows.append((int(doc_id), encode_wav_pcm16(s)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return vad_spans(payloads, frame_samples=160, energy_per_sample=1000)


# ---------------------------------------------------------------------------
# REAL image decode + resize: deterministic 24bpp BMPs are synthesized
# per document (valid containers, size varying per doc), decoded by the
# actual header-validating parser, nearest-neighbor-resized on the real
# integer sampling grid, and reduced to integer channel sums. The oracle
# recomputes the sums from the pixel formula over the same grid — a
# wrong header parse, row-padding slip, BGR mixup, or resize-grid
# off-by-one all diverge the hashes.
# ---------------------------------------------------------------------------
@query(
    "multimodal_image_resize",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 12 + doc_id % 5 AS w, 10 + doc_id % 7 AS h
      FROM documents
    ),
    grid AS (
      SELECT doc_id,
             (i * h) // 8 AS sy, (j * w) // 8 AS sx
      FROM dims, RANGE(0, 8) t1(i), RANGE(0, 8) t2(j)
    )
    SELECT doc_id, 8 AS width, 8 AS height,
           CAST(SUM((doc_id * 13 + sx * 7 + sy * 3) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id * 13 + sx * 7 + sy * 3 + 85) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id * 13 + sx * 7 + sy * 3 + 170) % 256) AS BIGINT) AS sum_b
    FROM grid GROUP BY doc_id
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from mysql2psql_spark.operators.multimodal import encode_bmp24, image_resize_features

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                k = int(doc_id)
                w, h = 12 + k % 5, 10 + k % 7
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                base = k * 13 + x * 7 + y * 3
                px = np.stack(
                    [base % 256, (base + 85) % 256, (base + 170) % 256], axis=2
                ).astype(np.uint8)
                rows.append((k, encode_bmp24(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return image_resize_features(payloads, out_h=8, out_w=8)


# ---------------------------------------------------------------------------
# Incremental (cross-run) dedup: flag each NEW-batch document whose
# content fingerprint already exists in the standing corpus — the gate a
# continuously-ingesting training pipeline runs on every batch instead
# of re-deduping the whole corpus. Corpus membership is a 16-byte md5
# per doc; the join is hash-keyed (uniform) and the batch side is the
# small one, so at 100 TB the batch fingerprints broadcast and the
# corpus streams through untouched. The 80/20 corpus/batch split is
# deterministic (doc_id % 10) so the oracle states the identical split.
# ---------------------------------------------------------------------------
@query(
    "dedup_incremental",
    oracle="""
    WITH fps AS (SELECT doc_id, MD5(text) AS fp FROM documents),
    corpus AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8)
    SELECT f.doc_id, f.fp, (c.fp IS NOT NULL) AS dup_of_corpus
    FROM fps f LEFT JOIN corpus c USING (fp)
    WHERE f.doc_id % 10 >= 8
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fps = d.select("doc_id", F.md5("text").alias("fp"))
    corpus = (
        fps.filter(F.col("doc_id") % 10 < 8)
        .select("fp")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    batch = fps.filter(F.col("doc_id") % 10 >= 8)
    return batch.join(corpus, "fp", "left").select(
        "doc_id", "fp", F.coalesce(F.col("_hit"), F.lit(False)).alias("dup_of_corpus")
    )


# ---------------------------------------------------------------------------
# Perceptual image hash (aHash) over REAL-decoded BMPs — the image-side
# near-dup fingerprint (SimHash's visual analogue: near-identical images
# differ in a few bits; band the halves, verify by popcount). Same
# verification scheme as the other multimodal ops: payloads are
# synthesized from a deterministic pixel formula, the engine decodes the
# actual BMP bytes and integer-downsamples, and the oracle recomputes
# the identical integer math from the generating formula — any parse,
# sampling-grid, or threshold bug diverges the hash.
# ---------------------------------------------------------------------------
@query(
    "multimodal_image_ahash",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 12 + doc_id % 5 AS w, 10 + doc_id % 7 AS h
      FROM documents
    ),
    g AS (
      SELECT doc_id, i * 8 + j AS idx,
             (((doc_id*13 + ((j*w)//8)*7 + ((i*h)//8)*3) % 256)
            + ((doc_id*13 + ((j*w)//8)*7 + ((i*h)//8)*3 + 85) % 256)
            + ((doc_id*13 + ((j*w)//8)*7 + ((i*h)//8)*3 + 170) % 256)) // 3 AS gray
      FROM dims, RANGE(0, 8) t1(i), RANGE(0, 8) t2(j)
    ),
    m AS (
      SELECT doc_id, idx, gray,
             SUM(gray) OVER (PARTITION BY doc_id) // 64 AS mean
      FROM g
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN gray > mean AND idx >= 32
                         THEN CAST(1 AS BIGINT) << (idx - 32) ELSE 0 END) AS BIGINT) AS ahash_hi,
           CAST(SUM(CASE WHEN gray > mean AND idx < 32
                         THEN CAST(1 AS BIGINT) << idx ELSE 0 END) AS BIGINT) AS ahash_lo,
           CAST(SUM(CASE WHEN gray > mean THEN 1 ELSE 0 END) AS INT) AS n_set
    FROM m GROUP BY doc_id
    """,
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from mysql2psql_spark.operators.multimodal import encode_bmp24, image_ahash

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                k = int(doc_id)
                w, h = 12 + k % 5, 10 + k % 7
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                base = k * 13 + x * 7 + y * 3
                px = np.stack(
                    [base % 256, (base + 85) % 256, (base + 170) % 256], axis=2
                ).astype(np.uint8)
                rows.append((k, encode_bmp24(px)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.mapInPandas(synth, schema="doc_id bigint, payload binary")
    return image_ahash(payloads)


# ---------------------------------------------------------------------------
# Blocked fuzzy match (entity resolution): near-identical catalog names
# via edit distance, with candidate generation restricted to a blocking
# key (the name's noun token) so the join is block-bounded — the classic
# ER shape (Fellegi-Sunter blocking) that replaces the O(n^2) all-pairs
# distance matrix with per-block quadratic work over blocks whose size is
# set by the key's selectivity, independent of corpus size. Everything is
# JVM-side: split/levenshtein are built-in codegen'd expressions, the
# block join is a plain equi-join, and the name table is the DISTINCT of
# the catalog (vocabulary-sized, not row-count-sized).
# ---------------------------------------------------------------------------
@query(
    "dedup_fuzzy_blocked",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    blocked AS (SELECT name, SPLIT_PART(name, ' ', 2) AS blk FROM names)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS edit_distance
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct()
    # single-token names: an out-of-range index is an ANSI error under
    # getItem and NULL under get() (which an equi-join would silently
    # drop), but SPLIT_PART(..., 2) is '' — get + coalesce so both
    # engines put token-less names into one shared '' block
    blocked = names.select(
        "name", F.coalesce(F.get(F.split("name", " "), 1), F.lit("")).alias("blk")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.name") < F.col("b.name")))
        .filter(dist <= 3)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("int").alias("edit_distance"),
        )
    )


# ---------------------------------------------------------------------------
# REGISTERED r12 (queued r11): content-defined chunking dedup profile
# (operators/dedup.py::cdc_chunks + cdc_dedup_profile). The r11 registry
# is frozen per the r10 verdict, so the full DuckDB differential runs in
# tests/test_operators.py::test_cdc_dedup_matches_oracle and the @query
# row lands next round.
#
# Semantics: FastCDC-style word-level chunking (boundary where the
# trailing 3-gram's md5-prefix int64 % 8 == 0 -> ~8-token mean chunks),
# then a chunk-store savings histogram (dup_count, n_chunks, dup_chars).
# This is the dedup family's VERSIONED-document tier: exact dedup needs
# identical docs, MinHash/SimHash find near-dup PAIRS, CDC instead finds
# the shared SUBSTRINGS across edits/versions and prices what a
# chunk-level store saves — the planted near-dups at sf0.1 surface as
# chunks with 130-190 instances. 18 rows at sf0.01. Verified exact at
# all three SFs under a vanilla session; ~1.5 s steady at sf0.1 under
# the engine session (measured r11).
# ---------------------------------------------------------------------------
_ORACLE_CDC = """
    WITH tok AS (
      SELECT doc_id,
             UNNEST(RANGE(1, LEN(ts) + 1)) AS pos,
             UNNEST(ts) AS word,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(ts) + 1),
               i -> CASE WHEN i >= 3 THEN ts[i-2] || ' ' || ts[i-1] || ' ' || ts[i]
                         ELSE '' END)) AS wgram
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents)
    ),
    flagged AS (
      SELECT doc_id, pos, word,
             CASE WHEN pos >= 3
                   AND CAST(CONCAT('0x', SUBSTR(MD5(wgram), 1, 8)) AS BIGINT) % 8 = 0
                  THEN 1 ELSE 0 END AS flag
      FROM tok
    ),
    assigned AS (
      SELECT doc_id, pos, word,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos) - flag AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id, STRING_AGG(word, ' ' ORDER BY pos) AS chunk_text
      FROM assigned GROUP BY doc_id, chunk_id
    ),
    per_hash AS (
      SELECT MD5(chunk_text) AS h, COUNT(*) AS cnt, MAX(LEN(chunk_text)) AS chars
      FROM chunks GROUP BY 1
    )
    SELECT CAST(cnt AS BIGINT) AS dup_count,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM((cnt - 1) * chars) AS BIGINT) AS dup_chars
    FROM per_hash GROUP BY 1
"""


@query("dedup_cdc_chunks", oracle=_ORACLE_CDC)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC chunk-dedup savings histogram — see the block above."""
    from mysql2psql_spark.operators.dedup import cdc_chunks, cdc_dedup_profile

    docs = load_table(spark, sf_dir, "documents")
    return cdc_dedup_profile(cdc_chunks(docs, w=3, divisor=8))


# ---------------------------------------------------------------------------
# REGISTERED r12 (queued r11): winnowing fingerprint matches (operators/
# dedup.py::winnowing_fingerprints + winnowing_match_pairs — Schleimer
# et al. SIGMOD 2003, the MOSS plagiarism detector). Differential runs in
# tests/test_operators.py::test_winnowing_matches_oracle until the @query
# row lands next round.
#
# Semantics: k=4 token grams, w=4 windows -> per-document window-min
# fingerprint sets, then pairs sharing >= 5 fingerprints with counts.
# The DETERMINISTIC-guarantee tier of the dedup family: any shared run
# of >= w+k-1 = 7 tokens is detected with certainty at ~2/(w+1) kept
# density (MinHash is probabilistic, fixed spans pay full density, CDC
# keeps whole chunks). 24 pairs at sf0.01, 228 at sf0.1. Verified exact
# at all three SFs under a vanilla session (r11); ~1.5 s steady at
# sf0.1 under the engine session, and the 5x replica probe stays flat
# on wall (1.9 s) while the output fans to 52k pairs — the bucket join
# is bounded by per-hash document frequency, not pair volume.
# ---------------------------------------------------------------------------
_ORACLE_WINNOW = """
    WITH tok AS (
      SELECT doc_id, UNNEST(RANGE(1, LEN(ts) + 1)) AS pos, UNNEST(ts) AS word,
             LEN(ts) AS n,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(ts) + 1),
               i -> CASE WHEN i + 3 <= LEN(ts)
                         THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
                         ELSE '' END)) AS gram
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents)
    ),
    grams AS (
      SELECT doc_id, pos,
             CAST(CONCAT('0x', SUBSTR(MD5(gram), 1, 8)) AS BIGINT) AS ghash,
             n - 4 + 1 AS n_grams
      FROM tok WHERE pos + 3 <= n
    ),
    winmins AS (
      SELECT doc_id, pos,
             MIN(ghash) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
             n_grams
      FROM grams
    ),
    fp AS (
      SELECT DISTINCT doc_id, wmin AS fhash
      FROM winmins WHERE pos + 3 <= n_grams
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fhash = b.fhash AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 5
"""


@query("dedup_winnowing", oracle=_ORACLE_WINNOW)
def dedup_winnowing(spark: SparkSession, sf_dir: str, caches=None) -> DataFrame:
    """Winnowing fingerprint match pairs — see the block above."""
    from mysql2psql_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_match_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_match_pairs(
        winnowing_fingerprints(docs, k=4, w=4), min_shared=5, caches=caches
    )


# ---------------------------------------------------------------------------
# REGISTERED r12 (queued r11): the dedup family's recall gate — the
# MinHash-LSH pipeline measured against the exact n-gram Jaccard truth,
# as ONE summary row. The LSH recall premise (banding at 8x4 must find
# every true J >= 0.5 pair on this corpus) is today pinned only in
# pytest (test_minhash_agrees_with_exact); this row makes it
# driver-visible, the dedup twin of sim_recall_at_k (the ANN serving
# gate). The oracle composes the two queries' own oracles, which are
# the SAME all-pairs answer — so the oracle states recall = 1 exactly,
# and any engine-side banding miss (seed drift, band-geometry bug)
# surfaces as a red driver row rather than a silent premise violation.
# Precision is 1 BY CONSTRUCTION (LSH candidates are exact-verified
# before emission); n_spurious proves it.
#
# Costs (measured r11): exact at all three SFs; ~3 s steady at sf0.1
# under the engine session, ~4 s vanilla (each input consumed once by
# the outer join, so no extra persist is needed — A/B measured equal);
# ~8 s at sf0.01 under the driver's vanilla session (two full candidate
# pipelines + the outer join — the family's heaviest gate row; weigh at
# registration). Measurement trap logged for posterity: a 3-SF verify
# loop first read "492 s at sf0.1" — that was the DUCKDB ORACLE's
# all-pairs LIST_INTERSECT over 12.5M candidate pairs (495 s measured
# alone), not the engine; the oracle only ever runs at the sf0.01 gate,
# where it is ~2 s.
# ---------------------------------------------------------------------------
_ORACLE_RECALL_GATE = f"""
    WITH truth AS ({_PAIRS_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(*) AS BIGINT) AS n_found,
           CAST(0 AS BIGINT) AS n_missed,
           CAST(0 AS BIGINT) AS n_spurious,
           CAST(1.0 AS DOUBLE) AS recall
    FROM truth
"""


@query("dedup_recall_gate", oracle=_ORACLE_RECALL_GATE)
def dedup_recall_gate(
    spark: SparkSession, sf_dir: str, caches=None
) -> DataFrame:
    """LSH-vs-exact dedup recall summary — see the block above.

    The shingle-hash frame is built ONCE and persisted (r12): both the
    exact-truth pipeline (prefix-filter Jaccard) and the LSH candidate
    pipeline (minhash banding) consume the same (doc_id, sh) frame, and
    through the first registration each re-derived it from the documents
    scan (same class as r11's per-query graph rebuilds). Same-session
    interleaved A/B at sf0.1: 1.948 -> 1.769 s median, results
    identical. At 100 TB the shingle table is an ingest-maintained
    artifact both pipelines scan — exactly the shared-bucketed-table
    posture, expressed here as a session persist because the frame is
    query-scoped."""
    from mysql2psql_spark.operators.materialize import materialize

    sh = materialize(shingle_hash_table(load_table(spark, sf_dir, "documents")))
    # seat the shared frame, then build the two consumers (exact-truth
    # prefix-filter join vs minhash banding) SERIALLY — r18 revert of
    # the r17 §2.6 thread overlap (VERDICT r17 #1): the overlap's own
    # 5-rep A/B read 2.88 -> 2.52 but the row regressed in BOTH r17
    # close artifacts (1.60 -> 2.24) and in the driver's ground truth
    # (1.82 -> 2.91, 1.60x against a 1.24x ambient median) — the same
    # concurrent-32-task-stage stall class the near-dup gate's
    # instrumented probe attributed (see stream_near_dup_gate), which
    # single-query isolation A/Bs cannot see. Serial is the shape whose
    # committed artifacts were stable (1.46-1.60 across r16/r17).
    sh.count()
    if caches is not None:
        caches.append(sh)

    def _build(fn):
        fr = materialize(fn(spark, sf_dir, shingles=sh).select("doc_a", "doc_b"))
        fr.count()
        return fr

    truth, found = _build(dedup_ngram_jaccard), _build(dedup_minhash_lsh)
    if caches is not None:
        caches.extend((truth, found))
    j = truth.withColumn("_t", F.lit(1)).join(
        found.withColumn("_f", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    return j.agg(
        F.count("_t").cast("bigint").alias("n_true"),
        F.count("_f").cast("bigint").alias("n_found"),
        F.sum(F.when(F.col("_f").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missed"),
        F.sum(F.when(F.col("_t").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_spurious"),
    ).select(
        "n_true",
        "n_found",
        "n_missed",
        "n_spurious",
        F.round(
            (F.col("n_true") - F.col("n_missed")).cast("double")
            / F.col("n_true"),
            6,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Registered r13 (built+queued r12 so the r12 50-slot rotation could
# clear all 30 r8-stale rows): incremental NEAR-dup gate — the banding
# twin of dedup_incremental (exact fingerprints). A continuously-
# ingesting pipeline dedupes each new batch against the standing corpus
# WITHOUT re-banding the corpus: candidates are new x corpus band-key
# collisions only (the corpus is never self-joined — its intra-pairs
# were settled when its documents were themselves the batch), then
# exact-verified. The full DuckDB differential also runs in tests/
# test_operators.py::test_minhash_incremental_matches_oracle.
#
# The 80/20 corpus/batch split is deterministic (doc_id % 10, the
# dedup_incremental discipline) so the oracle states the identical
# split. Recall premise: cross pairs are a subset of the all-pairs
# banding premise pinned in test_minhash_agrees_with_exact; precision is
# 1 by construction (exact verify before emission).
#
# r12 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 (12 rows) and sf0.01 (6 rows, the driver
# gate scale, oracle ~1 s); at sf0.1 the oracle is the all-pairs cost
# class (LIST_INTERSECT over the cross product — driver-gate-only, the
# dedup_recall_gate discipline), so sf0.1 is verified by composition:
# output == the oracle-green dedup_minhash_lsh answer restricted to
# (batch, corpus) pairs, 78 pairs, pinned in
# test_minhash_incremental_is_cross_restriction_of_full. Engine-session
# interleaved median 1.63 s at sf0.1 (loadavg ~2.2). 5x replica probe:
# x1.17 wall at x5 docs with x25 output pairs (78 -> 1950) — the
# bucket-bounded candidate join is the scale story.
# ---------------------------------------------------------------------------
_JACCARD_NC = """CAST(LEN(LIST_INTERSECT(n.sg, c.sg)) AS DOUBLE)
                 / (LEN(n.sg) + LEN(c.sg) - LEN(LIST_INTERSECT(n.sg, c.sg)))"""

_ORACLE_MINHASH_INC = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    nw AS (SELECT * FROM sh WHERE doc_id % 10 >= 8),
    corp AS (SELECT * FROM sh WHERE doc_id % 10 < 8)
    SELECT n.doc_id AS doc_new, c.doc_id AS doc_corpus,
           ROUND({_JACCARD_NC}, 6) AS jaccard
    FROM nw n JOIN corp c
      ON LEN(c.sg) BETWEEN CAST(CEIL(LEN(n.sg) * 0.5) AS BIGINT)
                       AND CAST(FLOOR(LEN(n.sg) * 2.0) AS BIGINT)
    WHERE {_JACCARD_NC} >= 0.5
"""


@query("dedup_minhash_incremental", oracle=_ORACLE_MINHASH_INC)
def dedup_minhash_incremental(
    spark: SparkSession, sf_dir: str, caches=None
) -> DataFrame:
    """Per-batch near-dup flags vs the standing corpus — see the block
    above; executes operators/dedup.py::minhash_lsh_cross_pairs (shared
    banding geometry via _minhash_tables, new x corpus candidates only,
    exact Jaccard verify). At 100 TB the corpus band/verify tables are
    persisted ingest artifacts the batch probes; both sides build
    in-session here because the fixture has no standing store —
    ``caches`` (CacheHandle convention) releases both sides' persisted
    array frames once the result is consumed."""
    from mysql2psql_spark.operators.dedup import minhash_lsh_cross_pairs

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hash_table(d)
    batch = sh.filter(F.col("doc_id") % 10 >= 8)
    corpus = sh.filter(F.col("doc_id") % 10 < 8)
    return minhash_lsh_cross_pairs(
        batch,
        corpus,
        threshold=0.5,
        caches=caches,
        n_parts=_doc_table_parts(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Registered r13 (built+queued r12 under the registry-freeze
# discipline): leakage-safe train/val/test split — assign every near-dup
# CLUSTER (not document) to one split, so no evaluation example has a
# near-duplicate in training (the contamination mode a doc-level split
# cannot prevent; the audit columns price it). ONE summary row:
# corpus/cluster/split counts, plus the leaky-pair counts under the
# naive doc-id split (nonzero on this corpus — the problem is real) and
# under the cluster split (0 BY CONSTRUCTION — the gate; a red driver
# row here means cluster assignment broke). The full differential also
# runs in tests/test_operators.py::test_leakage_safe_split_matches_oracle.
#
# Scale shape: the pair graph is corpus-RARE, so the cluster map is
# tiny — it broadcasts onto one documents scan (no corpus shuffle); the
# leak audit joins the map onto the pair list (pair-graph-sized); the
# split draw is the md5 discipline of text_split_assign, keyed on
# cluster_id instead of doc_id.
#
# r12 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 and sf0.01 (the driver gate scale; the
# oracle embeds the all-pairs _PAIRS_SQL, so like dedup_recall_gate it
# is driver-gate-only at larger SFs); sf0.1 verified column-exact
# against an independent pure-Python rebuild from the oracle-green
# components (5000 docs, 4756 clusters, 477 dup-members, 73 naive leaky
# pairs vs 0 safe). Engine-session interleaved median 2.03 s at sf0.1
# (loadavg ~2.2). 5x replica probe: x3.3 wall at x5 docs under ~25x
# pair fanout — the exact-truth pipeline dominates (the recall gate's
# class); the split/audit tail stays map-side.
# ---------------------------------------------------------------------------
def _split_case_sql(key: str) -> str:
    h = f"CAST(CONCAT('0x', SUBSTR(MD5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
    return (
        f"CASE WHEN {h} < 80 THEN 'train' WHEN {h} < 90 THEN 'val' "
        f"ELSE 'test' END"
    )


_ORACLE_SAFE_SPLIT = f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      WHERE e.dst != r.src
    ),
    cmap AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    lab AS (
      SELECT d.doc_id,
             COALESCE(m.cluster_id, d.doc_id) AS cluster_id,
             {_split_case_sql("COALESCE(m.cluster_id, d.doc_id)")} AS split,
             {_split_case_sql("d.doc_id")} AS naive_split
      FROM documents d LEFT JOIN cmap m USING (doc_id)
    ),
    leak AS (
      SELECT
        COALESCE(SUM(CASE WHEN la.split != lb.split THEN 1 ELSE 0 END), 0)
          AS safe_leaky_pairs,
        COALESCE(SUM(CASE WHEN la.naive_split != lb.naive_split THEN 1 ELSE 0 END), 0)
          AS naive_leaky_pairs
      FROM pairs p
      JOIN lab la ON la.doc_id = p.doc_a
      JOIN lab lb ON lb.doc_id = p.doc_b
    )
    SELECT
      CAST((SELECT COUNT(*) FROM lab) AS BIGINT) AS n_docs,
      CAST((SELECT COUNT(DISTINCT cluster_id) FROM lab) AS BIGINT) AS n_clusters,
      CAST((SELECT COUNT(*) FROM cmap) AS BIGINT) AS n_dup_docs,
      CAST((SELECT COUNT(*) FROM lab WHERE split = 'train') AS BIGINT) AS train_docs,
      CAST((SELECT COUNT(*) FROM lab WHERE split = 'val') AS BIGINT) AS val_docs,
      CAST((SELECT COUNT(*) FROM lab WHERE split = 'test') AS BIGINT) AS test_docs,
      CAST(naive_leaky_pairs AS BIGINT) AS naive_leaky_pairs,
      CAST(safe_leaky_pairs AS BIGINT) AS safe_leaky_pairs
    FROM leak
"""


@query("dedup_leakage_safe_split", oracle=_ORACLE_SAFE_SPLIT)
def dedup_leakage_safe_split(
    spark: SparkSession, sf_dir: str, caches=None
) -> DataFrame:
    """Cluster-level split assignment + leakage audit — see the block
    above. The pair list and the labeled-doc frame each feed multiple
    consumers (clusters + both leak-join sides; stats + both sides), so
    both persist; the cluster map broadcasts onto the corpus scan."""
    from mysql2psql_spark.operators.dedup import connected_components
    from mysql2psql_spark.operators.materialize import materialize

    def split_of(key: F.Column) -> F.Column:
        draw = (
            F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 100
        )
        return F.when(draw < 80, "train").when(draw < 90, "val").otherwise("test")

    pairs = materialize(
        dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    )
    cc = materialize(connected_components(pairs))
    if caches is not None:
        caches.append(pairs)
        caches.append(cc)
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    # r17 optimization: the leak audit is PAIR-GRAPH-BOUNDED — the
    # distributed tail below already routes the cluster map and both
    # pair-member label frames through the driver via F.broadcast, so
    # computing the leaky-pair counts in the driver is the same memory
    # class while removing a distinct shuffle, four broadcast-exchange
    # builds and their joins from the final action. Only the corpus
    # stats (doc/split counts) genuinely need a distributed pass: ONE
    # documents scan joined against the broadcast map. Gated on the
    # counted pair-list size (the connected_components discipline —
    # cc has at most 2x pairs rows, and the count reads the persist the
    # CC gate already built); above the gate the original all-DataFrame
    # tail runs unchanged.
    # gate constant justified by scripts/gate_crossover_probe.py (r18):
    # the driver tail wins at every probed size up to 1e6 pairs (23-26
    # vs 39-40 s there), so the crossover is above the gate and driver
    # memory is the binding constraint — see
    # connected_components_incremental's docstring for the full table.
    n_pairs = pairs.count()
    if n_pairs <= 1_000_000:
        import hashlib

        prs = pairs.collect()
        cc_rows = cc.collect()
        cmap = {r["doc_id"]: r["cluster_id"] for r in cc_rows}

        def split_py(k) -> str:
            h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 100
            return "train" if h < 80 else ("val" if h < 90 else "test")

        naive = safe = 0
        for r in prs:
            a, b = r["doc_a"], r["doc_b"]
            if split_py(cmap.get(a, a)) != split_py(cmap.get(b, b)):
                safe += 1
            if split_py(a) != split_py(b):
                naive += 1
        stats = (
            d.join(F.broadcast(cc), "doc_id", "left")
            .select(
                F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
            )
            .select("cluster_id", split_of(F.col("cluster_id")).alias("split"))
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
                F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
                .cast("bigint")
                .alias("train_docs"),
                F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
                .cast("bigint")
                .alias("val_docs"),
                F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
                .cast("bigint")
                .alias("test_docs"),
            )
        )
        return stats.select(
            "n_docs",
            "n_clusters",
            F.lit(len(cc_rows)).cast("bigint").alias("n_dup_docs"),
            "train_docs",
            "val_docs",
            "test_docs",
            F.lit(naive).cast("bigint").alias("naive_leaky_pairs"),
            F.lit(safe).cast("bigint").alias("safe_leaky_pairs"),
        )

    lab = materialize(
        d.join(F.broadcast(cc), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            split_of(F.col("cluster_id")).alias("split"),
            split_of(F.col("doc_id")).alias("naive_split"),
        )
    )
    if caches is not None:
        caches.append(lab)
    # The leak audit only needs pair-member labels: restrict the
    # corpus-sized labeled frame to pair members FIRST (broadcast
    # semi-join against the tiny pair-id set), so every subsequent
    # broadcast is pair-graph-bounded. Broadcasting `lab` itself would
    # work at bench scale and OOM at 100 TB — the corpus side must
    # always be the streamed side.
    member_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    members = lab.join(F.broadcast(member_ids), "doc_id", "left_semi")
    la = members.select(
        F.col("doc_id").alias("doc_a"),
        F.col("split").alias("split_a"),
        F.col("naive_split").alias("naive_a"),
    )
    lb = members.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("split_b"),
        F.col("naive_split").alias("naive_b"),
    )
    leak = (
        pairs.join(F.broadcast(la), "doc_a")
        .join(F.broadcast(lb), "doc_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("safe_leaky_pairs"),
            F.coalesce(
                F.sum(F.when(F.col("naive_a") != F.col("naive_b"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("naive_leaky_pairs"),
        )
    )
    stats = lab.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("train_docs"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("val_docs"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("test_docs"),
    )
    dup_docs = cc.agg(F.count("*").cast("bigint").alias("n_dup_docs"))
    return (
        stats.crossJoin(F.broadcast(dup_docs))
        .crossJoin(F.broadcast(leak))
        .select(
            "n_docs",
            "n_clusters",
            "n_dup_docs",
            "train_docs",
            "val_docs",
            "test_docs",
            "naive_leaky_pairs",
            "safe_leaky_pairs",
        )
    )


# ---------------------------------------------------------------------------
# QUEUED (r14 registration): the streaming near-dup gate as driver-visible
# evidence (VERDICT r12 #5, the m4_cdc_apply promotion pattern) — run
# streaming/docs.py::near_dup_gate_foreach_batch in BATCH MODE (the
# foreachBatch closure invoked on two deterministic micro-batch
# partitions of the new docs, writes to the session scratch root), read
# the compacted batch_id-versioned output back, and compare it to the
# oracle-green batch twin (dedup_minhash_incremental) as ONE summary
# row. The gate is stateless per trigger (new x corpus only — never
# new x new), so streamed == batch BY CONSTRUCTION: only_stream /
# only_batch / value_mismatches are 0 and a red driver row means the
# micro-batch decomposition broke (the union-over-triggers premise the
# real readStream equivalence test pins in tests/test_streaming.py::
# test_near_dup_gate_stream_matches_batch_twin).
#
# Scale shape: per-trigger cost is the batch operator's (band
# collisions against the standing corpus tables, built ONCE at gate
# construction — the r13 per-trigger cache-release fix); the equality
# audit is a full-outer join of two pair lists (pair-graph-sized, both
# sides broadcastable by construction). The only files written are
# batch_id-versioned parquet under the session-scoped mkdtemp scratch
# (atexit-cleaned, the ensure_bucketed_table discipline).
#
# r13 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 (12 pairs) and sf0.01 (6 pairs, the driver
# gate scale); at sf0.1 the oracle embeds the all-pairs cross join
# (driver-gate-only, the dedup_recall_gate discipline), so sf0.1 is
# verified Spark-side: 78 == 78 pairs, zero asymmetry/mismatches.
# Engine-session interleaved median 3.65 s at sf0.1 (loadavg 6-8,
# control dedup_minhash_incremental at its 1.394 s floor in the same
# session) — the wall is the two trigger jobs + write/read-back, not
# data volume. 5x replica probe: x1.5 wall at x5 docs with x25 output
# (78 -> 1950 pairs) — trigger cost is band-collision-bounded.
# ---------------------------------------------------------------------------
_ORACLE_STREAM_GATE = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    nw AS (SELECT * FROM sh WHERE doc_id % 10 >= 8),
    corp AS (SELECT * FROM sh WHERE doc_id % 10 < 8),
    pairs AS (
      SELECT n.doc_id AS doc_new, c.doc_id AS doc_corpus
      FROM nw n JOIN corp c
        ON LEN(c.sg) BETWEEN CAST(CEIL(LEN(n.sg) * 0.5) AS BIGINT)
                         AND CAST(FLOOR(LEN(n.sg) * 2.0) AS BIGINT)
      WHERE {_JACCARD_NC} >= 0.5
    )
    SELECT CAST(2 AS BIGINT) AS n_triggers,
           CAST(COUNT(*) AS BIGINT) AS stream_pairs,
           CAST(COUNT(*) AS BIGINT) AS batch_pairs,
           CAST(0 AS BIGINT) AS only_stream,
           CAST(0 AS BIGINT) AS only_batch,
           CAST(0 AS BIGINT) AS value_mismatches
    FROM pairs
"""


@query("stream_near_dup_gate", oracle=_ORACLE_STREAM_GATE)
def stream_near_dup_gate(
    spark: SparkSession, sf_dir: str, caches=None
) -> DataFrame:
    """Streamed-equals-batch summary for the foreachBatch near-dup gate —
    see the block above. The two micro-batches split the new docs by
    doc_id parity (the test_streaming.py decomposition); writes are
    idempotent (mode=overwrite per batch dir), so a re-entrant call in
    the same session just overwrites its own previous output."""
    import os
    import sys

    from pyspark.sql import types as T

    from mysql2psql_spark.operators.dedup import (
        _minhash_tables,
        minhash_lsh_cross_pairs,
    )
    from mysql2psql_spark.operators.layout import session_scratch
    from mysql2psql_spark.streaming.docs import near_dup_gate_foreach_batch

    # Env-gated phase timing (SPARK_GRAFT_GATE_DEBUG=1): zero-cost when
    # off; exists because full-bench sessions sporadically read this
    # query at 10-50 s vs its ~3.3 s isolated floor (r17 continuation
    # session) and the blow-up never reproduces in isolation — the
    # phase prints attribute the stall when it does fire.
    import time as _time

    _dbg = bool(os.environ.get("SPARK_GRAFT_GATE_DEBUG"))
    _t0 = _time.perf_counter()
    _last = [_t0]

    def _mark(label: str) -> None:
        # per-phase delta + cumulative (ADVICE r17: a single firing
        # should attribute the stall without manual subtraction)
        if _dbg:
            now = _time.perf_counter()
            print(
                f"## near_dup_gate phase {label}: "
                f"+{now - _last[0]:.3f}s (t={now - _t0:.3f}s)",
                file=sys.stderr,
                flush=True,
            )
            _last[0] = now

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 >= 8)
    corpus_sh = shingle_hash_table(d.filter(F.col("doc_id") % 10 < 8))
    # ONE corpus banding build shared by both triggers AND the batch
    # twin — the standing-ingest-artifact shape, and one persisted
    # corpus frame instead of two. Timing-NEUTRAL at sf0.1 (interleaved
    # A/B r13: 3.71 s separate vs 3.65 s shared, control at floor):
    # the wall is dominated by the two foreachBatch trigger jobs
    # (write + read-back), not the ~4k-doc corpus aggregation.
    # doc-scaled widths for the per-doc array tables (r18, guide §2.5 —
    # see _doc_table_parts): corpus AND per-trigger batch builds
    parts = _doc_table_parts(spark, sf_dir)
    corpus_tables = _minhash_tables(corpus_sh, n_parts=parts)
    # seat the shared corpus banding build with one action (it feeds
    # both triggers and the batch twin; the seat also keeps the first
    # trigger's measured cost honest)
    corpus_tables[0].count()
    _mark("corpus_seat")
    if caches is not None:
        caches.append(corpus_tables[0])
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    out_dir = os.path.join(session_scratch(spark), f"stream_gate_{sf_tag}")
    gate = near_dup_gate_foreach_batch(
        None, out_dir, caches=caches, corpus_tables=corpus_tables, n_parts=parts
    )
    # The batch twin runs SERIALLY after the two triggers (r18 revert of
    # the r17 §2.6 thread overlap, VERDICT r17 #1): with the twin on a
    # background thread this query runs up to three concurrent 32-task
    # stages, and on this host that concurrency level sporadically
    # stalls every in-flight task ~8x — the row read 19.7/6.7 s in the
    # r18 baseline bench, 13.7/22.8/4.8 s across three instrumented
    # full-headline probe passes (phase marks: the stall lands inside
    # trigger0/trigger1 while the twin overlaps them; serial reps read
    # a 3.3-3.5 s floor), and 4.40/5.14 s in the two r17 close
    # artifacts vs its 3.44 s pre-overlap baseline. The overlap's own
    # isolated A/B claimed only 3.44 -> 3.31; the stall it induces in
    # full-bench sessions costs multiples of that. Trigger ordering was
    # always sequential (audit contract); now the twin is too.
    from mysql2psql_spark.operators.materialize import materialize

    pair_schema = T.StructType(
        [
            T.StructField("doc_new", T.LongType()),
            T.StructField("doc_corpus", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    gate(new.filter(F.col("doc_id") % 2 == 0), 0)
    _mark("trigger0")
    gate(new.filter(F.col("doc_id") % 2 == 1), 1)
    _mark("trigger1")
    batch = materialize(
        minhash_lsh_cross_pairs(
            shingle_hash_table(new),
            None,
            threshold=0.5,
            caches=caches,
            corpus_tables=corpus_tables,
            n_parts=parts,
        )
    )
    batch.count()
    _mark("twin_built")
    # explicit schema so an all-empty trigger's output dir still reads
    streamed = spark.read.schema(pair_schema).parquet(f"{out_dir}/batch=*")
    _mark("streamed_read_plan")
    s = streamed.select("doc_new", "doc_corpus", F.col("jaccard").alias("j_s"))
    b = batch.select("doc_new", "doc_corpus", F.col("jaccard").alias("j_b"))
    j = s.join(b, ["doc_new", "doc_corpus"], "full_outer")
    return j.agg(
        F.count(F.col("j_s")).cast("bigint").alias("stream_pairs"),
        F.count(F.col("j_b")).cast("bigint").alias("batch_pairs"),
        F.sum(F.when(F.col("j_b").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("only_stream"),
        F.sum(F.when(F.col("j_s").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("only_batch"),
        F.sum(
            F.when(
                F.col("j_s").isNotNull()
                & F.col("j_b").isNotNull()
                & (F.col("j_s") != F.col("j_b")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("value_mismatches"),
    ).select(
        F.lit(2).cast("bigint").alias("n_triggers"),
        "stream_pairs",
        "batch_pairs",
        "only_stream",
        "only_batch",
        "value_mismatches",
    )


# ---------------------------------------------------------------------------
# QUEUED (r14 registration): incremental cluster maintenance — update the
# standing near-dup clustering with a new batch's pairs WITHOUT
# re-clustering the corpus (operators/dedup.py::
# connected_components_incremental: old clusters contract to supernodes
# named by their labels, the batch-bounded contraction graph is solved
# in the driver union-find gate, and the corpus map is touched only by
# two broadcast map-side joins). This is the maintenance step after
# dedup_minhash_incremental in a continuously-ingesting pipeline: gate
# finds the new pairs, this query folds them into the standing map.
#
# THE ORACLE IS dedup_clusters' FULL-RECOMPUTE ORACLE VERBATIM: the
# incremental path must reproduce the from-scratch connected-components
# answer over old ∪ new pairs exactly (min-label canonical ids included)
# — a red driver row means the contraction shortcut broke equivalence.
# The 80/20 corpus/batch split is doc_id % 10 (the dedup_incremental
# discipline); old pairs = both sides corpus, new pairs = any batch side.
#
# Cost attribution (read before comparing against dedup_clusters): at
# fixture scale this query BUILDS the standing artifacts in-session —
# the pair frame AND the old cluster map — then runs the incremental
# tail, so its wall (~3.95 s interleaved at sf0.1, engine session,
# control dedup_clusters 1.70 s in the same reps) is ~full-recompute
# PLUS ~2.2 s of maintenance machinery. In production the artifacts are
# standing (the coorder_edges posture) and ONLY the tail runs —
# O(new edges) however large the corpus, which a full recompute can
# never be. The fixture can't show that asymmetry; the 100 TB shape is
# the point, and the oracle proves the shortcut exact.
#
# r13 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 (45 rows) and sf0.01 (47 rows, the driver
# gate scale); the oracle embeds the recursive reachability CTE over the
# all-pairs _PAIRS_SQL, so at sf0.1 it is the all-pairs cost class
# (driver-gate-only, the recall-gate discipline — timed >580 s, vs ~20 s
# for the Spark side: the r11 attribute-the-oracle lesson) and sf0.1 is
# instead verified Spark-side: incremental == full recompute, 477 rows
# (test_clusters_incremental_* pin the equivalence + the bridge-merge
# case). 5x replica probe: x2.6 wall at x5 docs under ~25x pair fan-out
# (256 -> 6,400 pairs; truth-pipeline-bound, the recall gate's class).
# ---------------------------------------------------------------------------
@query("dedup_clusters_incremental", oracle=_ORACLE_REG["dedup_clusters"])
def dedup_clusters_incremental(
    spark: SparkSession, sf_dir: str, caches=None
) -> DataFrame:
    """Contraction-maintained cluster map — see the block above. The
    pair frame feeds both the old/new filters, so it persists; the old
    map feeds the restriction and the relabel, so it persists too."""
    from mysql2psql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )
    from mysql2psql_spark.operators.materialize import materialize

    # Env-gated phase timing (SPARK_GRAFT_GATE_DEBUG=1, the
    # stream_near_dup_gate instrumentation twin): this row sporadically
    # reads 10-16 s in full-bench sessions vs its ~2.5 s floor (r17
    # continuation session; r18 baseline passes 1/3) and never in
    # isolation — the marks attribute the stall when it fires.
    import os as _os
    import sys as _sys
    import time as _time

    _dbg = bool(_os.environ.get("SPARK_GRAFT_GATE_DEBUG"))
    _t0 = _time.perf_counter()
    _last = [_t0]

    def _mark(label: str) -> None:
        if _dbg:
            now = _time.perf_counter()
            print(
                f"## clusters_incremental phase {label}: "
                f"+{now - _last[0]:.3f}s (t={now - _t0:.3f}s)",
                file=_sys.stderr,
                flush=True,
            )
            _last[0] = now

    pairs = materialize(
        dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    )
    if caches is not None:
        caches.append(pairs)
    _mark("pairs_plan")
    both_old = (F.col("doc_a") % 10 < 8) & (F.col("doc_b") % 10 < 8)
    cc_old = materialize(connected_components(pairs.filter(both_old)))
    _mark("cc_old_built")
    if caches is not None:
        caches.append(cc_old)
    out = connected_components_incremental(
        cc_old, pairs.filter(~both_old), caches=caches
    )
    _mark("incremental_tail")
    return out


# ---------------------------------------------------------------------------
# QUEUED (r15+ registration per the window budget): dedup method
# agreement — the meta-QA a pipeline runs when TUNING its near-dup
# detectors: for each pair of methods (MinHash-LSH vs n-gram Jaccard vs
# SimHash), how many candidate pairs do they share, and what is the
# Jaccard of their pair SETS? Low agreement between a hash-sketch
# method and the exact n-gram baseline flags thresholds that are
# mis-calibrated for the corpus; the matrix is what decides which
# detector (or union) ships. Composes three already-oracled pair
# pipelines, so the oracle is their registered SQL verbatim, nested as
# subqueries — any drift in ANY of the three methods also diverges this
# audit's hashes.
#
# Scale shape: each method's pair frame is materialized ONCE (the
# multi-consumer discipline — each feeds one count and two joins);
# everything after is pair-graph-sized (the near-dup pair set is tiny
# relative to the corpus by construction). Total cost = the three
# method pipelines + negligible audit tail; that sum is inherent to a
# method comparison and each pipeline is individually scale-shaped
# (banded, never all-pairs).
#
# r14 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 (3 rows; set sizes 28/28/25, mh-vs-ng
# agreement 1.0, vs-simhash 0.89) and sf0.01 (all three 1.0); at sf0.1
# the oracle nests three full dedup-pipeline CTEs (the heavy class —
# driver-gate-only, the recall-gate discipline), so sf0.1 is verified
# Spark-side: 256/256/230 pair sets, agreements 1.0/0.898/0.898, all
# set-algebra invariants hold. Invariants + both-engine protocol
# pinned in tests. 5x docs replica probe: the cost is the three method
# pipelines (each individually probed — minhash/ngram/simhash rows in
# the README table); the audit tail is pair-set-sized. First 7-rep
# interleaved median 3.665 s at sf0.1 (loadavg 10-15, control
# dedup_minhash_lsh at 0.90x its 1.13 floor in the same reps —
# the wall is ~the sum of the three method pipelines, each at its own
# floor: 1.13 + 1.06 + ~1.3).
# ---------------------------------------------------------------------------
_ORACLE_METHOD_AGREEMENT = f"""
    WITH mh AS (SELECT doc_a, doc_b FROM ({_ORACLE_REG["dedup_minhash_lsh"]}) t1),
    ng AS (SELECT doc_a, doc_b FROM ({_ORACLE_REG["dedup_ngram_jaccard"]}) t2),
    sh AS (SELECT doc_a, doc_b FROM ({_ORACLE_REG["dedup_simhash"]}) t3),
    m AS (
      SELECT 'minhash_lsh' AS method_a, 'ngram_jaccard' AS method_b,
             (SELECT COUNT(*) FROM mh) AS n_pairs_a,
             (SELECT COUNT(*) FROM ng) AS n_pairs_b,
             (SELECT COUNT(*) FROM mh JOIN ng USING (doc_a, doc_b)) AS n_both
      UNION ALL
      SELECT 'minhash_lsh', 'simhash',
             (SELECT COUNT(*) FROM mh),
             (SELECT COUNT(*) FROM sh),
             (SELECT COUNT(*) FROM mh JOIN sh USING (doc_a, doc_b))
      UNION ALL
      SELECT 'ngram_jaccard', 'simhash',
             (SELECT COUNT(*) FROM ng),
             (SELECT COUNT(*) FROM sh),
             (SELECT COUNT(*) FROM ng JOIN sh USING (doc_a, doc_b))
    )
    SELECT method_a, method_b,
           CAST(n_pairs_a AS BIGINT) AS n_pairs_a,
           CAST(n_pairs_b AS BIGINT) AS n_pairs_b,
           CAST(n_both AS BIGINT) AS n_both,
           CASE WHEN n_pairs_a + n_pairs_b - n_both > 0 THEN
             ROUND(CAST(n_both AS DOUBLE)
                   / (n_pairs_a + n_pairs_b - n_both), 6)
           END AS pair_jaccard
    FROM m
"""


@query("dedup_method_agreement", oracle=_ORACLE_METHOD_AGREEMENT)
def dedup_method_agreement(
    spark: SparkSession, sf_dir: str, caches=None
) -> DataFrame:
    """Pairwise agreement matrix between the three near-dup detectors —
    see the block above."""
    from itertools import combinations

    from mysql2psql_spark.operators.materialize import materialize

    # ONE shared shingle-hash build feeds all three method pipelines
    # (each would otherwise re-derive the same Arrow shingling scan —
    # the dominant upstream cost); persisted because it has three
    # consumers, the multi-consumer discipline.
    sh = materialize(shingle_hash_table(load_table(spark, sf_dir, "documents")))
    # seat the shared frame with one action BEFORE the method threads
    # touch it, so concurrent first-touches don't race duplicate builds
    sh.count()
    if caches is not None:
        caches.append(sh)
    # The three method pipelines are INDEPENDENT consumers of the seated
    # shingle frame; materialize them eagerly from a 3-thread pool
    # (guide §2.6) so each pipeline's stage tail back-fills the others'
    # idle slots instead of the union plan serializing the three chains
    # (same-session 5-rep interleaved A/B: 3.61 -> 2.68 s median,
    # results asserted identical).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # r17 optimization: the audit tail (three pairwise set
    # intersections + six counts) is PAIR-SET-BOUNDED, and each method's
    # count is needed in the output anyway — so each thread collects its
    # pair set right after the seat count (a cache read) when the
    # counted size clears the driver gate, and the set algebra runs in
    # the driver: the final action's 6 joins/aggs + 2 crossJoins
    # (measured ~1.1 s at sf0.1, ~20% of the query wall) collapse to a
    # 3-row LocalTableScan. The jaccard division stays a Spark
    # expression over the local frame so rounding semantics are
    # bit-identical to the distributed tail, which remains the above-
    # gate path.
    _GATE = 1_000_000

    @inheritable_thread_target
    def _build(item):
        name, fn = item
        fr = materialize(fn(spark, sf_dir, shingles=sh).select("doc_a", "doc_b"))
        n = fr.count()
        rows = (
            frozenset((r[0], r[1]) for r in fr.collect()) if n <= _GATE else None
        )
        return name, (fr, n, rows)

    with ThreadPoolExecutor(max_workers=3) as pool:
        frames = dict(
            pool.map(
                _build,
                (
                    ("minhash_lsh", dedup_minhash_lsh),
                    ("ngram_jaccard", dedup_ngram_jaccard),
                    ("simhash", dedup_simhash),
                ),
            )
        )
    if caches is not None:
        caches.extend(fr for fr, _, _ in frames.values())
    if all(rows is not None for _, _, rows in frames.values()):
        local = [
            (na, nb, n_a, n_b, len(rows_a & rows_b))
            for (na, (_, n_a, rows_a)), (nb, (_, n_b, rows_b)) in combinations(
                frames.items(), 2
            )
        ]
        denom = F.col("n_pairs_a") + F.col("n_pairs_b") - F.col("n_both")
        return spark.createDataFrame(
            local,
            "method_a string, method_b string, n_pairs_a bigint, "
            "n_pairs_b bigint, n_both bigint",
        ).select(
            "method_a",
            "method_b",
            "n_pairs_a",
            "n_pairs_b",
            "n_both",
            F.when(
                denom > 0, F.round(F.col("n_both").cast("double") / denom, 6)
            ).alias("pair_jaccard"),
        )
    out = None
    for (na, (a, _, _)), (nb, (b, _, _)) in combinations(frames.items(), 2):
        both = a.join(b, ["doc_a", "doc_b"]).agg(
            F.count("*").cast("bigint").alias("n_both")
        )
        denom = F.col("n_pairs_a") + F.col("n_pairs_b") - F.col("n_both")
        row = (
            a.agg(F.count("*").cast("bigint").alias("n_pairs_a"))
            .crossJoin(b.agg(F.count("*").cast("bigint").alias("n_pairs_b")))
            .crossJoin(both)
            .select(
                F.lit(na).alias("method_a"),
                F.lit(nb).alias("method_b"),
                "n_pairs_a",
                "n_pairs_b",
                "n_both",
                F.when(
                    denom > 0,
                    F.round(F.col("n_both").cast("double") / denom, 6),
                ).alias("pair_jaccard"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
