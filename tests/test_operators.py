"""Operator-level pinning tests: the probabilistic dedup operators must
agree with the exact n-gram-Jaccard verifier, and the reference semantics
of the dump functions hold on edge inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql2psql_spark.queries import QUERIES
from tests.conftest import SF_DIR, SF_DIR_ORACLE


def test_minhash_agrees_with_exact(spark):
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_DIR_ORACLE).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_minhash_lsh"](spark, SF_DIR_ORACLE).collect()
    }
    # every LSH pair is exact-verified, so jaccard values must be identical
    for pair, j in lsh.items():
        assert j >= 0.5
    # exact blocks on source; LSH does not — LSH must recover at least the
    # high-similarity exact pairs (detection prob ~0.9998 at J>=0.9)
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high <= set(lsh), f"LSH missed high-sim pairs: {high - set(lsh)}"


def test_prefix_filter_exact_at_nondyadic_thresholds(spark):
    """Exact-threshold pairs must survive at non-dyadic t: the float forms
    of the pruning bounds mis-round (floor(3/0.3)=9 prunes |B|=10 at J
    exactly 0.3; ceil((na+nb)*0.2000..01) over-requires overlap at
    t=0.25). The integer-arithmetic bounds must keep them."""
    from mysql2psql_spark.operators.dedup import prefix_filter_pairs

    # t=0.3: A={1,2,3} subset of B={1..10} -> J = 3/10 exactly, with
    # na=3, nb=10 sitting exactly on the size-window upper bound na/t.
    rows = [(1, s) for s in range(1, 4)] + [(2, s) for s in range(1, 11)]
    # and a pair strictly below threshold that must NOT appear:
    # C={1,2} vs D={1,30,31,32,33,34} -> J = 1/7 < 0.3
    rows += [(3, s) for s in (1, 2)] + [(4, s) for s in (1, 30, 31, 32, 33, 34)]
    sh = spark.createDataFrame(rows, "doc_id bigint, sh bigint")
    for order_by_frequency, carry in ((True, False), (False, False), (False, True)):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filter_pairs(
                sh, threshold=0.3, order_by_frequency=order_by_frequency,
                carry_arrays=carry,
            ).collect()
        }
        assert got.get((1, 2)) == 0.3, got
        assert (3, 4) not in got and (1, 4) not in got

    # t=0.25: A={1,2}, B={1,3,4} -> J = 1/4 exactly (na+nb=5 exercises
    # the positional-filter ceil boundary: required overlap = exactly 1).
    rows = [(1, 1), (1, 2), (2, 1), (2, 3), (2, 4)]
    sh = spark.createDataFrame(rows, "doc_id bigint, sh bigint")
    for order_by_frequency, carry in ((True, False), (False, False), (False, True)):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filter_pairs(
                sh, threshold=0.25, order_by_frequency=order_by_frequency,
                carry_arrays=carry,
            ).collect()
        }
        assert got.get((1, 2)) == 0.25, got


def test_prefix_filter_carry_arrays_matches_join_verify(spark):
    """carry_arrays=True (inline verify, no verify joins) must emit the
    exact same pair set + jaccards as the default join-verify path on a
    real corpus slice."""
    from mysql2psql_spark.operators.dedup import prefix_filter_pairs
    from mysql2psql_spark.operators.text import shingle_hash_table
    from mysql2psql_spark.sources import load_table

    sh = shingle_hash_table(load_table(spark, SF_DIR, "documents"))
    base = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(
            sh, threshold=0.5, order_by_frequency=False
        ).collect()
    }
    carried = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(
            sh, threshold=0.5, order_by_frequency=False, carry_arrays=True
        ).collect()
    }
    assert base == carried
    assert len(base) > 0


def test_simhash_finds_known_dups(spark):
    exact_high = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_DIR_ORACLE)
        .filter(F.col("jaccard") >= 0.95)
        .collect()
    }
    sim = {
        (r.doc_a, r.doc_b) for r in QUERIES["dedup_simhash"](spark, SF_DIR_ORACLE).collect()
    }
    assert exact_high <= sim, f"simhash missed near-identical pairs: {exact_high - sim}"


def test_dump_functions_reference_semantics(spark):
    from mysql2psql_spark.rules.dump_functions import (
        convert_str_boolean,
        default_date,
        default_datetime,
        make_it_time,
        ref_to_nullable,
    )

    df = spark.createDataFrame(
        [(None, None), ("0", "0000-00-00"), ("1", "2020-05-01"), ("x", "0000-00-00 00:00:00"), ("7", None)],
        "v string, d string",
    )
    out = df.select(
        convert_str_boolean(F.col("v")).alias("b"),
        default_date(F.col("d"), nullable=True).alias("dn"),
        default_date(F.col("d"), nullable=False).alias("dnn"),
        default_datetime(F.col("d"), nullable=False).alias("dtnn"),
        ref_to_nullable(F.col("v")).alias("r"),
        make_it_time(F.col("v"), nullable=False).alias("t"),
    ).collect()
    # convertStrBoolean: None->False, '0'->False, '1'->True, 'x'->False, '7'->True
    assert [r.b for r in out] == [False, False, True, False, True]
    # defaultDate nullable: zero-date & NULL -> NULL
    assert [r.dn for r in out] == [None, None, "2020-05-01", None, None]
    # notNullableDate: fallback epoch
    assert [r.dnn for r in out] == ["1900-01-01", "1900-01-01", "2020-05-01", "1900-01-01", "1900-01-01"]
    assert out[0].dtnn == "1900-01-01 00:00:00"
    # refToNullable: '0' -> NULL, others pass through
    assert [r.r for r in out] == [None, None, "1", "x", "7"]
    # makeItTime not-null fallback
    assert [r.t for r in out] == ["00:00", "00:00", "00:00", "00:00", "00:00"]


def test_make_it_time_keeps_valid(spark):
    from mysql2psql_spark.rules.dump_functions import make_it_time

    df = spark.createDataFrame([("12:34",), ("9:30",), ("23:59:59",)], "v string")
    out = df.select(make_it_time(F.col("v"), nullable=True).alias("t")).collect()
    # reference regex is ^\d\d:\d\d (prefix match): '9:30' fails, '23:59:59' passes
    assert [r.t for r in out] == ["12:34", None, "23:59:59"]


def test_embedding_lsh_recall_on_near_dups(spark):
    """Hyperplane-LSH must recover essentially all cosine>=0.95 pairs.

    The driver testdata embeddings are near-isotropic (no high-cosine
    pairs), so the recall regime is pinned on a synthetic set: 20 cluster
    centers, 5 small perturbations each -> every intra-cluster pair sits
    at cosine ~0.97+."""
    import numpy as np

    from mysql2psql_spark.operators.embedding import exact_cosine_pairs, lsh_cosine_pairs

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for _ in range(20):
        center = rng.standard_normal(64)
        for _ in range(5):
            v = center + 0.12 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = {
        (r.id_a, r.id_b) for r in exact_cosine_pairs(emb, 0.95).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in lsh_cosine_pairs(emb, 0.95).collect()}
    assert exact, "synthetic set must contain near-dup pairs"
    # every LSH pair is exact-verified (subset); recall must be ~complete
    assert lsh <= exact
    missed = exact - lsh
    assert len(missed) <= len(exact) * 0.02, f"LSH recall too low, missed {missed}"


def test_exact_cosine_pairs_scale_gate(spark):
    """The all-pairs anchor must REFUSE corpora above its counted size
    gate (so nobody accidentally runs the O(n^2) baseline at production
    scale) while still running under the gate and with the explicit
    ``max_rows=None`` override."""
    import pytest

    from mysql2psql_spark.operators.embedding import exact_cosine_pairs

    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="lsh_cosine_pairs"):
        exact_cosine_pairs(emb, 0.9, max_rows=10)
    assert exact_cosine_pairs(emb, -1.0, max_rows=20).count() == 190  # 20C2
    assert exact_cosine_pairs(emb, -1.0, max_rows=None).count() == 190


def test_ann_topk_matches_brute_force_head(spark):
    """ANN with a generous Hamming budget must contain the true top-1 and
    mostly agree with brute force on the testdata corpus."""
    from mysql2psql_spark.operators.embedding import ann_topk_lsh
    from mysql2psql_spark.operators.similarity import brute_force_scores
    from mysql2psql_spark.sources import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    brute = [
        r.vec_id
        for r in brute_force_scores(emb, probe)
        .filter(F.col("vec_id") != 0)
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .collect()
    ]
    ann = [r.vec_id for r in ann_topk_lsh(emb, probe_id=0, k=10, max_hamming=6).collect()]
    assert len(ann) == 10
    # random-data regime: top-1 recall is the meaningful floor (clustered
    # data gives near-perfect recall; pinned above)
    assert brute[0] in ann


def test_approx_distinct_within_tolerance(spark):
    # The query itself asserts the HLL estimate against the exact count
    # (approx_ok column); cross-check the exact counts independently.
    got = {
        r.o_orderstatus: r
        for r in QUERIES["agg_approx_distinct"](spark, SF_DIR_ORACLE).collect()
    }
    from mysql2psql_spark.sources import load_table

    exact = {
        r.o_orderstatus: r.n
        for r in load_table(spark, SF_DIR_ORACLE, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert got[k].exact_custs == n, (k, got[k], n)
        assert got[k].approx_ok, (k, got[k])


def test_multimodal_resize_contract(spark):
    from mysql2psql_spark.operators.multimodal import resize_payloads, with_binary_payload
    from mysql2psql_spark.sources import load_table

    d = load_table(spark, SF_DIR_ORACLE, "documents").limit(50)
    out = resize_payloads(with_binary_payload(d), target_bytes=64).collect()
    assert len(out) == 50
    for r in out:
        assert len(r.payload) == 64
        assert r.meta.target_bytes == 64
        assert r.meta.truncated == (r.meta.orig_bytes > 64)


def test_salted_join_matches_plain_join(spark):
    from mysql2psql_spark.operators.skew import salted_join
    from mysql2psql_spark.sources import load_table

    li = load_table(spark, SF_DIR_ORACLE, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_DIR_ORACLE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = li.join(o, "l_orderkey").groupBy("o_orderpriority").count()
    salted = salted_join(li, o, "l_orderkey").groupBy("o_orderpriority").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_asof_join_no_prior_rows_yield_nulls(spark):
    from mysql2psql_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 5), (3, 2, 50)], "id bigint, k bigint, t bigint"
    )
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 40, 8), (1, 40, 9), (3, 10, 99)], "k bigint, t bigint, payload bigint"
    )
    out = {
        r.id: r.payload
        for r in asof_join(
            left, right, key="k", left_time="t", right_time="t",
            payload=["payload"], tiebreak="payload",
        ).collect()
    }
    # id=1 (t=100): latest right at t<=100 is t=40; tie -> highest payload 9
    # id=2 (t=5): no right row at t<=5 -> NULL
    # id=3 (k=2): no right rows for key -> NULL
    assert out == {1: 9, 2: None, 3: None}


def test_binned_range_join_matches_inequality_join(spark):
    from mysql2psql_spark.operators.rangejoin import binned_range_join
    from mysql2psql_spark.sources import load_table

    li = load_table(spark, SF_DIR_ORACLE, "lineitem").select("l_orderkey", "l_shipdate")
    iv = spark.createDataFrame(
        [("w1", "1997-02-15 00:00:00", "1997-03-20 00:00:00"),
         ("w2", "1997-03-01 00:00:00", "1997-03-02 00:00:00")],
        "wid string, s string, e string",
    ).select("wid", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    got = binned_range_join(li, iv, "l_shipdate", "s", "e").groupBy("wid").count()
    want = (
        li.join(iv, (li.l_shipdate >= iv.s) & (li.l_shipdate < iv.e))
        .groupBy("wid")
        .count()
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_binned_range_join_rejects_bad_broadcast_flag(spark):
    """Any string other than exactly 'auto' must raise — a truthy typo
    ('Auto') would silently pin the broadcast, the OOM path the auto
    mode exists to prevent."""
    import pytest

    from mysql2psql_spark.operators.rangejoin import binned_range_join

    pts = spark.createDataFrame([("2020-01-05",)], "p string").select(
        F.to_timestamp("p").alias("p")
    )
    iv = spark.createDataFrame([("2020-01-01", "2020-02-01")], "s string, e string").select(
        F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e")
    )
    for bad in ("Auto", "AUTO", "yes"):
        with pytest.raises(ValueError, match="broadcast_intervals"):
            binned_range_join(pts, iv, "p", "s", "e", broadcast_intervals=bad)


def test_binned_range_join_degenerate_intervals(spark):
    """end <= start intervals match nothing, generate no bins, and do
    not deflate the auto-broadcast fan-out estimate."""
    from mysql2psql_spark.operators.rangejoin import binned_range_join

    pts = spark.createDataFrame(
        [(1, "2020-01-05"), (2, "2020-03-05")], "id int, p string"
    ).select("id", F.to_timestamp("p").alias("p"))
    iv = spark.createDataFrame(
        [
            ("ok", "2020-01-01", "2020-02-01"),
            ("empty", "2020-03-10", "2020-03-10"),  # zero-width
            ("reversed", "2020-04-01", "2020-03-01"),  # end < start
        ],
        "wid string, s string, e string",
    ).select("wid", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    got = binned_range_join(pts, iv, "p", "s", "e").select("id", "wid").collect()
    assert {(r.id, r.wid) for r in got} == {(1, "ok")}


def test_connected_components_structure(spark):
    from mysql2psql_spark.operators.dedup import connected_components

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "doc_a bigint, doc_b bigint"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    # default gate: small graph -> driver union-find path
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == want
    # driver_threshold=0 forces the distributed min-label path; both
    # paths must produce identical labels (the 100 TB path stays honest)
    got_dist = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert got_dist == want


def test_connected_components_empty_and_reversed(spark):
    """Empty pair frame and max-id-first pairs through both paths."""
    from mysql2psql_spark.operators.dedup import connected_components

    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert connected_components(empty).count() == 0
    assert connected_components(empty, driver_threshold=0).count() == 0

    # edges listed high-id-first: canonical label must still be the min
    rev = spark.createDataFrame([(9, 2), (2, 1), (7, 9)], "doc_a bigint, doc_b bigint")
    want = {1: 1, 2: 1, 9: 1, 7: 1}
    for thr in (2_000_000, 0):
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(rev, driver_threshold=thr).collect()
        }
        assert got == want, f"threshold={thr}"


def test_simhash_engines_row_identical(spark):
    """The JVM 64-aggregate shape (the at-scale default) and the Arrow
    numpy shape must produce bit-identical fingerprints."""
    from mysql2psql_spark.operators.dedup import simhash_fingerprints
    from mysql2psql_spark.operators.text import shingle_hash_table
    from mysql2psql_spark.sources import load_table

    d = load_table(spark, SF_DIR_ORACLE, "documents")
    sh = shingle_hash_table(d)
    arrow = {r.doc_id: r.sh for r in simhash_fingerprints(sh, engine="arrow").collect()}
    jvm = {r.doc_id: r.sh for r in simhash_fingerprints(sh, engine="jvm").collect()}
    assert arrow == jvm
    assert len(arrow) == d.count()


def test_shingle_engines_row_identical(spark):
    """Arrow (shuffle-free md5) and JVM (window-lead, portable md5) paths
    must produce the identical (doc_id, sh) set."""
    from mysql2psql_spark.operators.text import shingle_hash_table
    from mysql2psql_spark.sources import load_table

    d = load_table(spark, SF_DIR_ORACLE, "documents")
    arrow = {(r.doc_id, r.sh) for r in shingle_hash_table(d, engine="arrow").collect()}
    jvm = {(r.doc_id, r.sh) for r in shingle_hash_table(d, engine="jvm", portable=True).collect()}
    assert arrow == jvm and len(arrow) > 0


def test_pack_sequences_bucket_count_scales_with_corpus(spark):
    """The packing shard count must grow with corpus token count
    (parallelism at 100x), while small corpora keep the min_buckets
    floor (fixture-output-preserving)."""
    from mysql2psql_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(40)], "doc_id bigint, text string"
    )
    # 400 tokens, 50-token buckets -> ceil(400/50) = 8 > min_buckets=2
    packed = pack_sequences(docs, tokens_per_bucket=50, min_buckets=2)
    buckets = {r.bucket for r in packed.collect()}
    assert buckets <= set(range(8)) and len(buckets) > 2
    # same corpus, huge buckets -> the floor applies
    packed_floor = pack_sequences(docs, tokens_per_bucket=10**9, min_buckets=2)
    assert {r.bucket for r in packed_floor.collect()} <= {0, 1}
    # 2x the corpus -> 2x the shards (16), and every pack stays within
    # one bucket's own running sum
    docs2 = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(80)], "doc_id bigint, text string"
    )
    packed2 = pack_sequences(docs2, tokens_per_bucket=50, min_buckets=2)
    assert {r.bucket for r in packed2.collect()} <= set(range(16))
    assert max(r.bucket for r in packed2.collect()) >= 8


def test_global_ordinals_contiguous_and_order_stable(spark):
    """Ordinals must be exactly 0..n-1 (no gaps/dupes) and follow the
    documented (bucket, order_cols) total order, independent of input
    partitioning."""
    from mysql2psql_spark.operators.text import global_ordinals

    df = spark.createDataFrame([(i,) for i in range(137)], "doc_id bigint").repartition(7)
    out = global_ordinals(df, ["doc_id"], n_buckets=8).collect()
    ords = sorted(r.ordinal for r in out)
    assert ords == list(range(137))
    got = {r.doc_id: r.ordinal for r in out}
    want_order = sorted(range(137), key=lambda i: (i % 8, i))
    assert got == {doc: pos for pos, doc in enumerate(want_order)}


def test_wav_codec_roundtrip_and_validation():
    """The RIFF/PCM16 codec is real: byte-exact roundtrip, correct
    header fields, and malformed payloads rejected (not silently
    mis-decoded)."""
    import numpy as np
    import pytest

    from mysql2psql_spark.operators.multimodal import decode_wav_pcm16, encode_wav_pcm16

    s = np.array([0, 1000, -1000, 32767, -32768, 7], dtype=np.int16)
    payload = encode_wav_pcm16(s, sample_rate=16000)
    sr, back = decode_wav_pcm16(payload)
    assert sr == 16000
    assert np.array_equal(back, s)

    with pytest.raises(ValueError):
        decode_wav_pcm16(b"JUNK" + payload[4:])
    # stereo fmt chunk must be rejected
    bad = bytearray(payload)
    bad[22] = 2  # channels field
    with pytest.raises(ValueError):
        decode_wav_pcm16(bytes(bad))


def test_bmp_codec_roundtrip_and_validation():
    """BMP codec is real: byte-exact pixel roundtrip through the padded
    bottom-up BGR layout, resize grid correct, malformed input rejected."""
    import numpy as np
    import pytest

    from mysql2psql_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
        resize_nearest,
    )

    rng_px = (np.arange(5 * 3 * 3, dtype=np.int64).reshape(5, 3, 3) * 37 % 256).astype(
        np.uint8
    )  # w=3 -> 9-byte rows, exercises the 4-byte pad
    payload = encode_bmp24(rng_px)
    back = decode_bmp24(payload)
    assert np.array_equal(back, rng_px)

    small = resize_nearest(rng_px, 2, 2)
    assert small.shape == (2, 2, 3)
    # integer grid: src row (i*5)//2, src col (j*3)//2
    assert np.array_equal(small[0, 0], rng_px[0, 0])
    assert np.array_equal(small[1, 1], rng_px[2, 1])

    with pytest.raises(ValueError):
        decode_bmp24(b"XX" + payload[2:])
    bad = bytearray(payload)
    bad[28] = 8  # bit depth -> 8bpp unsupported
    with pytest.raises(ValueError):
        decode_bmp24(bytes(bad))


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A small doc fully embedded in a much larger one: containment = 1.0
    but Jaccard = |A|/|B| is tiny — the pair must appear in the
    containment join (a->b direction only) and not in the J >= 0.5 set."""
    from mysql2psql_spark.operators.dedup import containment_pairs, prefix_filter_pairs

    # A = {1..5} subset of B = {1..50}; C = unrelated
    rows = (
        [(1, s) for s in range(1, 6)]
        + [(2, s) for s in range(1, 51)]
        + [(3, s) for s in range(100, 140)]
    )
    sh = spark.createDataFrame(rows, "doc_id bigint, sh bigint")
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(sh, threshold=0.8).collect()
    }
    assert cont == {(1, 2): 1.0}  # only the contained direction fires
    jac = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_pairs(sh, threshold=0.5).collect()
    }
    assert (1, 2) not in jac  # J = 5/50 = 0.1: Jaccard structurally misses it


def test_asof_nearest_matches_bruteforce_reference(spark):
    """asof_nearest's tie rules are intricate (distance, then backward
    preference, then highest-tiebreak-backward / lowest-tiebreak-forward);
    pin them against an exhaustive brute-force reference over a grid of
    collision-heavy random inputs (duplicate timestamps on both sides,
    boundary-of-tolerance deltas, keys with no right rows)."""
    import random

    from mysql2psql_spark.operators.asof import asof_nearest

    rng = random.Random(42)
    left = [
        (f"k{rng.randint(0, 3)}", rng.randint(0, 30), i)  # key, time, left_id
        for i in range(60)
    ]
    right = [
        (f"k{rng.randint(0, 4)}", rng.randint(0, 30), 100 + i)  # key, time, rid
        for i in range(50)
    ]
    tol = 5

    def brute(lk, lt):
        cands = [(rk, rt, rid) for rk, rt, rid in right if rk == lk and abs(lt - rt) <= tol]
        if not cands:
            return (None, None)
        # distance asc; backward (rt <= lt) before forward; backward ties
        # -> HIGHEST rid, forward ties -> LOWEST rid
        best = min(
            cands,
            key=lambda c: (
                abs(lt - c[1]),
                0 if c[1] <= lt else 1,
                -c[2] if c[1] <= lt else c[2],
            ),
        )
        return (best[2], lt - best[1])

    ldf = spark.createDataFrame(left, ["k", "t", "left_id"])
    rdf = spark.createDataFrame(right, ["k", "t", "rid"])
    got = {
        r["left_id"]: (r["rid"], r["_asof_delta"])
        for r in asof_nearest(
            ldf, rdf, key="k", left_time="t", right_time="t",
            payload=["rid"], tolerance=tol, tiebreak="rid",
        ).collect()
    }
    want = {lid: brute(lk, lt) for lk, lt, lid in left}
    assert got == want


def test_zorder_key_matches_python_reference(spark):
    """zorder_key must equal a pure-Python Morton interleave, and the
    curve must be a bijection on the 2^20 domain (sampled)."""
    from mysql2psql_spark.operators.layout import zorder_key

    def py_z(x, y, bits=10):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(x, y) for x in range(0, 1024, 37) for y in range(0, 1024, 41)]
    df = spark.createDataFrame(pts, "x INT, y INT")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    seen = set()
    for (x, y), z in got.items():
        assert z == py_z(x, y), (x, y, z)
        assert z not in seen  # bijective on the sampled grid
        seen.add(z)


def test_zorder_layout_narrows_file_minmax_vs_single_sort(spark):
    """The scale claim itself: range-partitioning on the Z-value keeps
    the TYPICAL file's min/max box small in BOTH dimensions, where a
    single-column sort leaves the second dimension's per-file span at
    ~full domain. Segments that straddle a quadrant boundary of the
    curve can individually span the domain (Morton discontinuities), so
    the pin is on the mean span, not the max."""
    import random

    from mysql2psql_spark.operators.layout import zorder_key, zorder_layout

    rng = random.Random(7)
    rows = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(20000)]
    df = spark.createDataFrame(rows, "x INT, y INT")
    z = zorder_key(F.col("x"), F.col("y"))

    def per_file_spans(laid):
        part = laid.withColumn("pid", F.spark_partition_id())
        stats = (
            part.groupBy("pid")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .collect()
        )
        return [(r.sx, r.sy) for r in stats]

    zspans = per_file_spans(zorder_layout(df, z, 64))
    xspans = per_file_spans(df.repartitionByRange(64, F.col("x")).sortWithinPartitions("x"))
    def mean(vals):
        vals = list(vals)
        return sum(vals) / len(vals)

    # single-dim sort: y is unclustered, per-file y-span ~ full domain
    assert mean(s[1] for s in xspans) > 900
    # z-order: both dims' typical span well below the domain
    assert mean(s[0] for s in zspans) < 400
    assert mean(s[1] for s in zspans) < 400


def test_fuzzy_blocked_recall_vs_all_pairs(spark):
    """Blocking on the noun token is a recall trade, not lossless: pin
    the fixture's measured block recall against the unblocked all-pairs
    truth so a blocking-key regression is visible."""
    from tests.conftest import SF_DIR_ORACLE

    p = spark.read.parquet(f"{SF_DIR_ORACLE}/part.parquet")
    all_names = [r.p_name for r in p.select("p_name").distinct().collect()]

    def lev(a, b):
        m = [[i + j if i * j == 0 else 0 for j in range(len(b) + 1)] for i in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i][j] = min(
                    m[i - 1][j] + 1,
                    m[i][j - 1] + 1,
                    m[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                )
        return m[len(a)][len(b)]

    truth = {
        (a, b)
        for a in all_names
        for b in all_names
        if a < b and lev(a, b) <= 3
    }
    got = {
        (r.name_a, r.name_b)
        for r in QUERIES["dedup_fuzzy_blocked"](spark, SF_DIR_ORACLE).collect()
    }
    assert got <= truth  # no false positives ever
    recall = len(got) / len(truth)
    assert recall >= 0.5, (len(got), len(truth))


def test_m5_merge_handles_one_sided_keys(spark):
    """Keys present only in the delta (new customers after the watermark)
    and only in the base must both survive the outer merge with correct
    totals — the oracle's full recompute covers this at sf0.01, this
    pins it on a handcrafted frame where one-sidedness is guaranteed."""
    from mysql2psql_spark.queries.migration_q import m5_agg_maintenance  # noqa: F401

    rows = [
        (1, "1997-01-01 00:00:00", 10.0),  # base only
        (2, "1997-07-01 00:00:00", 20.0),  # delta only
        (3, "1997-01-01 00:00:00", 5.0),  # both
        (3, "1997-08-01 00:00:00", 7.0),
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            rows, "o_custkey BIGINT, o_orderdate STRING, o_totalprice DOUBLE"
        ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
        df.write.parquet(os.path.join(d, "orders.parquet"))
        out = {
            r.o_custkey: (r.n_orders, r.total_spend)
            for r in QUERIES["m5_agg_maintenance"](spark, d).collect()
        }
    assert out == {1: (1, 10.0), 2: (1, 20.0), 3: (2, 12.0)}


def test_fuzzy_blocked_single_token_names_share_a_block(spark):
    """Single-token names have no noun token: the Spark block key must
    coalesce to '' (matching SPLIT_PART's behavior in the oracle), so
    such names still match each other instead of being silently dropped
    by a NULL equi-join key."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            [(1, "bolt"), (2, "colt"), (3, "red ring"), (4, "rad ring")],
            "p_partkey BIGINT, p_name STRING",
        )
        df.write.parquet(os.path.join(d, "part.parquet"))
        got = {
            (r.name_a, r.name_b)
            for r in QUERIES["dedup_fuzzy_blocked"](spark, d).collect()
        }
    assert ("bolt", "colt") in got
    assert ("rad ring", "red ring") in got


def test_compact_files_merges_small_parts(spark, tmp_path):
    """64 tiny parts must compact to ceil(rows/target) files with every
    row preserved."""
    import glob
    import os

    from mysql2psql_spark.operators.layout import compact_files

    src = os.path.join(str(tmp_path), "small")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 64

    out = os.path.join(str(tmp_path), "compacted")
    compacted = compact_files(spark.read.parquet(src), target_rows_per_file=4_000)
    compacted.write.parquet(out)
    assert len(glob.glob(f"{out}/part-*")) == 3  # ceil(10000/4000)
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_compact_files_preserves_clustering(spark, tmp_path):
    """Compacting with cluster_by must keep per-file min/max ranges
    disjoint-ish (range partitioned), not round-robin scattered."""
    import os

    from mysql2psql_spark.operators.layout import compact_files

    src = os.path.join(str(tmp_path), "clustered")
    spark.range(0, 8_000).withColumn("k", F.col("id")).repartition(32).write.parquet(src)
    out = compact_files(
        spark.read.parquet(src), target_rows_per_file=2_000, cluster_by="k"
    )
    spans = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    # range-partitioned: partition [lo, hi] intervals must not overlap
    ordered = sorted((r.lo, r.hi) for r in spans)
    for (_, hi_prev), (lo_next, _) in zip(ordered, ordered[1:]):
        assert hi_prev < lo_next
    assert out.count() == 8_000


def test_ivf_rerank_recovers_ivf_topk(spark):
    """The quantized first pass + 50-row exact rerank must recover the
    full-precision IVF top-10 on the fixture (recall 1.0 measured before
    pinning): int8 scoring is a candidate-ordering approximation, and
    rerank over a 5x shortlist absorbs its rank noise."""
    rr = [r.vec_id for r in QUERIES["sim_ann_ivf_rerank_topk"](spark, SF_DIR_ORACLE).collect()]
    ivf = [r.vec_id for r in QUERIES["sim_ann_ivf_topk"](spark, SF_DIR_ORACLE).collect()]
    assert rr == ivf


def test_p8_impute_surfaces_unimputable_segments(spark):
    """A segment whose every value is the missing sentinel must KEEP its
    rows with a NULL fill (auditable gap), not vanish through the means
    join."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            [
                (1, "AUTO", 100.0),
                (2, "AUTO", -1.0),
                (3, "VOID", -1.0),  # whole segment is sentinel
            ],
            "c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE",
        )
        df.write.parquet(os.path.join(d, "customer.parquet"))
        out = {
            r.c_custkey: (r.was_imputed, r.acctbal_filled)
            for r in QUERIES["p8_impute_group_mean"](spark, d).collect()
        }
    assert out[1] == (False, 100.0)
    assert out[2] == (True, 100.0)
    assert out[3] == (True, None)  # surfaced, not dropped


def test_batch_topk_namespaces_and_self_exclusion(spark):
    """batch_topk: exclude_self drops only the probe's own corpus row;
    exclude_self=False keeps it (separate-namespace probes); ranks are
    dense 1..k with the documented cos-desc, id-asc tiebreak."""
    from mysql2psql_spark.operators.similarity import batch_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    probes = corpus.filter("vec_id = 1").selectExpr(
        "vec_id AS probe_id", "embedding"
    )
    got = {
        (r.probe_id, r.rnk): (r.vec_id, r.cos_sim)
        for r in batch_topk(corpus, probes, k=3).collect()
    }
    # self (vec_id=1) excluded: 2 corpus rows remain
    assert got == {(1, 1): (3, 0.707107), (1, 2): (2, 0.0)}
    got_all = {
        (r.probe_id, r.rnk): r.vec_id
        for r in batch_topk(corpus, probes, k=3, exclude_self=False).collect()
    }
    # separate-namespace mode keeps the identical vector at rank 1
    assert got_all == {(1, 1): 1, (1, 2): 3, (1, 3): 2}


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables written via write_bucketed on the same key/count join
    with NO Exchange in the physical plan (the pay-the-shuffle-once-at-
    write-time contract), and the join result matches the plain join."""
    from mysql2psql_spark.operators.layout import write_bucketed

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    ta, tb = "bkt_a_t", "bkt_b_t"
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(a, ta, ["k"], 4)
        write_bucketed(b, tb, ["k"], 4)
        # disable broadcast so the join exercises the bucketed SMJ path
        # (at real fact-table sizes neither side is broadcastable —
        # that's the regime bucketing exists for; at test size the
        # planner would otherwise just broadcast and skip the buckets)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        got = {(r.k, r.va, r.vb) for r in joined.collect()}
        assert got == {(i, i * 2, i * 3) for i in range(1000)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_connected_components_long_chain_distributed(spark):
    """A 12-node path (diameter 11) through the distributed path: the
    per-round convergence check (r8) must keep running batches until the
    min label reaches the far end — an early stop would strand suffix
    nodes on intermediate labels."""
    from mysql2psql_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a bigint, doc_b bigint"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert got == {i: 1 for i in range(1, 13)}


def test_approx_strata_monotone_and_balanced(spark):
    """approx_strata: per-group bands are monotone in the score and,
    at high sketch accuracy on clean data, population-balanced; the
    no-window scale twin of exact NTILE (text_quality_buckets)."""
    from mysql2psql_spark.operators.text import approx_strata

    rows = [(g, i, float(i)) for g in ("en", "de") for i in range(300)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, score double")
    out = approx_strata(df, "lang", "score", n_strata=3).collect()
    by_group: dict = {}
    for r in out:
        by_group.setdefault(r.lang, []).append((r.score, r.stratum))
    assert set(by_group) == {"en", "de"}
    for vals in by_group.values():
        vals.sort()
        # monotone: stratum never decreases as score rises
        strata = [s for _, s in vals]
        assert strata == sorted(strata)
        assert set(strata) == {1, 2, 3}
        # balanced within sketch tolerance on 300 distinct values
        from collections import Counter

        c = Counter(strata)
        assert all(80 <= c[k] <= 120 for k in (1, 2, 3)), c


def test_approx_strata_null_scores(spark):
    """NULL-score rows get NULL strata (not silently band 1 — the r9
    semantics change, ADVICE r8), and a group whose scores are ALL NULL
    keeps its rows with NULL strata rather than vanishing."""
    from mysql2psql_spark.operators.text import approx_strata

    rows = (
        [("en", i, float(i)) for i in range(30)]
        + [("en", 100, None), ("en", 101, None)]
        + [("xx", 200, None), ("xx", 201, None)]  # all-NULL group
    )
    df = spark.createDataFrame(rows, "lang string, doc_id long, score double")
    out = {r.doc_id: r.stratum for r in approx_strata(df, "lang", "score").collect()}
    assert len(out) == 34  # every input row survives the cuts join
    assert out[100] is None and out[101] is None
    assert out[200] is None and out[201] is None
    scored = [out[i] for i in range(30)]
    assert None not in scored and set(scored) == {1, 2, 3}


def test_distribution_ranks_matches_window(spark):
    """The two-phase rank decomposition (operators/analytics.py) equals
    the exact PERCENT_RANK/CUME_DIST window bit-for-bit on a unique
    ordering key — including with duplicate VALUES straddling any cut
    (equal values always share a range bucket, so cut placement can
    never split a tie across the offset boundary)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from mysql2psql_spark.operators.analytics import distribution_ranks

    rows = [("a", i, float(i % 17)) for i in range(400)] + [
        ("b", i, 1.0) for i in range(7)  # all-tied partition
    ] + [("c", 0, 5.0)]  # single-row partition: pct_rank must be 0, not NaN
    df = spark.createDataFrame(rows, "k string, id long, v double")
    got = {
        (r.k, r.id): (r.rank, r.n, round(r.pct_rank, 9), round(r.cume, 9))
        for r in distribution_ranks(df, "k", ["v", "id"], n_buckets=8).collect()
    }
    w = W.partitionBy("k").orderBy("v", "id")
    want = {
        (r.k, r.id): (r.rank, r.n, round(r.pct_rank, 9), round(r.cume, 9))
        for r in df.select(
            "k", "id",
            F.row_number().over(w).alias("rank"),
            F.count("*").over(W.partitionBy("k")).alias("n"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        ).collect()
    }
    assert got == want


def test_pq_adc_topk_matches_python_reference(spark):
    """PQ encode + ADC rank against a pure-python reference on the same
    integer micro-grid — pins the element quantization, the argmin
    tie-break (first minimum = smallest centroid id), and the
    exact-rerank column."""
    import math
    import random

    from mysql2psql_spark.operators.embedding import pq_adc_topk

    rng = random.Random(11)
    dim, m, nc = 8, 2, 4
    sub = dim // m
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]) for i in range(40)
    ]
    # force an encode tie: vectors 30 and 31 identical, and centroid 2
    # duplicates centroid 1 in subspace 0 so argmin sees equal distances
    rows[31] = (31, list(rows[30][1]))

    # element quantization: round-half-up of x*1e6, matching Spark ROUND
    # (3-decimal inputs keep the product far from any .5 boundary)
    def q(x):
        return int(math.floor(x * 1e6 + 0.5)) if x >= 0 else -int(
            math.floor(-x * 1e6 + 0.5)
        )

    qrows = {vid: [q(v) for v in vec] for vid, vec in rows}
    codebook = [
        [qrows[c][j * sub : (j + 1) * sub] for c in range(nc)] for j in range(m)
    ]
    codebook[0][2] = list(codebook[0][1])
    probe_id = rows[-1][0]
    probe = qrows[probe_id]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def ref():
        scored = []
        for vid, _ in rows:
            if vid == probe_id:
                continue
            qv = qrows[vid]
            adc = 0
            for j in range(m):
                s = qv[j * sub : (j + 1) * sub]
                dists = [d2(s, codebook[j][c]) for c in range(nc)]
                code = dists.index(min(dists))  # first min = smallest c
                adc += d2(probe[j * sub : (j + 1) * sub], codebook[j][code])
            scored.append((adc, vid, d2(qv, probe)))
        scored.sort()
        return [
            (vid, round(adc / 1e12, 6), round(ex / 1e12, 6), r + 1)
            for r, (adc, vid, ex) in enumerate(scored[:10])
        ]

    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = [
        (r.vec_id, r.adc_dist2, r.exact_dist2, r.rnk)
        for r in pq_adc_topk(df, codebook, probe, probe_id=probe_id, k=10)
        .orderBy("rnk")
        .collect()
    ]
    assert got == ref()


def test_knn_label_audit_matches_python_reference(spark):
    """Cluster-local kNN majority vote against a pure-python reference on
    the same integer micro-grid — pins the neighbor tie-break (distance,
    then smallest id), the vote tie-break (smallest label), and the
    singleton-cluster never-flagged contract."""
    import math
    import random

    from mysql2psql_spark.operators.embedding import collect_seeds, knn_label_audit

    rng = random.Random(7)
    dim, nc, k = 8, 3, 3
    rows = []
    for i in range(30):
        rows.append(
            (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)], rng.randrange(4))
        )
    # distance tie: vectors 20 and 21 identical (equal d2 to everything —
    # neighbor rank must break to the smaller id); vote ties arise
    # naturally at k=3 with 2-vs-1... force a 1-1-1 split possibility by
    # keeping 4 label values over 3-NN votes
    rows[21] = (21, list(rows[20][1]), rows[21][2])

    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    seeds = collect_seeds(df, nc, "vec_id", "embedding")

    def q(x):
        s = 1 if x >= 0 else -1
        return s * int(math.floor(abs(x) * 1e6 + 0.5))

    # python reference: cosine assignment (round 6, argmax ties -> lowest
    # seed id), then grid-kNN majority
    def ref():
        import itertools

        qv = {vid: [q(v) for v in vec] for vid, vec, _ in rows}
        labs = {vid: l for vid, _, l in rows}
        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return round(num / (na * nb), 6)
        clus = {}
        for vid, vec, _ in rows:
            best = max(range(len(seeds)), key=lambda c: (cos(vec, seeds[c][1]), -c))
            clus.setdefault(best, []).append(vid)
        flagged = {}
        for members in clus.values():
            for v in members:
                others = [u for u in members if u != v]
                if not others:
                    flagged[v] = (labs[v], False)
                    continue
                d = sorted(
                    (sum((a - b) * (a - b) for a, b in zip(qv[v], qv[u])), u)
                    for u in others
                )
                nn = [u for _, u in d[:k]]
                counts = {}
                for u in nn:
                    counts[labs[u]] = counts.get(labs[u], 0) + 1
                mx = max(counts.values())
                maj = min(l for l, n in counts.items() if n == mx)
                flagged[v] = (maj, maj != labs[v])
        return flagged

    got = {
        r.vec_id: (r.knn_label, r.is_flagged)
        for r in knn_label_audit(df, seeds, k=k).collect()
    }
    assert got == ref()


def test_knn_label_audit_singleton_cluster_never_flagged(spark):
    """A vector alone in its cluster has no neighbors to vote: it keeps
    its own label and is not flagged (cosine assignment, so the singleton
    is built directionally — seed 1 points along a basis vector no other
    vector leans toward)."""
    from mysql2psql_spark.operators.embedding import collect_seeds, knn_label_audit

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # seed 0
        (1, [0.0, 1.0, 0.0, 0.0], 3),   # seed 1 — its own singleton cluster
        (2, [0.9, 0.1, 0.0, 0.0], 1),
        (3, [0.8, -0.1, 0.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    seeds = collect_seeds(df, 2, "vec_id", "embedding")
    got = {
        r.vec_id: (r.own_label, r.knn_label, r.is_flagged)
        for r in knn_label_audit(df, seeds, k=5).collect()
    }
    assert got[1] == (3, 3, False)
    # the 3-member cluster votes normally: 0's 2 neighbors are both label 1
    assert got[0] == (0, 1, True)


def test_distribution_ranks_rejects_non_prefix_value_col(spark):
    """ADVICE r10: the range-bucket decomposition is only rank-exact when
    the bucket value is a prefix of the ordering — any other explicit
    value_col must refuse loudly instead of silently scrambling ranks."""
    import pytest as _pytest

    from mysql2psql_spark.operators.analytics import distribution_ranks

    df = spark.createDataFrame(
        [(1, 1.0, 2.0)], "id bigint, a double, b double"
    )
    with _pytest.raises(ValueError, match="value_col must be order_cols"):
        distribution_ranks(df, "id", ["a", "id"], value_col="b")
    # the sanctioned spellings still work
    assert distribution_ranks(df, "id", ["a", "id"]).count() == 1
    assert distribution_ranks(df, "id", ["a", "id"], value_col="a").count() == 1


def test_knn_label_audit_refuses_mega_cluster(spark):
    """r10 verdict #7: the per-cluster quadratic kernel is linear-in-corpus
    ONLY under bounded cluster sizes — a degenerate clustering (one
    mega-cluster) must be refused with the counted size in the message,
    not silently re-create the all-pairs blowup."""
    import pytest as _pytest

    from mysql2psql_spark.operators.embedding import knn_label_audit

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0], i % 2) for i in range(6)],
        "vec_id bigint, embedding array<float>, label int",
    )
    seeds = [(0, [1.0, 0.0])]  # every vector lands in one cluster
    with _pytest.raises(ValueError, match="max_cluster_rows"):
        knn_label_audit(emb, seeds, k=2, max_cluster_rows=3)
    # the disabled-gate and under-limit paths still run
    assert knn_label_audit(emb, seeds, k=2, max_cluster_rows=None).count() == 6
    assert knn_label_audit(emb, seeds, k=2, max_cluster_rows=100).count() == 6


def test_ensure_bucketed_table_builds_once_per_session(spark):
    """The write-once contract: the second call must return the existing
    table without invoking the build (pay-the-shuffle-once), and the
    data must live under the session-unique scratch root, never a fixed
    shared path (ADVICE r10 medium)."""
    from mysql2psql_spark.operators.layout import ensure_bucketed_table, session_scratch

    calls = []

    def build():
        calls.append(1)
        return spark.range(50).selectExpr("id", "id % 5 AS k")

    name = "t_build_once_probe"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    a = ensure_bucketed_table(spark, name, ["k"], 4, build)
    b = ensure_bucketed_table(spark, name, ["k"], 4, build)
    assert calls == [1]
    assert a.count() == b.count() == 50
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {name}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    )
    assert session_scratch(spark).lstrip("/") in loc
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ensure_bucketed_table_refuses_spec_mismatch(spark):
    """A re-entry under the same table name with a DIFFERENT bucket spec
    must raise, never silently hand back the first caller's layout
    (ADVICE r11): the name is a session-scoped contract."""
    import pytest as _pytest

    from mysql2psql_spark.operators.layout import ensure_bucketed_table

    def build():
        return spark.range(50).selectExpr("id", "id % 5 AS k", "id % 3 AS j")

    name = "t_spec_mismatch_probe"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    ensure_bucketed_table(spark, name, ["k"], 4, build)
    with _pytest.raises(ValueError, match="session-scoped contract"):
        ensure_bucketed_table(spark, name, ["k"], 8, build)  # count differs
    with _pytest.raises(ValueError, match="session-scoped contract"):
        ensure_bucketed_table(spark, name, ["j"], 4, build)  # keys differ
    with _pytest.raises(ValueError, match="session-scoped contract"):
        # sort flag differs (ADVICE r12): a caller relying on in-bucket
        # sortedness must not silently get the sorted=True layout's
        # opposite (wrong plan assumption, not wrong data)
        ensure_bucketed_table(spark, name, ["k"], 4, build, sort=False)
    # the matching spec still returns the table
    assert ensure_bucketed_table(spark, name, ["k"], 4, build).count() == 50
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # and the sort=False spec round-trips against itself
    name2 = "t_spec_mismatch_probe_nosort"
    spark.sql(f"DROP TABLE IF EXISTS {name2}")
    ensure_bucketed_table(spark, name2, ["k"], 4, build, sort=False)
    with _pytest.raises(ValueError, match="session-scoped contract"):
        ensure_bucketed_table(spark, name2, ["k"], 4, build, sort=True)
    assert (
        ensure_bucketed_table(spark, name2, ["k"], 4, build, sort=False).count()
        == 50
    )
    spark.sql(f"DROP TABLE IF EXISTS {name2}")


def test_derived_bucket_count_rule(spark):
    """The 100 TB bucket-count guidance lives in code (VERDICT r11 #6):
    session executor width as the floor, ceil(est_bytes / 128 MB) once
    the table outgrows width x 128 MB."""
    from mysql2psql_spark.operators.layout import derived_bucket_count

    width = spark.sparkContext.defaultParallelism
    assert derived_bucket_count(spark) == width  # no estimate -> floor
    assert derived_bucket_count(spark, est_bytes=1) == width  # tiny table
    big = 100 * (1 << 40)  # 100 TB
    assert derived_bucket_count(spark, est_bytes=big) == -(-big // (128 << 20))
    # exact multiples don't over-allocate by one
    assert derived_bucket_count(spark, est_bytes=(128 << 20) * width) == width


# --- bitext margin mining (QUEUED r12 registration: the registry is
# frozen this round per the r10 verdict, so the full differential runs
# HERE instead of through the driver's correctness harness) -------------


def test_bitext_margin_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued sim_bitext_margin query —
    identical protocol to test_oracle.py::test_query_matches_oracle
    (rows, columns, exact values), run at sf0.01."""
    import pandas as pd

    from mysql2psql_spark.queries.similarity_q import (
        _ORACLE_BITEXT,
        sim_bitext_margin,
    )
    from mysql2psql_spark.operators.materialize import CacheHandle

    with CacheHandle() as caches:
        got = sim_bitext_margin(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_BITEXT).df()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def test_bitext_margin_mutual_best_is_injective(spark):
    """Mutual-best output is a partial matching: every id_x and every
    id_y appears at most once, and margins clear the threshold."""
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.similarity_q import sim_bitext_margin

    with CacheHandle() as caches:
        rows = sim_bitext_margin(spark, SF_DIR_ORACLE, caches=caches).collect()
    assert len(rows) > 0
    xs = [r.id_x for r in rows]
    ys = [r.id_y for r in rows]
    assert len(xs) == len(set(xs)) and len(ys) == len(set(ys))
    assert all(r.margin >= 1.1 for r in rows)


def test_bitext_margin_refuses_unbounded_cross_product(spark):
    """The counted |X| x |Y| gate refuses before scoring (the same
    explicit-refusal contract as exact_cosine_pairs)."""
    import pytest as _pytest

    from mysql2psql_spark.operators.similarity import bitext_margin_pairs
    from mysql2psql_spark.sources import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    with _pytest.raises(ValueError, match="ANN candidates"):
        bitext_margin_pairs(emb, emb, max_pairs=100).count()


def test_bitext_margin_gate_sound_for_asymmetric_sides(spark):
    """The counted gate must refuse an asymmetric over-limit input where
    one side's capped count truncates (ADVICE r11, medium): with
    max_pairs=100 the per-side cap is 82, so |X|=200 counts as 82 and
    |Y|=1 gave 82 * 1 <= 100 — the quadratic crossJoin ran despite a
    true product of 200. The re-count against the other side's exact
    count makes the product test sound for any shape."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mysql2psql_spark.operators.similarity import bitext_margin_pairs

    def mk(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        )

    with _pytest.raises(ValueError, match="ANN candidates"):
        bitext_margin_pairs(mk(200), mk(1), max_pairs=100).count()
    with _pytest.raises(ValueError, match="ANN candidates"):  # mirrored shape
        bitext_margin_pairs(mk(1), mk(200), max_pairs=100).count()
    # and an asymmetric UNDER-limit input still passes the gate
    assert bitext_margin_pairs(mk(90), mk(1), max_pairs=100).count() >= 0


def test_topk_sum_matches_single_window(spark):
    """Two-phase topk_sum == the naive single-window top-k sum on a
    skewed synthetic frame (one hot key with 500 candidates, ties
    included), for every fanout that divides the candidates unevenly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from mysql2psql_spark.operators.similarity import topk_sum

    rows = [(k, o, (o * 37) % 11) for k in range(3) for o in range(500 if k == 0 else 7)]
    df = spark.createDataFrame(rows, "k int, o int, s int")
    naive = {
        r.k: r.ksum
        for r in df.withColumn(
            "_r", F.row_number().over(W.partitionBy("k").orderBy(F.col("s").desc(), "o"))
        )
        .filter(F.col("_r") <= 5)
        .groupBy("k")
        .agg(F.sum("s").alias("ksum"))
        .collect()
    }
    for fanout in (1, 3, 32):
        got = {r.k: r.ksum for r in topk_sum(df, "k", "o", "s", 5, fanout).collect()}
        assert got == naive, f"fanout={fanout}"


def test_bitext_ann_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued sim_bitext_ann query (the
    production LSH-candidate path of the bitext miner), at sf0.01."""
    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.similarity_q import (
        _ORACLE_BITEXT_ANN,
        sim_bitext_ann,
    )

    with CacheHandle() as caches:
        got = sim_bitext_ann(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_BITEXT_ANN).df()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def test_bitext_ann_is_candidate_restriction_of_exact(spark):
    """Structural relation between the two miners: the ANN candidate set
    is a subset of the cross product, so every ANN pair's (id_x, id_y)
    must come from the same parity split, and the output stays an
    injective partial matching."""
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.similarity_q import sim_bitext_ann

    with CacheHandle() as caches:
        rows = sim_bitext_ann(spark, SF_DIR_ORACLE, caches=caches).collect()
    assert len(rows) > 0
    xs = [r.id_x for r in rows]
    ys = [r.id_y for r in rows]
    assert len(xs) == len(set(xs)) and len(ys) == len(set(ys))
    assert all(r.margin >= 1.1 for r in rows)


# --- content-defined chunking (QUEUED r12 registration) ----------------


def _ref_cdc(text, w=3, divisor=8):
    """Pure-Python reference of operators/dedup.py::cdc_chunks."""
    import hashlib

    ts = text.split(" ")
    flags = []
    for i in range(1, len(ts) + 1):
        if i >= w:
            h = int(hashlib.md5(" ".join(ts[i - w : i]).encode()).hexdigest()[:8], 16)
            flags.append(1 if h % divisor == 0 else 0)
        else:
            flags.append(0)
    chunks, cur, cid = {}, [], 0
    for word, flag in zip(ts, flags):
        cur.append(word)
        if flag:
            chunks[cid] = " ".join(cur)
            cur, cid = [], cid + 1
    if cur:
        chunks[cid] = " ".join(cur)
    return chunks


def test_cdc_chunks_matches_python_reference(spark):
    """cdc_chunks == the Python peel on synthetic docs, including docs
    shorter than the window and a doc that IS one giant chunk."""
    from mysql2psql_spark.operators.dedup import cdc_chunks

    import random

    rng = random.Random(7)
    vocab = ["spark", "scan", "join", "agg", "sort", "row", "key", "col"]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 60)))) for i in range(30)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.doc_id, r.chunk_id): r.chunk_text
        for r in cdc_chunks(df, w=3, divisor=8).collect()
    }
    want = {
        (i, cid): text
        for i, doc in docs
        for cid, text in _ref_cdc(doc).items()
    }
    assert got == want


def test_cdc_chunks_edit_locality(spark):
    """The CDC property that fixed-size chunking lacks: editing ONE word
    mid-document leaves every chunk outside the edit's window shared
    between the two versions."""
    import random

    from mysql2psql_spark.operators.dedup import cdc_chunks

    rng = random.Random(13)
    vocab = ["spark", "scan", "join", "agg", "sort", "row", "key", "col"]
    words = [rng.choice(vocab) for _ in range(400)]
    edited = list(words)
    edited[200] = "EDITED"
    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(edited))], ["doc_id", "text"]
    )
    chunks = cdc_chunks(df, w=3, divisor=8).collect()
    a = {r.chunk_text for r in chunks if r.doc_id == 0}
    b = {r.chunk_text for r in chunks if r.doc_id == 1}
    shared = a & b
    # every chunk not containing position ~200's neighborhood survives:
    # the two versions must share the overwhelming majority of chunks
    assert len(shared) >= max(len(a), len(b)) - 3
    assert len(shared) < len(a)  # and the edited chunk did change


def test_cdc_dedup_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued dedup_cdc_chunks query at
    sf0.01 (identical protocol to test_oracle.py)."""
    import pandas as pd

    from mysql2psql_spark.queries.dedup_q import _ORACLE_CDC, dedup_cdc_chunks

    got = dedup_cdc_chunks(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_CDC).df()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


# --- winnowing fingerprints (QUEUED r12 registration) -------------------


def _ref_winnow(text, k=4, w=4):
    """Pure-Python reference of operators/dedup.py::winnowing_fingerprints."""
    import hashlib

    ts = text.split(" ")
    grams = [
        int(hashlib.md5(" ".join(ts[i : i + k]).encode()).hexdigest()[:8], 16)
        for i in range(len(ts) - k + 1)
    ]
    return {min(grams[t : t + w]) for t in range(len(grams) - w + 1)}


def test_winnowing_matches_python_reference(spark):
    import random

    from mysql2psql_spark.operators.dedup import winnowing_fingerprints

    rng = random.Random(23)
    vocab = ["spark", "scan", "join", "agg", "sort", "row", "key", "col"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(7, 80))))
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in winnowing_fingerprints(df, k=4, w=4).collect():
        got.setdefault(r.doc_id, set()).add(r.fhash)
    want = {i: _ref_winnow(doc) for i, doc in docs}
    assert got == want


def test_winnowing_detection_guarantee(spark):
    """The SIGMOD-2003 guarantee: two documents sharing a token run of
    >= w + k - 1 = 7 tokens MUST share at least one fingerprint — for
    every planted overlap length >= 7, regardless of surrounding text."""
    import random

    from mysql2psql_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_match_pairs,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(500)]  # big vocab: no accidental overlap
    rows = []
    for run_len in (7, 9, 15):
        shared = [rng.choice(vocab) for _ in range(run_len)]
        a = [rng.choice(vocab) for _ in range(30)] + shared + [rng.choice(vocab) for _ in range(30)]
        b = [rng.choice(vocab) for _ in range(25)] + shared + [rng.choice(vocab) for _ in range(35)]
        rows += [(run_len * 100, " ".join(a)), (run_len * 100 + 1, " ".join(b))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = winnowing_fingerprints(df, k=4, w=4)
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_match_pairs(fp, min_shared=1).collect()
    }
    for run_len in (7, 9, 15):
        key = (run_len * 100, run_len * 100 + 1)
        assert key in pairs, f"run of {run_len} tokens went undetected"


def test_winnowing_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued dedup_winnowing query at
    sf0.01 (identical protocol to test_oracle.py)."""
    import pandas as pd

    from mysql2psql_spark.queries.dedup_q import _ORACLE_WINNOW, dedup_winnowing

    got = dedup_winnowing(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_WINNOW).df()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def test_margin_mutual_best_fanout_invariant_and_monotone(spark):
    """Properties of the shared margin tail on a random scored frame:
    (a) output is identical for every topk_sum fanout (the two-phase
    decomposition is exact, not approximate); (b) raising the threshold
    only removes rows (the kept set is monotone in threshold)."""
    import random

    from mysql2psql_spark.operators.similarity import margin_mutual_best
    from mysql2psql_spark.operators.materialize import materialize, unmaterialize

    rng = random.Random(31)
    rows = [
        (a, b, rng.randrange(-1_000_000, 1_000_000))
        for a in range(40)
        for b in range(1000, 1030)
        if rng.random() < 0.6
    ]
    scored = materialize(spark.createDataFrame(rows, "id_a long, id_b long, c6 long"))
    try:
        base = sorted(
            (r.id_x, r.id_y, r.margin)
            for r in margin_mutual_best(scored, k=4, threshold=0.9, fanout=32).collect()
        )
        assert len(base) > 0
        for fanout in (1, 7):
            got = sorted(
                (r.id_x, r.id_y, r.margin)
                for r in margin_mutual_best(scored, k=4, threshold=0.9, fanout=fanout).collect()
            )
            assert got == base, f"fanout={fanout} changed the result"
        tighter = sorted(
            (r.id_x, r.id_y, r.margin)
            for r in margin_mutual_best(scored, k=4, threshold=1.05, fanout=32).collect()
        )
        assert set(tighter) <= set(base)
        assert all(m >= 1.05 for _, _, m in tighter)
        # (c) the persisted-m plan shape (r17: the margin frame feeds both
        # mutual-best aggregations, so it persists by default to stop the
        # final join carrying the deep topk/join subtree twice) returns
        # the identical rows as the unpersisted shape.
        unpersisted = sorted(
            (r.id_x, r.id_y, r.margin)
            for r in margin_mutual_best(
                scored, k=4, threshold=0.9, fanout=32, persist_m=False
            ).collect()
        )
        assert unpersisted == base, "persist_m changed the result"
    finally:
        unmaterialize(scored)


def test_dedup_recall_gate_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued dedup_recall_gate query at
    sf0.01 — and the gate itself must read recall 1.0 with zero spurious
    pairs (the LSH premise, now as a one-row summary)."""
    import pandas as pd

    from mysql2psql_spark.queries.dedup_q import (
        _ORACLE_RECALL_GATE,
        dedup_recall_gate,
    )

    got = dedup_recall_gate(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_RECALL_GATE).df()
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    row = got.iloc[0]
    assert row.recall == 1.0 and row.n_missed == 0 and row.n_spurious == 0


# --- count-min sketch (QUEUED r12 registration) --------------------------


def test_cms_heavy_hitters_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued text_cms_heavy_hitters
    query at sf0.01; estimates must dominate exact counts (one-sided
    error is the count-min contract)."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import _ORACLE_CMS, text_cms_heavy_hitters

    got = text_cms_heavy_hitters(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_CMS).df()
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(got) == 20
    assert (got.n_est >= got.n_exact).all()


def test_cms_sketch_is_mergeable_and_dominates(spark):
    """The sketch built over a whole corpus equals the bucket-wise SUM of
    sketches built over any partition of it (mergeability — what makes
    it a map-side-combinable 100 TB summary), and every point estimate
    dominates the true count."""
    import random

    from pyspark.sql import functions as F

    from mysql2psql_spark.operators.text import cms_estimate, count_min_sketch

    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(60)]
    words = [vocab[min(rng.randrange(60), rng.randrange(60))] for _ in range(4000)]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    half_a = spark.createDataFrame([(w,) for w in words[:2000]], ["word"])
    half_b = spark.createDataFrame([(w,) for w in words[2000:]], ["word"])
    whole = {
        (r.r, r.bucket): r.cnt for r in count_min_sketch(df, 4, 16).collect()
    }
    merged: dict = {}
    for part in (half_a, half_b):
        for r in count_min_sketch(part, 4, 16).collect():
            merged[(r.r, r.bucket)] = merged.get((r.r, r.bucket), 0) + r.cnt
    assert whole == merged
    truth = {w: words.count(w) for w in set(words)}
    probes = spark.createDataFrame([(w,) for w in truth], ["token"])
    est = {
        r.token: r.n_est
        for r in cms_estimate(probes, count_min_sketch(df, 4, 16), 4, 16).collect()
    }
    assert all(est[w] >= c for w, c in truth.items())


def test_cms_estimate_absent_token_reports_zero(spark):
    """A probed token whose cells were never incremented must report
    n_est = 0, not vanish or inflate (ADVICE r11: the inner-join lookup
    dropped empty cells from the MIN and lost all-empty tokens). Width
    2^20 makes cross-token collisions impossible for a 2-token corpus,
    so the absent probe's every cell is empty -> exact 0, and the
    present tokens' estimates are exact."""
    from mysql2psql_spark.operators.text import cms_estimate, count_min_sketch

    corpus = spark.createDataFrame([("a",), ("a",), ("b",)], ["word"])
    probes = spark.createDataFrame([("a",), ("b",), ("nothere",)], ["token"])
    w = 1 << 20
    est = {
        r.token: r.n_est
        for r in cms_estimate(probes, count_min_sketch(corpus, 4, w), 4, w).collect()
    }
    assert est == {"a": 2, "b": 1, "nothere": 0}


# --- incremental minhash + leakage-safe split (registered r13; built r12
# under the registry freeze so the rotation could clear the r8-stale
# tier — the full DuckDB differentials ALSO run here) --------------------


def test_minhash_incremental_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued dedup_minhash_incremental
    query at sf0.01 (identical protocol to test_oracle.py)."""
    import pandas as pd

    from mysql2psql_spark.queries.dedup_q import (
        _ORACLE_MINHASH_INC,
        dedup_minhash_incremental,
    )

    got = dedup_minhash_incremental(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_MINHASH_INC).df()
    assert len(got) == len(want) > 0  # the fixture HAS cross-side pairs
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
    w = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


def test_minhash_incremental_is_cross_restriction_of_full(spark):
    """The incremental gate's output must equal the FULL within-corpus
    answer restricted to (batch, corpus) pairs — no old x old or
    new x new pair may appear, none may be missed."""
    from mysql2psql_spark.queries.dedup_q import (
        dedup_minhash_incremental,
        dedup_minhash_lsh,
    )

    inc = {
        (r.doc_new, r.doc_corpus): r.jaccard
        for r in dedup_minhash_incremental(spark, SF_DIR_ORACLE).collect()
    }
    full = {}
    for r in dedup_minhash_lsh(spark, SF_DIR_ORACLE).collect():
        a, b = r.doc_a, r.doc_b
        if a % 10 >= 8 and b % 10 < 8:
            full[(a, b)] = r.jaccard
        elif b % 10 >= 8 and a % 10 < 8:
            full[(b, a)] = r.jaccard
    assert inc == full and len(inc) > 0


def test_leakage_safe_split_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued dedup_leakage_safe_split
    query at sf0.01, plus the two semantic gates: the cluster-level
    split leaks ZERO pairs by construction while the naive doc-id split
    leaks a nonzero number on this corpus (the problem is real)."""
    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.dedup_q import (
        _ORACLE_SAFE_SPLIT,
        dedup_leakage_safe_split,
    )

    with CacheHandle() as caches:
        got = dedup_leakage_safe_split(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_SAFE_SPLIT).df()
    assert len(got) == len(want) == 1
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].reset_index(drop=True)
    w = want[sorted(want.columns)].reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    row = got.iloc[0]
    assert row.safe_leaky_pairs == 0
    assert row.naive_leaky_pairs > 0
    assert row.train_docs + row.val_docs + row.test_docs == row.n_docs


def test_leakage_safe_split_keeps_clusters_whole(spark):
    """Property behind the summary row: every document of a near-dup
    cluster receives the cluster's split — rebuilt per-doc here and
    checked directly rather than through the aggregate."""
    from pyspark.sql import functions as F

    from mysql2psql_spark.operators.dedup import connected_components
    from mysql2psql_spark.queries.text_q import dedup_ngram_jaccard

    cc = connected_components(dedup_ngram_jaccard(spark, SF_DIR_ORACLE))
    draw = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = F.when(draw < 80, "train").when(draw < 90, "val").otherwise("test")
    per_cluster = (
        cc.select("cluster_id", split.alias("split"))
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0


def test_minhash_cross_pairs_matches_bruteforce_on_synthetic(spark):
    """minhash_lsh_cross_pairs == the brute-force new x corpus Jaccard
    restriction on a synthetic corpus with PLANTED high-J cross pairs
    (random token soup otherwise), plus the empty-side edge cases. The
    planted pairs sit at J >= 0.85 — above the 8x4 banding threshold the
    operator's recall contract covers (the same premise regime as the
    fixture corpus)."""
    import random

    from mysql2psql_spark.operators.dedup import minhash_lsh_cross_pairs
    from mysql2psql_spark.operators.text import shingle_hash_table

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    rows = []
    for i in range(40):  # corpus side: ids 0..39 (id % 10 < 8 not needed here)
        rows.append((i, doc(30)))
    # planted near-dups: batch ids 1000+ copy a corpus doc with one edit
    for j, src in enumerate([3, 7, 11]):
        words = rows[src][1].split()
        words[5] = "EDITED"
        rows.append((1000 + j, " ".join(words)))
    for j in range(3, 8):  # unrelated batch docs
        rows.append((1000 + j, doc(30)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = shingle_hash_table(df)
    batch = sh.filter(F.col("doc_id") >= 1000)
    corpus = sh.filter(F.col("doc_id") < 1000)
    got = {
        (r.doc_new, r.doc_corpus): r.jaccard
        for r in minhash_lsh_cross_pairs(batch, corpus, threshold=0.5).collect()
    }

    # brute force on 3-word shingle SETS (the operator's feature space)
    def shset(text):
        ts = text.split(" ")
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    want = {}
    docs = dict(rows)
    for b in [i for i in docs if i >= 1000]:
        for c in [i for i in docs if i < 1000]:
            sa, sb = shset(docs[b]), shset(docs[c])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                want[(b, c)] = round(j, 6)
    assert set(got) == set(want) and len(want) >= 3
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

    # empty sides: no candidates, no crash
    empty = sh.filter(F.lit(False))
    assert minhash_lsh_cross_pairs(empty, corpus).count() == 0
    assert minhash_lsh_cross_pairs(batch, empty).count() == 0


# --- streaming near-dup gate summary (QUEUED r14 registration: the r13
# window is exactly filled by the two r12-queued flips, so the full
# DuckDB differential runs HERE until the @query row lands) --------------


def test_stream_near_dup_gate_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued stream_near_dup_gate
    query at sf0.01 (identical protocol to test_oracle.py): the batch-
    mode foreachBatch drive over two parity micro-batches must compact
    to exactly the oracle's pair count with zero asymmetry."""
    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.dedup_q import (
        _ORACLE_STREAM_GATE,
        stream_near_dup_gate,
    )

    with CacheHandle() as caches:
        got = stream_near_dup_gate(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_STREAM_GATE).df()
    assert len(got) == len(want) == 1
    assert sorted(got.columns) == sorted(want.columns)
    g = got[sorted(got.columns)].reset_index(drop=True)
    w = want[sorted(want.columns)].reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    row = got.iloc[0]
    assert row.stream_pairs == row.batch_pairs > 0
    assert row.only_stream == row.only_batch == row.value_mismatches == 0


# --- incremental cluster maintenance (QUEUED r14 registration) ----------


def test_clusters_incremental_matches_full_recompute_and_oracle(spark, duck):
    """The contraction-maintained map must equal BOTH the from-scratch
    connected_components answer over old ∪ new pairs AND dedup_clusters'
    recursive-CTE oracle (the queued query's oracle verbatim)."""
    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries import ORACLE
    from mysql2psql_spark.queries.dedup_q import (
        dedup_clusters,
        dedup_clusters_incremental,
    )

    with CacheHandle() as caches:
        got = dedup_clusters_incremental(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    full = dedup_clusters(spark, SF_DIR_ORACLE).toPandas()
    key = ["doc_id", "cluster_id"]
    g = got[key].sort_values(key).reset_index(drop=True)
    f = full[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, f, check_dtype=False)
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(ORACLE["dedup_clusters"]).df()
    w = want[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(g) > 0


def test_clusters_incremental_merges_bridged_clusters(spark):
    """A fresh doc bridging TWO standing clusters must merge them under
    the smaller cluster's label (min-label canonicality through the
    contraction shortcut), and an intra-cluster new edge must be a
    no-op."""
    from mysql2psql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )

    old = spark.createDataFrame([(1, 2), (10, 11)], ["doc_a", "doc_b"])
    # 5 bridges both clusters; (1, 2) re-arrives as an intra-cluster edge
    new = spark.createDataFrame([(2, 5), (5, 10), (1, 2)], ["doc_a", "doc_b"])
    cc_old = connected_components(old)
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_incremental(cc_old, new).collect()
    }
    want = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(old.unionByName(new)).collect()
    }
    assert got == want == {(1, 1), (2, 1), (5, 1), (10, 1), (11, 1)}


def test_clusters_incremental_driver_and_distributed_tails_identical(spark):
    """The r17 driver-side fast tail (batch under the counted gate) must
    produce row-identical maps to the distributed DataFrame tail on the
    same inputs — including merges, fresh singleton components, an
    intra-cluster no-op edge, a null endpoint (which vanishes in both
    tails), and an empty batch."""
    from mysql2psql_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
    )

    old = spark.createDataFrame([(1, 2), (10, 11), (20, 21)], ["doc_a", "doc_b"])
    cc_old = connected_components(old)
    cases = [
        [(2, 5), (5, 10), (1, 2), (30, 31), (7, None)],
        [],
        [(40, 41)],
    ]
    for new_rows in cases:
        new = spark.createDataFrame(
            new_rows or [(None, None)], "doc_a bigint, doc_b bigint"
        )
        if not new_rows:
            new = new.filter(F.col("doc_a").isNotNull() & F.lit(False))
        got_driver = {
            (r.doc_id, r.cluster_id)
            for r in connected_components_incremental(cc_old, new).collect()
        }
        got_dist = {
            (r.doc_id, r.cluster_id)
            for r in connected_components_incremental(
                cc_old, new, driver_threshold=-1
            ).collect()
        }
        assert got_driver == got_dist, new_rows


# --- PSI drift profile (QUEUED r14/r15 registration: full DuckDB
# differential runs HERE until the @query row lands) ---------------------


def test_profile_drift_psi_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued profile_drift_psi query at
    sf0.01 (identical protocol to test_oracle.py), plus the PSI
    invariants: every smoothed term is non-negative ((p-q)ln(p/q) has
    matching signs) and raw shares sum to 1 per (dim, period)."""
    import pandas as pd

    from mysql2psql_spark.queries.events_q import (
        _ORACLE_DRIFT_PSI,
        profile_drift_psi,
    )

    got = profile_drift_psi(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_DRIFT_PSI).df()
    key = ["dim", "bucket"]
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    g = got.sort_values(key).reset_index(drop=True)[cols]
    w = want.sort_values(key).reset_index(drop=True)[cols]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert (g.psi_term >= 0).all()
    for dim, grp in g.groupby("dim"):
        assert abs(grp.share_a.sum() - 1.0) < 1e-4
        assert abs(grp.share_b.sum() - 1.0) < 1e-4
    assert set(g.dim) == {"event_type", "value_decile"}


def test_profile_drift_detects_planted_shift(spark):
    """A deliberately shifted second half must score a larger PSI than
    the null split of the same stream (sanity that the statistic moves
    in the right direction, not just that two engines agree)."""
    import datetime as dt

    from mysql2psql_spark.queries.events_q import profile_drift_psi

    rows = []
    base = dt.datetime(2024, 1, 1)
    for i in range(2000):
        # first half: 90% click / 10% error; second half: 30% / 70%
        half = i >= 1000
        typ = "error" if (i % 10) < (7 if half else 1) else "click"
        rows.append((i, base + dt.timedelta(seconds=i), i, typ, float(i % 100) + 0.5, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        out = profile_drift_psi(spark, tmp).toPandas()
    et = out[out.dim == "event_type"]
    assert et.psi_term.sum() > 0.25, et  # the "shifted" regime
    vd = out[out.dim == "value_decile"]
    assert vd.psi_term.sum() < 0.1, vd  # value mix unchanged -> stable


# --- snapshot diff (QUEUED r14/r15 registration) ------------------------


def test_snapshot_diff_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued m7_snapshot_diff query at
    sf0.01, plus composition pins: the change classes match the keyed
    construction rules exactly and no 'changed' row is empty."""
    import pandas as pd

    from mysql2psql_spark.queries.migration_q import (
        _ORACLE_SNAPSHOT_DIFF,
        m7_snapshot_diff,
    )
    from mysql2psql_spark.sources import load_table

    got = m7_snapshot_diff(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_SNAPSHOT_DIFF).df()
    key = ["o_orderkey", "change_type"]
    cols = sorted(got.columns)
    g = got.sort_values(key).reset_index(drop=True)[cols]
    w = want.sort_values(key).reset_index(drop=True)[cols]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    keys = [
        r.o_orderkey
        for r in load_table(spark, SF_DIR_ORACLE, "orders").select("o_orderkey").collect()
    ]
    removed = {k for k in keys if k % 97 == 3}
    added = {k + 100000000 for k in keys if k % 101 == 11}
    changed = {
        k for k in keys if k % 97 != 3 and (k % 91 == 5 or k % 89 == 7)
    }
    by_type = {t: set(grp.o_orderkey) for t, grp in g.groupby("change_type")}
    assert by_type.get("removed", set()) == removed
    assert by_type.get("added", set()) == added
    assert by_type.get("changed", set()) == changed
    ch = g[g.change_type == "changed"]
    assert (ch.changed_columns != "").all()
    assert set(ch.changed_columns) <= {
        "o_totalprice",
        "o_orderpriority,o_orderstatus",
        "o_orderpriority,o_orderstatus,o_totalprice",
    }


# --- k-means training (QUEUED r14/r15 registration) ---------------------


def test_kmeans_train_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued sim_kmeans_train query at
    sf0.01: three unrolled Lloyd iterations must carry bit-identical
    centroids across engines (micro-integer means), so the final
    cluster profile hash-matches exactly."""
    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.embedding_q import (
        _ORACLE_KMEANS_TRAIN,
        sim_kmeans_train,
    )

    with CacheHandle() as caches:
        got = sim_kmeans_train(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_KMEANS_TRAIN).df()
    cols = sorted(got.columns)
    g = got.sort_values("cluster").reset_index(drop=True)[cols]
    w = want.sort_values("cluster").reset_index(drop=True)[cols]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert g.n_members.sum() == 500  # every vector assigned exactly once


def test_kmeans_train_recovers_planted_clusters(spark):
    """On three well-separated planted clusters, 3-iteration Lloyd must
    (a) recover the exact planted memberships and (b) tighten them:
    final mean assignment cosine >= the seed-assignment mean (Lloyd's
    monotone improvement on clean geometry)."""
    import numpy as np

    from mysql2psql_spark.operators.embedding import kmeans_refine_step, kmeans_train

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(3, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # ids 0..2 are one seed per planted cluster (far apart); the rest are
    # small perturbations so the true partition is unambiguous
    for i in range(150):
        c = i % 3
        v = centers[c] + rng.normal(scale=0.05, size=64)
        rows.append((i, [float(x) for x in v], c))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = kmeans_train(df, n_centroids=3, n_iterations=3).toPandas()
    assert sorted(out.n_members) == [50, 50, 50]
    step = kmeans_refine_step(df, n_centroids=3).toPandas()
    assert out.mean_cos.min() >= step.mean_cos.min() - 1e-9
    assert out.mean_cos.mean() > 0.9


# --- PQ codebook training step (QUEUED r14/r15 registration) -------------


def test_pq_train_step_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued sim_pq_train_step query
    at sf0.01, plus the conservation invariant: every vector contributes
    exactly one membership per subspace."""
    import pandas as pd

    from mysql2psql_spark.queries.similarity_q import (
        _ORACLE_PQ_TRAIN,
        _PQ_M,
        sim_pq_train_step,
    )
    from mysql2psql_spark.sources import load_table

    got = sim_pq_train_step(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_PQ_TRAIN).df()
    key = ["subspace", "centroid"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    n_vecs = load_table(spark, SF_DIR_ORACLE, "embeddings").count()
    per_sub = g.groupby("subspace").n_members.sum()
    assert (per_sub == n_vecs).all(), per_sub
    assert len(per_sub) == _PQ_M


def test_pq_train_step_distance_sum_exact_past_int64(spark):
    """ADVICE r13: the kernel's per-batch cell distance sum used int64
    numpy accumulation, which wraps silently once a large Arrow batch of
    large-magnitude vectors pushes the true sum past 2^63. The sum now
    accumulates in Python ints and crosses the Arrow boundary as
    decimal(38,0). Construct the wrap case exactly: one 150,001-row
    batch, codebook [0,0], members [6,6] → per-row distance
    2·(6e6)² = 7.2e13, true cell sum 1.08e19 > int64 max 9.22e18 —
    the old kernel reported a wrapped (negative) distortion here."""
    from mysql2psql_spark.operators.embedding import pq_train_step

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
    try:
        rows = [(0, [0.0, 0.0])] + [(i, [6.0, 6.0]) for i in range(1, 150001)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1)
        r = pq_train_step(df, m=1, n_centroids=1, sub_dim=2).collect()[0]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
    true_sd = 150000 * 2 * (6_000_000 ** 2)
    want = round((true_sd / 150001) / 1e12, 6)
    assert r["n_members"] == 150001
    assert abs(float(r["distortion"]) - want) < 1e-6, r["distortion"]


def test_pq_train_step_matches_numpy_recompute(spark):
    """Independent-implementation differential: a driver-side numpy
    replay of quantize -> assign -> per-cell stats over the sf0.001
    corpus must reproduce the distributed kernel's output exactly."""
    import numpy as np

    from mysql2psql_spark.operators.embedding import pq_train_step
    from mysql2psql_spark.sources import load_table

    m, nc, sub = 4, 16, 16
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    got = {
        (r.subspace, r.centroid): (r.n_members, r.centroid_norm, r.distortion)
        for r in pq_train_step(emb, m=m, n_centroids=nc, sub_dim=sub).collect()
    }
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    x = np.round(
        np.array([[float(v) for v in r.embedding] for r in rows]) * 1e6
    ).astype(np.int64).reshape(len(rows), m, sub)
    cb = x[np.argsort(ids)[:nc]]  # (nc, m, sub), seed order = id order
    seed_ids = np.sort(ids)[:nc]
    d = ((x[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=-1)  # (N, nc, m)
    codes = d.argmin(axis=1)  # (N, m)
    want = {}
    for j in range(m):
        for c in range(nc):
            mask = codes[:, j] == c
            k = int(mask.sum())
            if k == 0:
                continue
            mean_vec = x[mask, j, :].sum(axis=0) / k
            norm = round(float(np.sqrt((mean_vec**2).sum())) / 1e6, 6)
            dist = round(
                (float(d[mask, c, j].sum()) / k) / 1e12, 6
            )
            want[(j, int(seed_ids[c]))] = (k, norm, dist)
    assert set(got) == set(want)
    for cell in want:
        gn, gnorm, gdist = got[cell]
        wn, wnorm, wdist = want[cell]
        assert gn == wn, cell
        assert abs(gnorm - wnorm) < 1e-9, (cell, gnorm, wnorm)
        assert abs(gdist - wdist) < 1e-9, (cell, gdist, wdist)


# --- prototype pruning (QUEUED r14/r15 registration) ---------------------


def test_centroid_prune_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued sim_centroid_prune query
    at sf0.01, plus the drop-count invariant: each cluster contributes
    exactly floor(0.3 * |cluster|) rows with contiguous ranks from 1."""
    import pandas as pd

    from mysql2psql_spark.operators.embedding import ivf_assign, collect_seeds
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.embedding_q import (
        _ORACLE_CENTROID_PRUNE,
        sim_centroid_prune,
    )

    with CacheHandle() as caches:
        got = sim_centroid_prune(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_CENTROID_PRUNE).df()
    key = ["cluster", "prot_rank"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    for _, grp in g.groupby("cluster"):
        ranks = sorted(grp.prot_rank)
        assert ranks == list(range(1, len(ranks) + 1)), ranks
        # within a cluster the prune list is the TOP of the cos ranking
        by_rank = grp.sort_values("prot_rank")
        assert (by_rank.cos_to_centroid.diff().dropna() <= 1e-12).all()


def test_centroid_prune_drops_prototypes_not_shell(spark):
    """On a planted cluster with one dense core and a sparse shell, the
    prune list must be exactly the core (highest cosine to the refined
    centroid), never the shell — the SSL-prototypes direction."""
    import numpy as np

    from mysql2psql_spark.operators.embedding import centroid_prune

    rng = np.random.default_rng(5)
    center = rng.normal(size=64)
    center /= np.linalg.norm(center)
    rows = []
    # ids 0: the seed (cluster 0 only -> every vector lands in it)
    for i in range(100):
        scale = 0.01 if i < 40 else 0.6  # 40 core points, 60 shell
        v = center + rng.normal(scale=scale, size=64)
        rows.append((i, [float(x) for x in v], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = centroid_prune(df, n_centroids=1, drop_num=3, drop_den=10).toPandas()
    assert len(out) == 30  # floor(0.3 * 100)
    assert set(out.vec_id) <= set(range(40)), sorted(out.vec_id)


# --- neighbor-overlap link prediction (QUEUED r14/r15 registration) ------


def test_jaccard_neighbors_matches_oracle_and_bruteforce(spark, duck):
    """Full DuckDB differential for the queued graph_jaccard_neighbors
    query at sf0.01, plus an independent python replay at sf0.001
    (collect the bipartite pairs, recompute every candidate's Jaccard,
    re-rank with the same tiebreaks)."""
    import pandas as pd

    from mysql2psql_spark.queries.graph_q import (
        _ORACLE_JACCARD_NEIGHBORS,
        graph_jaccard_neighbors,
    )
    from mysql2psql_spark.sources import load_table

    got = graph_jaccard_neighbors(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_JACCARD_NEIGHBORS).df()
    key = ["s_a", "s_b"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(g) == 100

    # brute force at the smallest SF
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    od = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    pairs = {
        (r.l_suppkey, r.o_custkey)
        for r in li.join(od, li.l_orderkey == od.o_orderkey).collect()
    }
    nbrs: dict[int, set] = {}
    for s, c in pairs:
        nbrs.setdefault(s, set()).add(c)
    cand = []
    ss = sorted(nbrs)
    for i, a in enumerate(ss):
        for b in ss[i + 1 :]:
            inter = len(nbrs[a] & nbrs[b])
            if inter:
                jac = round(inter / len(nbrs[a] | nbrs[b]), 6)
                cand.append((-jac, a, b, inter))
    cand.sort()
    want_small = [(a, b, n, -nj) for nj, a, b, n in cand[:100]]
    got_small = [
        (r.s_a, r.s_b, r.n_shared, r.jaccard)
        for r in graph_jaccard_neighbors(spark, SF_DIR).collect()
    ]
    assert got_small == want_small


def test_link_prediction_codegree_cap_matches_filtered_oracle(spark, duck):
    """The hub mitigation (VERDICT r13 #4): ``codegree_cap`` must mean
    exactly "customers with supplier-degree > cap are absent from the
    similarity graph" — verified by mirroring the filter into the DuckDB
    oracle at sf0.001 for BOTH link-prediction queries, with a cap
    chosen so it actually bites (some customer is dropped)."""
    import pandas as pd

    from mysql2psql_spark.queries.graph_q import (
        graph_adamic_adar,
        graph_jaccard_neighbors,
    )

    cap = 3
    schema = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    dropped = duck.execute(
        """
        SELECT COUNT(*) FROM (
          SELECT c FROM (SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
                         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
          GROUP BY c HAVING COUNT(*) > 3)
        """
    ).fetchone()[0]
    assert dropped > 0, "cap=3 must bite at sf0.001 or the test is vacuous"

    scf = """
      sc0 AS (SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      keep AS (SELECT c FROM sc0 GROUP BY c HAVING COUNT(*) <= 3),
      sc AS (SELECT sc0.s, sc0.c FROM sc0 JOIN keep USING (c))
    """
    cases = {
        graph_jaccard_neighbors: f"""
          WITH {scf},
          deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM sc GROUP BY s),
          w AS (SELECT a.s AS s_a, b.s AS s_b, CAST(COUNT(*) AS BIGINT) AS n_shared
                FROM sc a JOIN sc b ON a.c = b.c AND a.s < b.s GROUP BY a.s, b.s)
          SELECT w.s_a, w.s_b, w.n_shared,
                 ROUND(CAST(w.n_shared AS DOUBLE) / (da.d + db.d - w.n_shared), 6)
                   AS jaccard
          FROM w JOIN deg da ON da.s = w.s_a JOIN deg db ON db.s = w.s_b
          ORDER BY jaccard DESC, w.s_a, w.s_b LIMIT 100
        """,
        graph_adamic_adar: f"""
          WITH {scf},
          cdeg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM sc GROUP BY c),
          w AS (SELECT a.s AS s_a, b.s AS s_b, CAST(COUNT(*) AS BIGINT) AS n_shared,
                       CAST(SUM(CAST(ROUND(1000000000.0 / LN(cd.d)) AS BIGINT)) AS BIGINT) AS aa_q
                FROM sc a JOIN sc b ON a.c = b.c AND a.s < b.s
                JOIN cdeg cd ON cd.c = a.c GROUP BY a.s, b.s)
          SELECT s_a, s_b, n_shared,
                 ROUND(CAST(aa_q AS DOUBLE) / 1000000000.0, 6) AS aa_score
          FROM w ORDER BY aa_score DESC, s_a, s_b LIMIT 100
        """,
    }
    for fn, sql in cases.items():
        got = fn(spark, SF_DIR, codegree_cap=cap).toPandas()
        want = duck.execute(sql).df()
        key = ["s_a", "s_b"]
        g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
        w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)


# --- hard-negative mining (QUEUED r15 registration) ----------------------


def test_hard_negatives_matches_oracle_and_python_reference(spark, duck):
    """Full DuckDB differential for the queued sim_hard_negatives at
    sf0.01, plus a pure-python reference on a synthetic frame (the
    knn_label_audit replay pattern): raw-vector cosine assignment
    (round 6, argmax ties -> lowest seed id), half-up micro-grid
    quantization, per-anchor different-label top-k with (d2, id)
    tiebreaks, and the margin against the nearest same-label peer —
    including a planted distance tie and an anchor with no same-label
    cluster peer (margin NULL)."""
    import math
    import random

    import pandas as pd

    from mysql2psql_spark.operators.embedding import collect_seeds, hard_negatives
    from mysql2psql_spark.queries.similarity_q import (
        _ORACLE_HARD_NEGATIVES,
        sim_hard_negatives,
    )

    got = sim_hard_negatives(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_HARD_NEGATIVES).df()
    key = ["anchor", "rnk"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert g.margin.isna().sum() < len(g)  # margins exist at fixture scale

    # pure-python reference on a synthetic frame
    rng = random.Random(11)
    dim, nc, k = 8, 3, 2
    rows = []
    for i in range(30):
        rows.append(
            (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)], rng.randrange(3))
        )
    rows[21] = (21, list(rows[20][1]), rows[21][2])  # planted distance tie
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    seeds = collect_seeds(df, nc, "vec_id", "embedding")

    def q(x):
        s = 1 if x >= 0 else -1
        return s * int(math.floor(abs(x) * 1e6 + 0.5))

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return round(
            num
            / (
                math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(x * x for x in b))
            ),
            6,
        )

    qv = {vid: [q(v) for v in vec] for vid, vec, _ in rows}
    labs = {vid: l for vid, _, l in rows}
    clus: dict = {}
    for vid, vec, _ in rows:
        best = max(range(len(seeds)), key=lambda c: (cos(vec, seeds[c][1]), -c))
        clus.setdefault(best, []).append(vid)
    want_small = set()
    for members in clus.values():
        for a in members:
            dpos = min(
                (
                    sum((x - y) ** 2 for x, y in zip(qv[a], qv[u]))
                    for u in members
                    if u != a and labs[u] == labs[a]
                ),
                default=None,
            )
            negs = sorted(
                (sum((x - y) ** 2 for x, y in zip(qv[a], qv[u])), u)
                for u in members
                if labs[u] != labs[a]
            )[:k]
            for r, (dd, u) in enumerate(negs, 1):
                want_small.add(
                    (a, labs[a], u, labs[u], r, dd,
                     dd - dpos if dpos is not None else None)
                )
    got_small = {
        (r.vec_id, r.own_label, r.neg_id, r.neg_label, r.rank, r.d2, r.margin)
        for r in hard_negatives(df, seeds, k=k).collect()
    }
    assert got_small == want_small


# --- embedding drift (QUEUED r15 registration) ----------------------------


def test_embedding_drift_matches_oracle_and_fires_on_planted_shift(spark, duck):
    """Full DuckDB differential for the queued profile_embedding_drift
    at sf0.01, plus the planted-shift direction: replacing the second
    half of the corpus with near-copies of ONE centroid's neighborhood
    must push the total centroid-share PSI past the 0.25 'shifted'
    threshold, while the unshifted corpus stays below it."""
    import pandas as pd

    from mysql2psql_spark.operators.drift import drift_psi_tail
    from mysql2psql_spark.operators.embedding import collect_seeds, ivf_assign
    from mysql2psql_spark.queries.embedding_q import (
        _ORACLE_EMB_DRIFT,
        profile_embedding_drift,
    )
    from mysql2psql_spark.sources import load_table

    got = profile_embedding_drift(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_EMB_DRIFT).df()
    key = ["dim", "bucket"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    base_psi = got.psi_term.sum()
    assert base_psi < 0.25, base_psi

    # planted shift: second half becomes jittered copies of vector 0
    # (every shifted vector lands in vector 0's centroid bucket)
    emb = load_table(spark, SF_DIR, "embeddings")
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    seed_vec = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    shifted = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") * 2 > F.lit(mx),
            F.array(*[F.lit(float(v)) for v in seed_vec]),
        ).otherwise(F.col("embedding")),
    )
    seeds = collect_seeds(shifted, 16, "vec_id", "embedding")
    assigned = ivf_assign(shifted, seeds)
    bounds = shifted.agg(F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx"))
    counts = (
        assigned.crossJoin(F.broadcast(bounds))
        .select(
            F.lit("centroid").alias("dim"),
            F.col("cluster").cast("string").alias("bucket"),
            F.when(F.col("vec_id") * 2 <= F.col("mn") + F.col("mx"), 0)
            .otherwise(1)
            .alias("period"),
        )
        .groupBy("dim", "bucket", "period")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    shifted_psi = drift_psi_tail(counts).toPandas().psi_term.sum()
    assert shifted_psi > 0.25, shifted_psi
    assert shifted_psi > 5 * base_psi


# --- schema evolution plan (QUEUED r15+ registration) ----------------------


def test_schema_evolution_plan_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued m8_schema_evolution_plan
    at sf0.01 plus the rule-direction invariants: dropped names hit a
    mutation rule, added names are rename targets or the audit column,
    moved rows carry both positions and no ddl, actionable rows carry a
    well-formed ALTER fragment."""
    import pandas as pd

    from mysql2psql_spark.queries.migration_q import (
        _ORACLE_SCHEMA_EVOLUTION,
        m8_schema_evolution_plan,
    )

    got = m8_schema_evolution_plan(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_SCHEMA_EVOLUTION).df()
    key = ["table_name", "column_name", "change_type"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    dropped = g[g.change_type == "dropped"]
    assert ((dropped.column_name.str.len() % 7 == 3)
            | (dropped.column_name.str.len() % 5 == 2)).all()
    added = g[g.change_type == "added"]
    assert (added.column_name.str.startswith("r_")
            | added.column_name.str.endswith("_etl_ts")).all()
    moved = g[g.change_type == "moved"]
    assert moved.ddl.isna().all()
    assert moved.pos_v1.notna().all() and moved.pos_v2.notna().all()
    action = g[g.change_type.isin(["dropped", "added"])]
    # r15 (ADVICE): fragments must be executable PostgreSQL — drops are
    # idempotent (IF EXISTS) and adds carry the catalog-derived type.
    assert action.ddl.str.match(
        r'^ALTER TABLE "\w+" (DROP COLUMN IF EXISTS "\w+"'
        r'|ADD COLUMN "\w+" [a-z][a-z ]*);$'
    ).all()
    added_ddl = g[g.change_type == "added"]
    assert (
        added_ddl[added_ddl.column_name.str.endswith("_etl_ts")]
        .ddl.str.endswith('" timestamp;')
        .all()
    )
    assert set(g.change_type) == {"added", "dropped", "moved"}


# --- dedup method agreement (QUEUED r15+ registration) --------------------


def test_dedup_method_agreement_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued dedup_method_agreement
    at sf0.01 plus the set-algebra invariants: the intersection can
    never exceed either set, pair Jaccard lives in [0, 1], and the
    minhash-vs-ngram row reads high agreement by construction (the
    bands approximate the same shingle Jaccard the exact method
    computes)."""
    import pandas as pd

    from mysql2psql_spark.queries.dedup_q import (
        _ORACLE_METHOD_AGREEMENT,
        dedup_method_agreement,
    )

    got = dedup_method_agreement(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_METHOD_AGREEMENT).df()
    key = ["method_a", "method_b"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(g) == 3
    assert (g.n_both <= g[["n_pairs_a", "n_pairs_b"]].min(axis=1)).all()
    assert g.pair_jaccard.dropna().between(0, 1).all()
    mh_ng = g[(g.method_a == "minhash_lsh") & (g.method_b == "ngram_jaccard")]
    assert mh_ng.pair_jaccard.iloc[0] > 0.8


# --- VAD span segmentation (QUEUED r15+ registration) ---------------------


def test_vad_spans_matches_oracle_and_python_reference(spark, duck):
    """Full DuckDB differential for the queued multimodal_vad_spans at
    sf0.01, plus a pure-python replay of decode -> frame -> threshold ->
    island-merge on hand-built payloads: an all-quiet document (zero
    spans), an all-voiced one (one island spanning every frame), and a
    gapped one with a partial trailing frame."""
    import numpy as np
    import pandas as pd

    from mysql2psql_spark.operators.multimodal import encode_wav_pcm16, vad_spans
    from mysql2psql_spark.queries.dedup_q import (
        _ORACLE_VAD_SPANS,
        multimodal_vad_spans,
    )

    got = multimodal_vad_spans(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_VAD_SPANS).df()
    key = ["doc_id", "span_idx"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert (g.n_frames >= 1).all()
    assert (g.end_frame - g.start_frame + 1 == g.n_frames).all()

    # hand-built payloads through the real operator
    fs, thr = 4, 100  # tiny frames so the cases stay readable
    quiet = np.zeros(10, dtype=np.int64)  # all-quiet: zero spans
    loud = np.full(11, 100, dtype=np.int64)  # all-voiced + partial tail
    # gapped: frames [loud, quiet, loud, loud(partial, 1 sample)]
    gapped = np.concatenate(
        [np.full(4, 100), np.zeros(4), np.full(4, 100), np.full(1, 100)]
    ).astype(np.int64)
    empty = np.zeros(0, dtype=np.int64)  # r15 ADVICE: zero spans, not
    # a trivially-voiced zero-length frame (0 >= thr*0 held pre-fix)
    df = spark.createDataFrame(
        [
            (0, bytearray(encode_wav_pcm16(quiet))),
            (1, bytearray(encode_wav_pcm16(loud))),
            (2, bytearray(encode_wav_pcm16(gapped))),
            (3, bytearray(encode_wav_pcm16(empty))),
        ],
        "doc_id bigint, payload binary",
    )
    rows = {
        (r.doc_id, r.span_idx): (r.start_frame, r.end_frame, r.n_frames, r.span_energy)
        for r in vad_spans(df, frame_samples=fs, energy_per_sample=thr).collect()
    }
    # doc 0: no spans. doc 1: frames e=4*10000 (x2) then 3*10000 (tail),
    # all >= 100*len -> one island over frames 0-2.
    # doc 2: frame0 loud, frame1 quiet, frame2 loud, frame3 = single
    # loud sample (energy 10000 >= 100*1) -> islands (0,0) and (2,3).
    # doc 3 (empty payload): no spans — the zero-length frame is
    # excluded by the n > 0 voiced guard.
    assert rows == {
        (1, 1): (0, 2, 3, 110000),
        (2, 1): (0, 0, 1, 40000),
        (2, 2): (2, 3, 2, 50000),
    }


# --- IVF index freshness (QUEUED r15+ registration) -----------------------


def test_ivf_freshness_matches_oracle_and_flags_stale_batch(spark, duck):
    """Full DuckDB differential for the queued sim_ivf_freshness at
    sf0.01 (+ conservation), plus the planted-staleness direction: a
    new batch pushed away from the codebook must read a positive
    freshness_gap on the clusters it lands in, while the unshifted
    fixture batch sits near zero."""
    import pandas as pd

    from mysql2psql_spark.operators.embedding import collect_seeds, ivf_assign
    from mysql2psql_spark.queries.embedding_q import (
        _EMB_DRIFT_NC,
        _ORACLE_IVF_FRESHNESS,
        sim_ivf_freshness,
    )
    from mysql2psql_spark.sources import load_table

    got = sim_ivf_freshness(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_IVF_FRESHNESS).df()
    key = ["cluster"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    n = load_table(spark, SF_DIR_ORACLE, "embeddings").count()
    assert int(g.n_corpus.sum() + g.n_new.sum()) == n
    # the signed MEAN gap is the staleness statistic (per-cluster gaps
    # are noisy on the near-isotropic fixture's small clusters; a fresh
    # batch's gaps scatter around zero, a stale one's shift positive)
    base_gap = g.freshness_gap.dropna()
    assert abs(base_gap.mean()) < 0.05, "fixture batch should fit the codebook"

    # planted staleness on a synthetic frame: the corpus is jittered
    # copies of the 4 seed centroids (fits the codebook, winning cos
    # ~0.99); the new batch is fresh random vectors the codebook has
    # never seen (winning cos ~0.4) — the gap must read strongly
    # positive. The codebook is FROZEN from the corpus side by
    # construction (seed ids 0..3 all fall in the corpus split).
    import random

    rng = random.Random(5)
    dim, nc = 16, 4
    base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(nc)]
    rows = []
    for i in range(200):
        if i % 10 >= 8:  # the new batch: random, far from every centroid
            rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
        else:  # the corpus: tight jitter around centroid i % nc
            c = base[i % nc] if i >= nc else base[i]
            rows.append(
                (i, [x + rng.uniform(-0.01, 0.01) for x in c])
            )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    seeds = collect_seeds(df, nc, "vec_id", "embedding")
    a = ivf_assign(df, seeds, with_cos=True)
    is_new = F.col("vec_id") % 10 >= 8
    stats = (
        a.groupBy("cluster")
        .agg(
            F.avg(F.when(~is_new, F.col("cos"))).alias("mc"),
            F.avg(F.when(is_new, F.col("cos"))).alias("mn"),
            F.sum(is_new.cast("int")).alias("nn"),
        )
        .filter(F.col("nn") > 0)
        .toPandas()
    )
    both = stats.dropna()
    assert len(both) > 0
    assert (both.mc - both.mn).mean() > 0.3, "random batch must read stale"


# --- streaming drift gate batch twin (QUEUED r15 registration) -----------


def test_stream_drift_summary_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued stream_drift_summary at
    sf0.001 AND sf0.01: the gate's compacted partials must reproduce the
    batch PSI profile bit-for-bit (zero asymmetry, zero value
    mismatches), and the audit row must match the oracle's restatement
    of that guarantee."""
    import pandas as pd

    from mysql2psql_spark.queries.events_q import (
        _ORACLE_STREAM_DRIFT,
        stream_drift_summary,
    )

    for sfd in (SF_DIR, SF_DIR_ORACLE):
        got = stream_drift_summary(spark, sfd).toPandas()
        schema = sfd.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
        duck.execute(f"USE {schema}")
        want = duck.execute(_ORACLE_STREAM_DRIFT).df()
        g = got[sorted(got.columns)].reset_index(drop=True)
        w = want[sorted(want.columns)].reset_index(drop=True)
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
        row = got.iloc[0]
        assert row["only_stream"] == 0 and row["only_batch"] == 0
        assert row["value_mismatches"] == 0
        assert row["stream_rows"] == row["batch_rows"] > 0


# --- CUSUM changepoint (QUEUED r14+ registration) ------------------------


def test_events_changepoint_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued events_changepoint query
    at sf0.01 (identical protocol to test_oracle.py)."""
    import pandas as pd

    from mysql2psql_spark.queries.events_q import (
        _ORACLE_CHANGEPOINT,
        events_changepoint,
    )

    got = events_changepoint(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_CHANGEPOINT).df()
    g = got.sort_values("event_type").reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values("event_type").reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert (g.n_buckets > 1).all()


def test_events_changepoint_ulp_tie_engine_matches_oracle(spark, duck, tmp_path):
    """The rational-tie/ULP-asymmetry edge hypothesis found (r14): hour
    counts [9,0,0,0,0,0,9] make dev(t=1) == dev(t=6) as rationals but
    t=6 one ULP larger as doubles. Engine and oracle compute dev with
    the SAME operand order (abs(cum - t * (tot / nb))), so both must
    pick t=6 — this pins that the driver-graded pair stays bit-agreed
    on the edge, whatever a model with a tolerance would say."""
    import datetime as dt

    import pandas as pd

    from mysql2psql_spark.queries.events_q import (
        _ORACLE_CHANGEPOINT,
        events_changepoint,
    )

    base = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for h, n in [(0, 9), (6, 9)]:
        for j in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h, minutes=j), eid, "t", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    g = events_changepoint(spark, str(tmp_path)).toPandas()
    duck.execute("CREATE SCHEMA IF NOT EXISTS ulp_tie")
    duck.execute("USE ulp_tie")
    duck.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    w = duck.execute(_ORACLE_CHANGEPOINT).df()
    cols = sorted(g.columns)
    pd.testing.assert_frame_equal(
        g[cols].reset_index(drop=True),
        w[cols].reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )
    assert g.iloc[0].n_buckets == 7


def test_events_changepoint_finds_planted_step(spark):
    """A planted 3x rate step must put the changepoint AT the plant and
    score far above a constant-rate stream of the same length."""
    import datetime as dt
    import tempfile

    from mysql2psql_spark.queries.events_q import events_changepoint

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for hour in range(100):
        # 'shifted': 2/hour before hour 60, 6/hour after; 'flat': 4/hour
        for k in range(2 if hour < 60 else 6):
            rows.append((eid, base + dt.timedelta(hours=hour, minutes=k), eid, "shifted", 1.0, "{}")); eid += 1
        for k in range(4):
            rows.append((eid, base + dt.timedelta(hours=hour, minutes=30 + k), eid, "flat", 1.0, "{}")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        out = {r.event_type: r for r in events_changepoint(spark, tmp).collect()}
    sh, fl = out["shifted"], out["flat"]
    plant_epoch = int((base + dt.timedelta(hours=59)).timestamp())
    # S_t = cum - t*mu peaks at the LAST pre-shift bucket (hour 59)
    assert sh.cp_bucket == plant_epoch - plant_epoch % 3600, (sh, plant_epoch)
    assert sh.cusum_stat > 10 * max(fl.cusum_stat, 1e-9)
    assert sh.mean_after > sh.mean_before * 2


# --- IVF probe sweep (QUEUED r14+ registration) ---------------------------


def test_ivf_probe_sweep_matches_oracle(spark, duck):
    """Full DuckDB differential for the queued sim_ivf_probe_sweep query
    at sf0.01, plus the curve invariants: recall non-decreasing in
    n_probe, and the n_probe=4 arm equal to sim_recall_at_k's answer
    (identical construction)."""
    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries import QUERIES
    from mysql2psql_spark.queries.embedding_q import (
        _ORACLE_IVF_SWEEP,
        sim_ivf_probe_sweep,
    )

    with CacheHandle() as caches:
        got = sim_ivf_probe_sweep(spark, SF_DIR_ORACLE, caches=caches).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_IVF_SWEEP).df()
    g = got.sort_values("n_probe").reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values("n_probe").reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    rec = g.sort_values("n_probe").recall.tolist()
    assert rec == sorted(rec), rec  # more probes can only help
    at4 = g[g.n_probe == 4]
    want4 = QUERIES["sim_recall_at_k"](spark, SF_DIR_ORACLE).collect()[0]
    assert int(at4.n_hits.iloc[0]) == want4.n_hits


# --- compaction planning (QUEUED r14+ registration) -----------------------


def test_o7_compaction_plan_matches_oracle_and_replay(spark, duck):
    """Full DuckDB differential for the queued o7_compaction_plan at
    sf0.01, plus a pure-python offset-binning replay: rebuild the file
    inventory from the raw rows, pack by (starting offset) div target,
    and require the identical group rollup."""
    import pandas as pd

    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.queries.core import (
        _O7_ROW_BYTES,
        _O7_TARGET,
        _ORACLE_COMPACTION,
        o7_compaction_plan,
    )
    from mysql2psql_spark.sources import load_table

    got = o7_compaction_plan(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_COMPACTION).df()
    key = sorted(got.columns)
    g = got[key].sort_values(by=key).reset_index(drop=True)
    w = want[key].sort_values(by=key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    li = load_table(spark, SF_DIR_ORACLE, "lineitem")
    ep = epoch_of(li, "l_shipdate")
    rows = li.select(
        "l_returnflag", "l_linestatus", ep("l_shipdate").alias("e")
    ).collect()
    inv: dict = {}
    for r in rows:
        k = (r.l_returnflag, r.l_linestatus, r.e // 86400)
        inv[k] = inv.get(k, 0) + 1
    want_groups: dict = {}
    parts = {(rf, ls) for rf, ls, _ in inv}
    for rf, ls in parts:
        days = sorted(d for rrf, lls, d in inv if (rrf, lls) == (rf, ls))
        cum = 0
        for d in days:
            n = inv[(rf, ls, d)]
            b = n * _O7_ROW_BYTES
            grp = cum // _O7_TARGET
            cell = want_groups.setdefault((rf, ls, grp), [0, 0, 0])
            cell[0] += 1
            cell[1] += n
            cell[2] += b
            cum += b
    got_groups = {
        (r.l_returnflag, r.l_linestatus, r.file_group): [
            r.n_files,
            r.n_rows,
            r.group_bytes,
        ]
        for r in got.itertuples()
    }
    assert got_groups == want_groups
    # groups partition the inventory; every non-final group of a
    # partition STRADDLES its bin boundary (the offset rule's invariant:
    # the next group starts only once cum crosses the boundary)
    for (rf, ls), _ in [((rf, ls), None) for rf, ls in parts]:
        grps = sorted(g for rrf, lls, g in want_groups if (rrf, lls) == (rf, ls))
        cum = 0
        for i, g_id in enumerate(grps):
            cum += want_groups[(rf, ls, g_id)][2]
            if i < len(grps) - 1:
                assert cum > (g_id + 1) * _O7_TARGET - _O7_TARGET  # started in-bin
                assert cum >= g_id * _O7_TARGET  # monotone


# --- Adamic-Adar link prediction (QUEUED r14+/r15 registration) -----------


def test_adamic_adar_matches_oracle_and_bruteforce(spark, duck):
    """Full DuckDB differential for the queued graph_adamic_adar at
    sf0.01, plus an independent python replay at sf0.001 (recompute
    every candidate's nano-quantized AA score and re-rank with the same
    tiebreaks)."""
    import math

    import pandas as pd

    from mysql2psql_spark.queries.graph_q import (
        _ORACLE_ADAMIC_ADAR,
        graph_adamic_adar,
    )
    from mysql2psql_spark.sources import load_table

    got = graph_adamic_adar(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_ADAMIC_ADAR).df()
    key = sorted(got.columns)
    g = got[key].sort_values(by=key).reset_index(drop=True)
    w = want[key].sort_values(by=key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(g) == 100

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    od = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    pairs = {
        (r.l_suppkey, r.o_custkey)
        for r in li.join(od, li.l_orderkey == od.o_orderkey).collect()
    }
    nbrs: dict[int, set] = {}
    cdeg: dict[int, int] = {}
    for s, c in pairs:
        nbrs.setdefault(s, set()).add(c)
        cdeg[c] = cdeg.get(c, 0) + 1
    cand = []
    ss = sorted(nbrs)
    for i, a in enumerate(ss):
        for b in ss[i + 1 :]:
            shared = nbrs[a] & nbrs[b]
            if shared:
                q = sum(round(1e9 / math.log(cdeg[c])) for c in shared)
                cand.append((-round(q / 1e9, 6), a, b, len(shared)))
    cand.sort()
    want_small = [(a, b, n, -nj) for nj, a, b, n in cand[:100]]
    got_small = [
        (r.s_a, r.s_b, r.n_shared, r.aa_score)
        for r in graph_adamic_adar(spark, SF_DIR).collect()
    ]
    assert got_small == want_small


# --- char-n-gram language identification (QUEUED r16 registration) --------


def test_char_ngram_table_codegen_shape_edges(spark):
    """r17: char_ngram_table switched from a transform(sequence) HOF
    (interpreted lambda per corpus character) to an offset-explode +
    substring shape that stays in whole-stage codegen. Pin the gram
    stream on the edge inputs against a Python sliding window: empty
    text, below/at/above the window size, CJK multibyte (substring is
    character-indexed), and quote/backslash characters."""
    from mysql2psql_spark.operators.text import char_ngram_table

    rows = [
        (1, ""),
        (2, "ab"),
        (3, "abc"),
        (4, "abcd"),
        (5, "宇宙飛行士"),
        (6, "a'b\"c\\d"),
        (7, "  x  "),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r.doc_id, r.gram) for r in char_ngram_table(df).collect()
    )
    want = sorted(
        (i, t[j : j + 3])
        for i, t in rows
        for j in range(max(0, len(t) - 2))
    )
    assert got == want


def test_langid_ngram_matches_oracle_and_separates_planted_langs(spark, duck):
    """Full DuckDB differential for the queued text_langid_ngram at
    sf0.01 (the fixture shares one vocabulary across lang labels, so
    accuracy is near-chance there BY CONSTRUCTION — exactness is the
    fixture's job), plus the classification DIRECTION on planted
    languages: two corpora with disjoint character alphabets must
    separate perfectly, and a document matching NO profile ties every
    language at the max penalty and predicts the lexicographically
    smallest label (the pinned tie-break)."""
    import pandas as pd

    from mysql2psql_spark.operators.text import (
        char_ngram_table,
        langid_classify,
        langid_profiles,
    )
    from mysql2psql_spark.queries.text_q import _ORACLE_LANGID, text_langid_ngram

    got = text_langid_ngram(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_LANGID).df()
    key = ["doc_id"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    # every document classified exactly once, distances non-negative
    assert len(g) == g.doc_id.nunique()
    assert (g.oop_distance >= 0).all()

    # planted direction: disjoint alphabets separate perfectly
    rows = []
    for i in range(8):
        rows.append((i, "aa", "abba cabd bacd adcb abcd"[i % 3 :] * 3))
    for i in range(8, 16):
        rows.append((i, "zz", "wxxy zwxy yxzw zyxw wxyz"[i % 3 :] * 3))
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    grams = char_ngram_table(df, extra_cols=("lang",))
    profiles = langid_profiles(grams, k=10)
    pred = langid_classify(grams.select("doc_id", "gram"), profiles, k=10)
    got_pl = {r.doc_id: r.lang_pred for r in pred.collect()}
    assert all(got_pl[i] == "aa" for i in range(8))
    assert all(got_pl[i] == "zz" for i in range(8, 16))

    # a doc matching neither profile: every language reads the same max
    # penalty -> tie broken by label ASC
    stranger = spark.createDataFrame(
        [(99, "0101 1010 0011")], "doc_id bigint, text string"
    )
    sgrams = char_ngram_table(stranger)
    srow = langid_classify(sgrams, profiles, k=10).collect()[0]
    n_prof = sgrams.select("gram").distinct().count()
    assert srow.lang_pred == "aa"  # min(aa, zz)
    assert srow.oop_distance == min(n_prof, 10) * 10


# --- CDC sink streamed-equals-batch audit (QUEUED r16 registration) -------


def test_stream_cdc_apply_summary_matches_oracle_and_detects_loss(spark, duck):
    """Full DuckDB differential for the queued stream_cdc_apply_summary
    at sf0.01, plus the planted-divergence direction: deleting one
    trigger's partial AFTER the sink ran must surface as only_batch > 0
    (keys whose latest op lived in the lost partial) or value
    mismatches — the audit must never read all-zero over a lossy
    changelog."""
    import os
    import shutil

    import pandas as pd

    from mysql2psql_spark.operators.layout import session_scratch
    from mysql2psql_spark.queries.events_q import (
        _ORACLE_STREAM_CDC,
        stream_cdc_apply_summary,
    )

    got = stream_cdc_apply_summary(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_STREAM_CDC).df()
    cols = sorted(got.columns)
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )
    assert got.only_stream.iloc[0] == 0 and got.only_batch.iloc[0] == 0
    assert got.value_mismatches.iloc[0] == 0

    # planted divergence: drop one partial from the changelog the query
    # just wrote, recompact, and the audit must light up
    from mysql2psql_spark.queries.migration_q import m4_cdc_apply
    from mysql2psql_spark.streaming.events import compact_cdc_log

    sf_tag = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    out_dir = os.path.join(session_scratch(spark), f"stream_cdc_{sf_tag}")
    shutil.rmtree(os.path.join(out_dir, "batch=1"))
    lossy = compact_cdc_log(spark, out_dir).toPandas()
    full = m4_cdc_apply(spark, SF_DIR_ORACLE).toPandas()
    merged = lossy.merge(
        full, on="user_id", how="outer", suffixes=("_s", "_b"), indicator=True
    )
    diverged = (
        (merged._merge != "both").any()
        or (
            merged[merged._merge == "both"]
            .apply(
                lambda r: (r.last_event_type_s, r.cur_value_s, r.last_ts_s)
                != (r.last_event_type_b, r.cur_value_b, r.last_ts_b),
                axis=1,
            )
            .any()
        )
    )
    assert diverged, "a lost partial must diverge the compacted state"


# --- two-sample KS drift (QUEUED r16 registration) -------------------------


def test_events_ks_drift_matches_oracle_and_detects_shift(spark, duck):
    """Full DuckDB differential for the queued events_ks_drift at
    sf0.01, plus the drift DIRECTION: adding a location shift to every
    period-b value must strictly raise ks_num for every type (the
    statistic exists to catch exactly this), while re-running unshifted
    reproduces the same numbers (determinism)."""
    import pandas as pd

    from mysql2psql_spark.operators.drift import ks_two_sample
    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.queries.events_q import (
        _ORACLE_KS_DRIFT,
        events_ks_drift,
    )
    from mysql2psql_spark.sources import load_table

    got = events_ks_drift(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_KS_DRIFT).df()
    cols = sorted(got.columns)
    key = ["event_type"]
    pd.testing.assert_frame_equal(
        got[cols].sort_values(key).reset_index(drop=True),
        want[cols].sort_values(key).reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )
    # KS numerator is bounded by its denominator
    assert (got.ks_num <= got.n_a * got.n_b).all()
    assert (got.ks_num >= 0).all()

    # determinism + planted-shift direction
    e = load_table(spark, SF_DIR_ORACLE, "events")
    ep = epoch_of(e)
    ev = e.select("event_type", "value", ep("ts").alias("et"))
    base = {r.event_type: r.ks_num for r in ks_two_sample(ev).collect()}
    again = {r.event_type: r.ks_num for r in ks_two_sample(ev).collect()}
    assert base == again
    from pyspark.sql import functions as PF

    bounds = ev.agg(PF.min("et").alias("mn"), PF.max("et").alias("mx")).first()
    mid_2x = bounds.mn + bounds.mx
    shifted = ev.select(
        "event_type",
        PF.when(PF.col("et") * 2 > mid_2x, PF.col("value") + 1e6)
        .otherwise(PF.col("value"))
        .alias("value"),
        "et",
    )
    after = {r.event_type: r.ks_num for r in ks_two_sample(shifted).collect()}
    assert set(after) == set(base)
    for t in base:
        assert after[t] > base[t], (t, base[t], after[t])


# --- alpha=0.5 language sampling weights (QUEUED r16 registration) ---------


def test_lang_sampling_weights_matches_oracle_and_rebalances(spark, duck):
    """Full DuckDB differential for the queued text_lang_sampling_weights
    at sf0.01, plus the rebalance direction alpha<1 exists for: every
    language BELOW uniform token share must be strictly upweighted
    (w_l > share_l) and every language above strictly downweighted —
    cross-multiplied in exact integers (w_num * total_tokens vs
    n_tokens * weight_denom), no division anywhere."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_LANG_WEIGHTS,
        text_lang_sampling_weights,
    )

    got = text_lang_sampling_weights(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_LANG_WEIGHTS).df()
    cols = sorted(got.columns)
    key = ["lang"]
    pd.testing.assert_frame_equal(
        got[cols].sort_values(key).reset_index(drop=True),
        want[cols].sort_values(key).reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )
    assert got.sqrt_tokens_micro.sum() == got.weight_denom.iloc[0]
    assert got.n_tokens.sum() == got.total_tokens.iloc[0]
    # direction: w_l >< share_l exactly when share_l below/above uniform
    for r in got.itertuples():
        lhs = r.sqrt_tokens_micro * r.total_tokens  # w_num * share_den
        rhs = r.n_tokens * r.weight_denom           # share_num * w_den
        if r.n_tokens * len(got) < r.total_tokens:  # below uniform share
            assert lhs > rhs, (r.lang, "must be upweighted")
        elif r.n_tokens * len(got) > r.total_tokens:
            assert lhs < rhs, (r.lang, "must be downweighted")


def test_ks_tail_overflow_raises_not_understates(spark):
    """The guarded bigint cast in ks_tail (r16, ADVICE): when
    |cum_a*n_b - cum_b*n_a| exceeds 2^63-1 the statistic must RAISE,
    not go NULL — under non-ANSI Spark a bare cast yields NULL and the
    argmax window (diff DESC, nulls last) would then silently return
    the largest non-overflowed diff, understating ks_num. Synthetic
    counts make the bound reachable: two values per period with
    n = 2^32 puts cum_a*n_b at 2^64 > 2^63-1."""
    import pytest

    from mysql2psql_spark.operators.drift import ks_tail

    n = 2**32
    counts = spark.createDataFrame(
        [
            ("k", 1.0, 0, n),
            ("k", 2.0, 0, n),
            ("k", 3.0, 1, n),
            ("k", 4.0, 1, n),
        ],
        "event_type string, value double, period int, n bigint",
    )
    with pytest.raises(Exception, match="overflows bigint"):
        ks_tail(counts).collect()
    # the same tail on in-range counts still answers
    small = spark.createDataFrame(
        [("k", 1.0, 0, 3), ("k", 2.0, 1, 2)],
        "event_type string, value double, period int, n bigint",
    )
    row = ks_tail(small).collect()[0]
    assert row["ks_num"] == 6 and row["n_a"] == 3 and row["n_b"] == 2


def test_parquet_schema_cache_sees_in_place_rewrite(spark, tmp_path):
    """The load_table schema cache keys on the MAX mtime of the parquet
    path's entries (r16, ADVICE): POSIX directory mtime does not move
    when an existing file inside is rewritten in place, so a dir-mtime
    key would serve the STALE schema after such a rewrite."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "cachetbl.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), part)

    from mysql2psql_spark.sources.parquet import load_table

    df1 = load_table(spark, str(tmp_path), "cachetbl")
    assert df1.columns == ["a"]
    # rewrite the SAME file in place with a different schema; pin the
    # directory mtime so only the entry-level key can see the change
    dir_stat = os.stat(d)
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "b": pa.array(["x"])}), part
    )
    os.utime(part, (dir_stat.st_atime + 10, dir_stat.st_mtime + 10))
    os.utime(d, (dir_stat.st_atime, dir_stat.st_mtime))
    df2 = load_table(spark, str(tmp_path), "cachetbl")
    assert df2.columns == ["a", "b"], "stale cached schema served"


def test_parquet_schema_cache_sees_partitioned_rewrite(spark, tmp_path):
    """One level down too (r17, ADVICE): hive-partitioned layouts put
    part files in key= subdirectories; an in-place rewrite there must
    also invalidate. Deeper nesting skips the cache entirely (OSError
    path) rather than ever serving a stale schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from mysql2psql_spark.sources import parquet as psrc

    d = tmp_path / "parttbl.parquet"
    sub = d / "k=1"
    sub.mkdir(parents=True)
    part = sub / "part-00000.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), part)

    df1 = psrc.load_table(spark, str(tmp_path), "parttbl")
    assert set(df1.columns) == {"a", "k"}
    # rewrite in place inside the subdirectory; pin BOTH directory
    # mtimes so only the one-level-recursed key can see the change
    d_stat, sub_stat = os.stat(d), os.stat(sub)
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "b": pa.array(["x"])}), part
    )
    os.utime(part, (sub_stat.st_atime + 10, sub_stat.st_mtime + 10))
    os.utime(sub, (sub_stat.st_atime, sub_stat.st_mtime))
    os.utime(d, (d_stat.st_atime, d_stat.st_mtime))
    df2 = psrc.load_table(spark, str(tmp_path), "parttbl")
    assert set(df2.columns) == {"a", "b", "k"}, "stale cached schema served"

    # two-level nesting: path_stat refuses (caller skips the cache)
    deep = tmp_path / "deeptbl.parquet" / "k=1" / "j=2"
    deep.mkdir(parents=True)
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), deep / "p.parquet")
    with pytest.raises(OSError, match="nested partition dirs"):
        psrc.path_stat(str(tmp_path / "deeptbl.parquet"))
    # ... and load_table still answers, uncached
    assert set(psrc.load_table(spark, str(tmp_path), "deeptbl").columns) == {
        "a",
        "k",
        "j",
    }


def test_parquet_schema_cache_bounded(spark, tmp_path):
    """The cache is LRU-bounded so a long session scanning many paths
    cannot grow it without limit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql2psql_spark.sources import parquet as psrc

    for i in range(3):
        d = tmp_path / f"t{i}.parquet"
        d.mkdir()
        pq.write_table(
            pa.table({"a": pa.array([i], pa.int64())}), d / "p.parquet"
        )
    old_max = psrc._SCHEMA_CACHE_MAX
    psrc._SCHEMA_CACHE_MAX = 2
    try:
        psrc._SCHEMA_CACHE.clear()
        for i in range(3):
            psrc.load_table(spark, str(tmp_path), f"t{i}")
        assert len(psrc._SCHEMA_CACHE) <= 2
    finally:
        psrc._SCHEMA_CACHE_MAX = old_max


# --- langid -> sampling-weights composition audit (QUEUED r17) -------------


def test_langid_mixture_audit_matches_oracle_and_composes(spark, duck):
    """Full DuckDB differential for the queued text_langid_mixture_audit
    at sf0.01, plus internal consistency against its two component
    queries: the per-language predicted-doc counts must sum to
    text_langid_ngram's row count, total agreement must equal the
    pred==label row count, and weight_denom must be the exact integer
    sum of the quantized numerators."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_LANGID_MIXTURE,
        text_langid_mixture_audit,
        text_langid_ngram,
    )

    got = text_langid_mixture_audit(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_LANGID_MIXTURE).df()
    key = ["lang"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    pred = text_langid_ngram(spark, SF_DIR_ORACLE).toPandas()
    assert g.n_docs_pred.sum() == len(pred)
    assert g.n_agree.sum() == int((pred.lang_pred == pred.lang_label).sum())
    assert (g.n_agree <= g.n_docs_pred).all()
    assert (g.n_agree <= g.n_docs_label).all()
    assert g.weight_denom.nunique() == 1
    assert g.weight_denom.iloc[0] == g.sqrt_tokens_micro.sum()


def test_langid_mixture_audit_planted_direction(spark, tmp_path):
    """Composition direction on a planted corpus: two disjoint-alphabet
    languages classify perfectly (per-language n_agree == n_docs_pred ==
    n_docs_label), and a third language whose documents are all shorter
    than one trigram receives ZERO predictions — its predicted token
    mass and therefore its alpha=0.5 weight numerator are exactly 0,
    the misclassification-visibility property the audit exists for."""
    rows = []
    for i in range(6):
        rows.append((i, "aa", "abba cabd bacd adcb abcd"[i % 3 :] * 3))
    for i in range(6, 12):
        rows.append((i, "zz", "wxxy zwxy yxzw zyxw wxyz"[i % 3 :] * 3))
    for i in range(12, 15):
        rows.append((i, "mm", "qq"))  # < 3 chars: no grams, no prediction
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from mysql2psql_spark.queries.text_q import text_langid_mixture_audit

    got = {
        r["lang"]: r
        for r in text_langid_mixture_audit(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"aa", "zz", "mm"}
    for lang in ("aa", "zz"):
        r = got[lang]
        assert r["n_docs_label"] == 6
        assert r["n_docs_pred"] == 6 and r["n_agree"] == 6, lang
        assert r["n_tokens_pred"] > 0 and r["sqrt_tokens_micro"] > 0
    m = got["mm"]
    assert m["n_docs_label"] == 3
    assert m["n_docs_pred"] == 0 and m["n_agree"] == 0
    assert m["n_tokens_pred"] == 0 and m["sqrt_tokens_micro"] == 0


# --- BPE encoding with a pinned merge table (QUEUED r17) -------------------


def _bpe_greedy_python(word, merges):
    """Reference BPE apply: rank-order rules, greedy leftmost scan with
    skip — the published merges.txt application semantics."""
    toks = list(word)
    for pa, pb in merges:
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == pa and toks[i + 1] == pb:
                out.append(pa + pb)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def test_bpe_encode_matches_oracle_and_conserves_chars(spark, duck):
    """Full DuckDB differential for the queued text_bpe_encode at
    sf0.01 (the recursive-CTE oracle vs the Catalyst fold chain — the
    leftmost-merge lemma makes them bit-equal), plus the conservation
    invariant: merged tokens partition the corpus's non-space
    characters, so sum(n_occurrences * len(token)) must equal the total
    non-space character count exactly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_BPE_ENCODE,
        text_bpe_encode,
    )
    from mysql2psql_spark.sources import load_table

    got = text_bpe_encode(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_BPE_ENCODE).df()
    key = ["token"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    d = load_table(spark, SF_DIR_ORACLE, "documents")
    n_chars = d.agg(
        F.sum(F.length(F.regexp_replace(F.col("text"), " ", "")))
    ).collect()[0][0]
    assert int((g.n_occurrences * g.token.str.len()).sum()) == int(n_chars)
    # token ids are a dense frequency ranking
    assert sorted(g.token_id) == list(range(1, len(g) + 1))


def test_bpe_encode_greedy_semantics_pinned(spark):
    """The fold chain must reproduce the published greedy-with-skip
    application EXACTLY on words stressing every rule class: single
    merges, compositional second-order merges (th+e, an+d, in+g), rule
    chains sharing letters, and non-overlapping repeats."""
    from pyspark.sql import functions as F

    from mysql2psql_spark.queries.text_q import (
        _BPE_MERGES,
        _bpe_fold_expr,
    )

    words = [
        "the", "then", "there", "thethe", "and", "sand", "ing", "thing",
        "ananan", "atat", "orator", "entered", "international", "x", "qq",
        "renderer", "thand", "inging",
    ]
    toks_expr = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    for pa, pb in _BPE_MERGES:
        toks_expr = _bpe_fold_expr(toks_expr, pa, pb)
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["toks"]
        for r in df.select("word", F.expr(toks_expr).alias("toks")).collect()
    }
    for w in words:
        assert got[w] == _bpe_greedy_python(w, _BPE_MERGES), w


def test_bpe_fertility_matches_oracle_and_components(spark, duck):
    """Full DuckDB differential for the queued text_bpe_fertility at
    sf0.01, plus composition consistency: the per-language integer sums
    must reconcile with text_bpe_encode's corpus totals (sum of
    per-language n_tokens == sum over tokens of n_occurrences; same for
    chars) and with the raw corpus (n_words == non-empty
    whitespace-split word count; fertility can never be below 1 token
    per word nor above chars per word)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_BPE_FERTILITY,
        text_bpe_encode,
        text_bpe_fertility,
    )
    from mysql2psql_spark.sources import load_table

    got = text_bpe_fertility(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_BPE_FERTILITY).df()
    key = ["lang"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    enc = text_bpe_encode(spark, SF_DIR_ORACLE).toPandas()
    assert g.n_tokens.sum() == enc.n_occurrences.sum()
    assert g.n_chars.sum() == int(
        (enc.n_occurrences * enc.token.str.len()).sum()
    )
    d = load_table(spark, SF_DIR_ORACLE, "documents")
    n_words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .count()
    )
    assert g.n_words.sum() == n_words
    assert (g.n_tokens >= g.n_words).all()  # >= 1 token per word
    assert (g.n_chars >= g.n_tokens).all()  # >= 1 char per token


def test_bpe_learn_matches_oracle_and_encode_composes(spark, duck):
    """Full DuckDB differential for the queued text_bpe_learn at sf0.01
    (the K-block unrolled learning oracle vs the driver-loop learner),
    plus structural pins: ranks are dense 1..n, support counts are
    non-increasing ONLY where the total order says so (count DESC is
    the primary key of the argmax, so each step's count is <= every
    earlier step's count over the SAME tokenization only — counts may
    legitimately rise after a merge frees new pairs, so the pin is
    rank-density and positivity, not monotonicity)."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_BPE_LEARN,
        text_bpe_learn,
    )

    got = text_bpe_learn(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_BPE_LEARN).df()
    key = ["merge_rank"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert sorted(g.merge_rank) == list(range(1, len(g) + 1))
    assert (g.pair_count > 0).all()


def test_bpe_learn_exhaustion_and_compositional(spark, tmp_path):
    """Two planted corpora: (1) single-char words only — NO pairs exist,
    the learner must return an EMPTY table (not K rows, not an error);
    (2) a skewed corpus whose best merges chain compositionally — the
    learned table must equal the pure-python learner INCLUDING the
    second-order rules built from first-order outputs."""
    from mysql2psql_spark.queries.text_q import text_bpe_learn

    spark.createDataFrame(
        [(1, "xx", "a b c"), (2, "xx", "d e a")],
        "doc_id bigint, lang string, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    assert text_bpe_learn(spark, str(tmp_path)).count() == 0

    corpus = [(1, "xx", "the the the then that banana ana ana x")]
    spark.createDataFrame(
        corpus, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in text_bpe_learn(spark, str(tmp_path))
        .orderBy("merge_rank")
        .collect()
    ]

    # pure-python learner over the same word frequencies
    from collections import Counter

    wf = Counter(w for _, _, t in corpus for w in t.split(" ") if w)
    toks = {w: list(w) for w in wf}
    want = []
    for k in range(1, 7):
        cnt = Counter()
        for w, f in wf.items():
            t = toks[w]
            for i in range(len(t) - 1):
                cnt[(t[i], t[i + 1])] += f
        if not cnt:
            break
        (pa, pb), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((k, pa, pb, c))
        for w in toks:
            t, out, i = toks[w], [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == pa and t[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            toks[w] = out
    assert got == want
    # the chain must contain a COMPOSITIONAL rule (a learned symbol of
    # length > 1 on the left side) — learning, not first-order counting
    assert any(len(pa) > 1 for _, pa, _, _ in got)


def test_langid_confusion_matches_oracle_and_marginals(spark, duck):
    """Full DuckDB differential for the queued text_langid_confusion at
    sf0.01, plus marginal consistency against text_langid_mixture_audit:
    per-predicted-language sums over the matrix must equal the audit's
    n_docs_pred / n_tokens_pred, the diagonal must equal n_agree, and
    per-label sums must equal n_docs_label."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_LANGID_CONFUSION,
        text_langid_confusion,
        text_langid_mixture_audit,
    )

    got = text_langid_confusion(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_LANGID_CONFUSION).df()
    key = ["lang_label", "lang_pred"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    audit = text_langid_mixture_audit(spark, SF_DIR_ORACLE).toPandas()
    by_pred = g.groupby("lang_pred")[["n_docs", "n_tokens"]].sum()
    by_label = g.groupby("lang_label")["n_docs"].sum()
    diag = g[g.lang_label == g.lang_pred].set_index("lang_pred")["n_docs"]
    for _, r in audit.iterrows():
        assert by_pred["n_docs"].get(r["lang"], 0) == r["n_docs_pred"]
        assert by_pred["n_tokens"].get(r["lang"], 0) == r["n_tokens_pred"]
        assert by_label.get(r["lang"], 0) == r["n_docs_label"]
        assert diag.get(r["lang"], 0) == r["n_agree"]


def test_bpe_vocab_drift_matches_oracle_and_directions(spark, duck, tmp_path):
    """Full DuckDB differential for the queued text_bpe_vocab_drift at
    sf0.01 (two unrolled learning chains full-outer-joined), plus both
    planted directions: IDENTICAL halves must produce an all-'both'
    table with equal ranks and counts, and a corpus whose halves have
    disjoint dominant pairs must produce only_a/only_b rows for them."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_BPE_DRIFT,
        text_bpe_vocab_drift,
    )

    got = text_bpe_vocab_drift(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_BPE_DRIFT).df()
    key = ["left_sym", "right_sym"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    # identical halves -> pure 'both', ranks and supports equal
    rows = [(i, "xx", "the theme then and sand banana") for i in range(6)]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    same = text_bpe_vocab_drift(spark, str(tmp_path)).toPandas()
    assert (same.status == "both").all() and len(same) > 0
    assert (same.rank_a == same.rank_b).all()
    assert (same.pair_count_a == same.pair_count_b).all()

    # skewed halves: even docs dominated by 'th', odd docs by 'in' ->
    # each half's table must contain a rule the other's lacks
    rows = [(i, "xx", "ththth thth th" if i % 2 == 0 else "ininin inin in")
            for i in range(8)]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    skew = text_bpe_vocab_drift(spark, str(tmp_path)).toPandas()
    assert (skew.status == "only_a").any() and (skew.status == "only_b").any()
    only_a = skew[skew.status == "only_a"]
    assert only_a.rank_b.isna().all() and only_a.pair_count_b.isna().all()


# --- BPE-aware sequence packing (QUEUED r18) --------------------------------


def test_pack_bpe_sequences_matches_oracle_and_reconciles(spark, duck):
    """Full DuckDB differential for the queued text_pack_bpe_sequences
    at sf0.01, plus the chain reconciliation: the packed corpus's total
    token count must equal text_bpe_encode's total occurrence count
    (same merge table, same corpus — the tokenizer and the packer must
    agree on what a token is), every document packs exactly once, and
    pack_in_bucket is the capacity-2048 floor of the within-bucket
    running sum."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_PACK_BPE,
        text_bpe_encode,
        text_pack_bpe_sequences,
    )

    got = text_pack_bpe_sequences(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_PACK_BPE).df()
    key = ["doc_id"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    n_docs = duck.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert len(g) == n_docs and g.doc_id.is_unique

    enc = text_bpe_encode(spark, SF_DIR_ORACLE).toPandas()
    assert int(g.n_tokens.sum()) == int(enc.n_occurrences.sum())

    # pack arithmetic: within each bucket, the running sum in
    # (n_tokens DESC, doc_id) order reproduces pack_in_bucket
    for _, grp in g.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).groupby("bucket"):
        before = grp.n_tokens.cumsum() - grp.n_tokens
        assert (grp.pack_in_bucket == before // 2048).all()


def test_pack_bpe_sequences_planted_direction(spark, tmp_path):
    """Packing direction on a planted corpus: merge-covered words pack
    at their ENCODED lengths (\"the\" is 1 token under the pinned table,
    not 3 whitespace-proxy chars), unmergeable words at their character
    counts, and a document whose split yields only empty strings packs
    with n_tokens=0 (parity with the proxy pack, which sizes every
    doc)."""
    rows = [
        (1, "en", "the the the"),   # 'the' encodes to 1 token -> 3
        (2, "en", "qq"),            # no rule matches 'qq' -> 2 chars
        (3, "en", ""),              # split -> [''] filtered -> 0 tokens
        (4, "en", "ing and"),       # 'ing' -> 1, 'and' -> 1 -> 2
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from mysql2psql_spark.queries.text_q import text_pack_bpe_sequences

    got = {
        r["doc_id"]: r for r in text_pack_bpe_sequences(spark, str(tmp_path)).collect()
    }
    assert got[1]["n_tokens"] == 3
    assert got[2]["n_tokens"] == 2
    assert got[3]["n_tokens"] == 0
    assert got[4]["n_tokens"] == 2
    # tiny corpus: bucket count floors at min_buckets=8; every doc is
    # pack 0 of its bucket (nothing exceeds capacity 2048)
    assert all(r["pack_in_bucket"] == 0 for r in got.values())


# --- embedding-free quality scoring (QUEUED r18) ----------------------------


def test_quality_score_matches_oracle_and_marginals(spark, duck):
    """Full DuckDB differential for the queued text_quality_score at
    sf0.01, plus marginal consistency against the component queries it
    composes: stop/div micro-signals equal text_quality's 6dp ratios,
    nll_micro equals text_unigram_surprisal's 6dp mean_nll, dup_micro
    equals text_duplicate_spans' 6dp dup_frac (0 where that query has
    no row), and the bucket thresholds partition exactly."""
    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_QUALITY_SCORE,
        text_duplicate_spans,
        text_quality,
        text_quality_score,
        text_unigram_surprisal,
    )

    got = text_quality_score(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_QUALITY_SCORE).df()
    key = ["doc_id"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    q = text_quality(spark, SF_DIR_ORACLE).toPandas().set_index("doc_id")
    gi = g.set_index("doc_id")
    stop_want = (q.stopword_ratio * 1_000_000).round().astype("int64").reindex(gi.index)
    div_want = (
        (q.lexical_diversity * 1_000_000).round().astype("int64").reindex(gi.index)
    )
    assert (gi.stop_micro == stop_want).all()
    assert (gi.div_micro == div_want).all()

    srp = text_unigram_surprisal(spark, SF_DIR_ORACLE).toPandas().set_index("doc_id")
    nll_want = (srp.mean_nll * 1_000_000).round().astype("int64").reindex(gi.index)
    assert (gi.nll_micro == nll_want).all()

    spans = text_duplicate_spans(spark, SF_DIR_ORACLE).toPandas().set_index("doc_id")
    dup_want = (
        (spans.dup_frac * 1_000_000).round().astype("int64").reindex(gi.index).fillna(0)
    )
    assert (gi.dup_micro == dup_want).all()

    assert ((gi.bucket == "high") == (gi.score_micro >= 450_000)).all()
    assert (
        (gi.bucket == "mid")
        == ((gi.score_micro >= 250_000) & (gi.score_micro < 450_000))
    ).all()
    assert set(gi.bucket.unique()) == {"high", "mid", "low"}


def test_quality_score_planted_direction(spark, tmp_path):
    """Scoring direction on a planted corpus: a stopword-rich diverse
    document outscores a gibberish one (zero stopwords, extreme
    surprisal) and a fully-repetitive one (dup penalty + diversity
    collapse) — the separation the filter exists for."""
    natural = "the quick brown fox and the lazy dog walk in a park of green trees"
    gibberish = "zxqv wqpt lkjh mnbv qwer asdf poiu ytre vcxz hgfd"
    # 20 copies of one trigram: every shingle duplicates ACROSS the two
    # copy-docs, diversity collapses to 3/60
    repeat = " ".join(["aa bb cc"] * 20)
    rows = [
        (1, "en", natural),
        (2, "xx", gibberish),
        (3, "en", repeat),
        (4, "en", repeat),  # twin so the shingle df>=2 penalty fires
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    from mysql2psql_spark.queries.text_q import text_quality_score

    got = {r["doc_id"]: r for r in text_quality_score(spark, str(tmp_path)).collect()}
    assert got[1]["score_micro"] > got[2]["score_micro"]
    assert got[1]["score_micro"] > got[3]["score_micro"]
    assert got[3]["dup_micro"] == 1_000_000 and got[4]["dup_micro"] == 1_000_000
    assert got[2]["dup_micro"] == 0 and got[2]["stop_micro"] == 0


def test_quality_budget_sample_matches_oracle_and_bounds(spark, duck):
    """Full DuckDB differential for the queued text_quality_budget_sample
    at sf0.01, plus the composition invariants: drawn rows are exactly
    a prefix (in md5 draw order) of the scorer's high bucket, every
    language's running sum respects the 150-token budget inclusively,
    and the cap BINDS for at least one language (the draw is a real
    subset, not the whole pool)."""
    import hashlib

    import pandas as pd

    from mysql2psql_spark.queries.text_q import (
        _ORACLE_QUALITY_BUDGET,
        _QUALITY_BUDGET_TOKENS,
        text_quality_budget_sample,
        text_quality_score,
    )

    got = text_quality_budget_sample(spark, SF_DIR_ORACLE).toPandas()
    schema = SF_DIR_ORACLE.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    duck.execute(f"USE {schema}")
    want = duck.execute(_ORACLE_QUALITY_BUDGET).df()
    key = ["doc_id"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)

    scored = text_quality_score(spark, SF_DIR_ORACLE).toPandas()
    hi = scored[scored.bucket == "high"]
    assert set(g.doc_id).issubset(set(hi.doc_id))
    assert (g.groupby("lang").cum_tokens.max() <= _QUALITY_BUDGET_TOKENS).all()
    assert len(g) < len(hi), "budget cap never bound — weak fixture"

    # prefix property: per lang, the drawn set is exactly the maximal
    # md5-ordered prefix whose running sum fits the budget
    hi = hi.assign(
        dk=hi.doc_id.map(lambda i: hashlib.md5(str(i).encode()).hexdigest())
    )
    for lang, pool in hi.groupby("lang"):
        pool = pool.sort_values(["dk", "doc_id"])
        cum = pool.n_tokens.cumsum()
        want_ids = set(pool.doc_id[cum <= _QUALITY_BUDGET_TOKENS])
        assert set(g[g.lang == lang].doc_id) == want_ids, lang


def test_langid_profile_artifact_reuse_and_invalidation(spark, tmp_path):
    """The frozen-profile session artifact (r17): same fixture ->
    same artifact dir (trained once per session); an overwritten
    documents fixture (probe/test pattern) re-trains via the mtime key;
    the profiles themselves equal an inline langid_profiles build."""
    import os
    import time

    import pandas as pd

    from mysql2psql_spark.operators import text as T

    rows = [(i, "aa" if i % 2 else "zz", "abba cabd bacd adcb" * 3) for i in range(8)]
    src = tmp_path / "documents.parquet"
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(src))

    before = dict(T._PROFILE_ARTIFACTS)
    p1, l1 = T.langid_profile_artifact(spark, str(tmp_path), k=10)
    (new_key,) = set(T._PROFILE_ARTIFACTS) - set(before)
    art1 = T._PROFILE_ARTIFACTS[new_key]
    p2, _ = T.langid_profile_artifact(spark, str(tmp_path), k=10)
    assert T._PROFILE_ARTIFACTS[new_key] == art1  # reused, not re-trained

    d = spark.read.parquet(str(src))
    want = (
        T.langid_profiles(T.char_ngram_table(d, extra_cols=("lang",)), k=10)
        .toPandas()
        .sort_values(["lang", "rank"])
        .reset_index(drop=True)
    )
    got = p1.toPandas().sort_values(["lang", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)], check_dtype=False
    )
    assert sorted(r["lang"] for r in l1.collect()) == ["aa", "zz"]

    # overwrite the fixture with a different corpus: the mtime key must
    # force a re-train (stale profiles would poison every later gate)
    time.sleep(0.05)
    spark.createDataFrame(
        [(1, "qq", "zzzz yyyy xxxx wwww" * 3)], "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(src))
    os.utime(src)  # ensure the directory mtime moves even on coarse clocks
    p3, l3 = T.langid_profile_artifact(spark, str(tmp_path), k=10)
    assert sorted(r["lang"] for r in l3.collect()) == ["qq"]


def test_knn_graph_planted_neighbors_and_mutuality(spark):
    """knn_graph on a planted two-cluster corpus: vectors 0/1 are the
    seed centroids of two orthogonal directions; each vector's top-k
    neighbors must come from its own cluster, the nearest neighbor is
    the planted twin, and the mutual flag is exactly the
    reverse-edge-survives-top-k predicate."""
    from mysql2psql_spark.operators.embedding import knn_graph

    def vec(axis, eps, dim=8):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 4) % dim] = eps
        return v

    # cluster A along axis 0 (ids 0,2,3), cluster B along axis 1 (1,4,5);
    # 2/3 and 4/5 are twins (eps nearly equal), seeds are ids 0 and 1
    rows = [
        (0, vec(0, 0.00)),
        (1, vec(1, 0.00)),
        (2, vec(0, 0.10)),
        (3, vec(0, 0.11)),
        (4, vec(1, 0.30)),
        (5, vec(1, 0.31)),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = knn_graph(emb, k=2, n_centroids=2).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.src, []).append(r)
    cluster = {0: {0, 2, 3}, 2: {0, 2, 3}, 3: {0, 2, 3},
               1: {1, 4, 5}, 4: {1, 4, 5}, 5: {1, 4, 5}}
    for src, edges in by_src.items():
        assert len(edges) == 2  # k=2, cluster size 3 -> both mates ranked
        for e in edges:
            assert e.dst in cluster[src] - {src}
        nearest = min(edges, key=lambda e: e.rank).dst
        planted = {2: 3, 3: 2, 4: 5, 5: 4}
        if src in planted:
            assert nearest == planted[src]
    # with k=2 over 3-member clusters every edge's reverse also survives
    edge_set = {(r.src, r.dst) for r in out}
    for r in out:
        assert r.mutual == ((r.dst, r.src) in edge_set)
        assert 1 <= r.rank <= 2


def test_knn_graph_fixture_invariants_and_layout_independence(spark):
    """On the real corpus: per-src at most k edges with ranks 1..k and
    strictly cos-descending (ties id-ascending), the mutual flag equals
    the reverse-edge predicate, and the whole edge table is identical
    under an adversarial input repartition (layout independence — the
    window is cluster-local, nothing depends on partitioning)."""
    from mysql2psql_spark.operators.embedding import knn_graph
    from mysql2psql_spark.sources import load_table

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    out = knn_graph(emb, k=4, n_centroids=16).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.src, []).append(r)
    edge_set = {(r.src, r.dst) for r in out}
    for src, edges in by_src.items():
        edges.sort(key=lambda e: e.rank)
        assert [e.rank for e in edges] == list(range(1, len(edges) + 1))
        assert len(edges) <= 4
        for a, b in zip(edges, edges[1:]):
            assert (a.cos_sim, -a.dst) >= (b.cos_sim, -b.dst)
        for e in edges:
            assert e.mutual == ((e.dst, e.src) in edge_set)
    shuffled = knn_graph(
        emb.repartition(13, F.col("vec_id") % 3), k=4, n_centroids=16
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, shuffled))


def test_quality_stats_artifact_reuse_invalidation_and_equality(spark, tmp_path):
    """The frozen quality side-table artifact (r17, the langid-artifact
    adjudication repeated for the quality gate): same fixture -> same
    artifact dir (trained once per session); an overwritten documents
    fixture re-trains via the mtime key; the tables themselves equal an
    inline quality_stats_tables build."""
    import os
    import time

    import pandas as pd

    from mysql2psql_spark.operators import text as T

    rows = [
        (i, "en", "the quick brown fox jumps over the lazy dog " * 4)
        for i in range(6)
    ]
    src = tmp_path / "documents.parquet"
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(src))

    before = dict(T._PROFILE_ARTIFACTS)
    tf1, tot1, df1 = T.quality_stats_artifact(spark, str(tmp_path))
    (new_key,) = set(T._PROFILE_ARTIFACTS) - set(before)
    art1 = T._PROFILE_ARTIFACTS[new_key]
    T.quality_stats_artifact(spark, str(tmp_path))
    assert T._PROFILE_ARTIFACTS[new_key] == art1  # reused, not re-trained

    d = spark.read.parquet(str(src))
    w_tf, w_tot, w_df = T.quality_stats_tables(d)
    for got_df, want_df, key in [(tf1, w_tf, ["w"]), (df1, w_df, ["sh"])]:
        got = got_df.toPandas().sort_values(key).reset_index(drop=True)
        want = want_df.toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got[sorted(got.columns)], want[sorted(want.columns)], check_dtype=False
        )
    assert tot1.collect()[0]["t"] == w_tot.collect()[0]["t"]

    # overwrite the fixture: the mtime key must force a re-train
    time.sleep(0.05)
    spark.createDataFrame(
        [(1, "xx", "zzzz yyyy xxxx wwww " * 3)], "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(src))
    os.utime(src)
    tf3, _, _ = T.quality_stats_artifact(spark, str(tmp_path))
    assert "the" not in {r["w"] for r in tf3.collect()}


def test_semantic_clusters_planted_components_and_threshold(spark):
    """sim_semantic_clusters' composition on a planted corpus: two
    tight triangles (pairwise cos above tau) and one below-threshold
    pair must yield exactly two 3-member clusters labeled by their min
    vec_id, with the weak pair and the isolates absent (singleton =
    keep contract)."""
    from mysql2psql_spark.operators.dedup import connected_components
    from mysql2psql_spark.operators.embedding import knn_graph
    from pyspark.sql import functions as F

    def vec(axis, eps, dim=8):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 4) % dim] = eps
        return v

    # seeds 0,1 (cluster A axis 0, cluster B axis 1); triangle A =
    # {0,2,3}, triangle B = {1,4,5} (eps close -> cos ~0.99); 6 shares
    # B's IVF cell but sits far away (eps 8 -> cos ~0.12, below tau)
    rows = [
        (0, vec(0, 0.00)), (2, vec(0, 0.05)), (3, vec(0, 0.06)),
        (1, vec(1, 0.00)), (4, vec(1, 0.05)), (5, vec(1, 0.06)),
        (6, vec(1, 8.00)),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    edges = knn_graph(emb, k=2, n_centroids=2).filter(
        F.col("mutual") & (F.col("cos_sim") >= 0.35) & (F.col("src") < F.col("dst"))
    )
    pairs = edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    got = {
        (r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()
    }
    assert got == {(0, 0), (2, 0), (3, 0), (1, 1), (4, 1), (5, 1)}


def test_corpus_build_handoffs_reconcile(spark):
    """text_corpus_build must agree stage-by-stage with its member
    queries: its (doc_id, lang, score_micro, cum_tokens) is EXACTLY
    text_quality_budget_sample's draw, and each document's
    n_bpe_tokens equals the standalone BPE length of that document —
    the composition pins the handoffs, not new semantics."""
    from mysql2psql_spark.queries.text_q import (
        _bpe_doc_lengths,
        text_corpus_build,
        text_quality_budget_sample,
    )
    from mysql2psql_spark.sources import load_table

    built = {r.doc_id: r for r in text_corpus_build(spark, SF_DIR_ORACLE).collect()}
    drawn = {
        r.doc_id: r for r in text_quality_budget_sample(spark, SF_DIR_ORACLE).collect()
    }
    assert set(built) == set(drawn)
    for doc_id, b in built.items():
        d = drawn[doc_id]
        assert (b.lang, b.score_micro, b.cum_tokens) == (
            d.lang,
            d.score_micro,
            d.cum_tokens,
        )
    docs = load_table(spark, SF_DIR_ORACLE, "documents").filter(
        F.col("doc_id").isin(list(built))
    )
    lengths = {r.doc_id: r.n_tokens for r in _bpe_doc_lengths(spark, docs).collect()}
    assert {k: v.n_bpe_tokens for k, v in built.items()} == lengths


def test_new_queued_operators_register_caches_for_release(spark):
    """The r18-queued operators that persist frames must register them
    on a provided CacheHandle so long-lived sessions can release them
    (the r16-ADVICE gate-leak class, preempted for the batch ops):
    knn_graph registers its two frames, sim_semantic_clusters forwards,
    text_corpus_build registers the drawn frame — and releasing the
    handle empties it."""
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.queries.embedding_q import sim_knn_graph
    from mysql2psql_spark.queries.text_q import text_corpus_build

    with CacheHandle() as caches:
        sim_knn_graph(spark, SF_DIR_ORACLE, caches=caches).count()
        assert len(caches.frames) == 2
    assert caches.frames == []

    with CacheHandle() as caches:
        text_corpus_build(spark, SF_DIR_ORACLE, caches=caches).count()
        assert len(caches.frames) == 1
    assert caches.frames == []


def test_knn_graph_delta_equivalence_and_untouched_invariance(spark):
    """knn_graph_delta's contract on a planted corpus whose seed ids
    are all old (so the frozen quantizer equals the full build's):
    new vectors land ONLY in cluster A, so (1) the delta equals the
    from-scratch union build restricted to A's members, (2) cluster
    B's standing rows are bit-identical between the corpus-only and
    union builds (the provably-unchanged claim), and (3) the delta
    contains no cluster-B source."""
    from mysql2psql_spark.operators.embedding import knn_graph, knn_graph_delta
    from pyspark.sql import functions as F

    def vec(axis, eps, dim=8):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 4) % dim] = eps
        return v

    # seeds = ids 0,1 (both old). Cluster A along axis 0: {0,2,3};
    # cluster B along axis 1: {1,4,5}. New arrivals 100,101 sit on
    # axis 0 -> only A is touched.
    corpus_rows = [
        (0, vec(0, 0.00)), (2, vec(0, 0.10)), (3, vec(0, 0.11)),
        (1, vec(1, 0.00)), (4, vec(1, 0.30)), (5, vec(1, 0.31)),
    ]
    new_rows = [(100, vec(0, 0.20)), (101, vec(0, 0.21))]
    schema = "vec_id bigint, embedding array<double>"
    corpus = spark.createDataFrame(corpus_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    union = spark.createDataFrame(corpus_rows + new_rows, schema)

    delta = knn_graph_delta(corpus, new, k=2, n_centroids=2).collect()
    full = knn_graph(union, k=2, n_centroids=2).collect()
    standing = knn_graph(corpus, k=2, n_centroids=2).collect()

    a_members = {0, 2, 3, 100, 101}
    # (3) no cluster-B source in the delta
    assert {r.src for r in delta} <= a_members
    # (1) delta == full build restricted to touched members
    strip = lambda rows, keep: sorted(
        (r.src, r.dst, r.cos_sim, r.rank, r.mutual) for r in rows if r.src in keep
    )
    assert strip(delta, a_members) == strip(full, a_members)
    # (2) untouched cluster rows identical corpus-only vs union
    b_members = {1, 4, 5}
    assert strip(standing, b_members) == strip(full, b_members)
    # src_is_new marks exactly the arrivals
    assert {r.src for r in delta if r.src_is_new} == {100, 101}


def test_cosine_pairs_engines_bit_identical(spark):
    """cosine_pairs_df's arrow engine must equal the explode engine
    EXACTLY (same rows, bit-equal doubles) on uniform-dim input, edge
    dims, ragged rows, null arrays/elements, and empty arrays —
    flipping engines must never change a downstream oracle hash."""
    from mysql2psql_spark.operators.similarity import cosine_pairs_df

    rows = [
        # uniform fast path
        (1, 2, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (3, 4, [0.1, -0.2, 0.37], [1e-8, 2e8, -3.5]),
        # values exercising non-associative float accumulation
        (5, 6, [1e16, 1.0, -1e16], [1.0, 1.0, 1.0]),
    ]
    schema = "id_a bigint, id_b bigint, v_a array<double>, v_b array<double>"
    uniform = spark.createDataFrame(rows, schema)
    exotic = spark.createDataFrame(
        rows
        + [
            (7, 8, [1.0, 2.0], [1.0, 2.0, 3.0]),        # ragged
            (9, 10, [], []),                             # empty: dropped
            (11, 12, None, [1.0, 2.0]),                  # null array
            (13, 14, [1.0, None, 3.0], [1.0, 2.0, 3.0]), # null element
        ],
        schema,
    )
    for df in (uniform, exotic):
        got = sorted(
            map(tuple, cosine_pairs_df(df, engine="arrow").collect())
        )
        want = sorted(
            map(tuple, cosine_pairs_df(df, engine="explode").collect())
        )
        assert got == want
    # float32 input (the engine's on-disk embedding type): cast-widen
    # order must match the explode shape's per-element cast
    f32 = spark.createDataFrame(
        [(1, 2, [0.1, 0.7, -0.33], [0.9, -0.2, 0.5])],
        "id_a bigint, id_b bigint, v_a array<float>, v_b array<float>",
    )
    assert sorted(map(tuple, cosine_pairs_df(f32, engine="arrow").collect())) == sorted(
        map(tuple, cosine_pairs_df(f32, engine="explode").collect())
    )
