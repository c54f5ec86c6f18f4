"""Text-analysis column builders (language-ID heuristic, quality scoring,
token counting). Built-in functions only — JVM-side, codegen'd, linear
per-document cost, no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small, pinned English stopword list (shared with the SQL oracles; keep
# sorted and lowercase).
STOPWORDS = (
    "a",
    "an",
    "and",
    "in",
    "is",
    "it",
    "of",
    "on",
    "or",
    "the",
    "to",
)


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def en_stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    return n_stop.cast("double") / F.size(toks)


def quality_score(text: Column) -> Column:
    """Lexical diversity: unique/total token ratio."""
    toks = tokens(text)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks)


def shingle_hash_table(
    docs, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
    portable: bool = True, engine: str = "jvm",
):
    """(id, sh): DISTINCT k-word-shingle hashes, one row per
    (doc, shingle) — the exploded twin of ``shingles`` and the input shape
    the dedup operators consume.

    The hash is a 60-bit md5 prefix that a SQL oracle reproduces
    bit-for-bit (``CAST('0x'||SUBSTR(MD5(s),1,15) AS BIGINT)`` in
    DuckDB), so every downstream fingerprint is cross-engine checkable.

    Two row-identical execution shapes (pinned in test_operators):

    - ``engine="jvm"`` (default): per-doc array HOFs — split once,
      ``transform`` over slice starts builds shingles, JVM ``md5`` +
      ``conv`` hashes them, ``array_distinct`` dedups in-array, one
      ``explode``. Entirely row-local JVM work, no Python workers, no
      window, no dropDuplicates exchange. Measured at sf0.1 local[32]:
      ~0.5 s warm vs ~3.3 s for the arrow pass (the Python md5 loop
      dominates there despite Arrow batching). ``portable=False``
      switches the hash to xxhash64 (~10x cheaper than JVM md5) for
      pipelines that never cross engines.
    - ``engine="arrow"``: Arrow-batched pandas pass (split -> k-gram ->
      hashlib.md5 -> per-doc set). Same rows, kept as the
      cross-implementation check and as the template for shingle
      variants Column HOFs can't express (custom tokenizers).

    Both engines default to the SAME hash family (portable md5 prefix),
    so flipping ``engine`` never silently changes downstream MinHash /
    SimHash fingerprints. The arrow path has no xxhash64 variant: asking
    for ``portable=False`` with it raises instead of being ignored.

    Docs with < k tokens contribute no rows (same as their empty
    shingle array).
    """
    # The shingle fan-out (~1000x values) is the CPU-heavy step; a small
    # input (few parquet splits) would run it almost serially, so widen
    # FIRST — and widen BY THE DOC KEY, so every downstream doc-keyed
    # aggregation (minhash signatures, per-doc arrays, simhash majority
    # counts) reuses the hash partitioning instead of paying its own
    # exchange over the ~1000x-larger shingle table. Probe via
    # inputFiles() — a metadata-only check; file-scan inputs with fewer
    # files than cores are the only case that needs widening. At scale
    # the input has >= parallelism splits and this is a no-op.
    para = docs.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(docs.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < para:
        # explicit numPartitions: a bare repartition(col) is AQE-
        # coalescible, and the doc table's shuffle bytes are tiny BEFORE
        # the ~1000x shingle fan-out — AQE would fold it to 1 partition
        # and serialize the expensive step it was meant to parallelize
        docs = docs.repartition(para, F.col(id_col))

    if engine == "jvm":
        ws = F.split(F.col(text_col), " ")
        starts = F.sequence(F.lit(1), F.size(ws) - (k - 1))  # 1-based slice
        shingle = lambda j: F.concat_ws(" ", F.slice(ws, j, k))  # noqa: E731
        if portable:
            hash_fn = lambda s: F.conv(  # noqa: E731
                F.substring(F.md5(s), 1, 15), 16, 10
            ).cast("long")
        else:
            hash_fn = F.xxhash64
        hashes = F.array_distinct(F.transform(starts, lambda j: hash_fn(shingle(j))))
        return (
            docs.filter(F.size(ws) >= k)
            .select(F.col(id_col), F.explode(hashes).alias("sh"))
        )

    if engine == "arrow":
        if not portable:
            raise ValueError(
                "engine='arrow' only implements the portable md5-prefix hash; "
                "use engine='jvm' for the xxhash64 (portable=False) variant"
            )
        import hashlib

        import pandas as pd  # worker-side

        def run(batches):
            for pdf in batches:
                ids, hashes = [], []
                for i, t in zip(pdf[id_col], pdf[text_col]):
                    ws = t.split(" ") if t is not None else []
                    if len(ws) < k:
                        continue
                    seen = {
                        int(
                            hashlib.md5(" ".join(ws[j : j + k]).encode()).hexdigest()[:15],
                            16,
                        )
                        for j in range(len(ws) - k + 1)
                    }
                    ids.extend([i] * len(seen))
                    hashes.extend(seen)
                yield pd.DataFrame({id_col: ids, "sh": hashes})

        return docs.select(id_col, text_col).mapInPandas(
            run, schema=f"{id_col} bigint, sh bigint"
        )

    raise ValueError(f"unknown shingle engine {engine!r} (use 'jvm' or 'arrow')")


def pack_sequences(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    tokens_per_bucket: int = 1_048_576,
    min_buckets: int = 8,
):
    """Deterministic sequence packing: (id, bucket, pack_in_bucket,
    n_tokens) assigning documents to fixed-token-budget packs.

    Greedy packing is inherently sequential, so the scalable shape
    shards the corpus into md5 hash buckets and runs the running-token-
    sum pack assignment WITHIN each bucket — one window per bucket,
    parallel across buckets, no global sort.

    The bucket count SCALES WITH THE CORPUS: n_buckets =
    max(min_buckets, ceil(total_tokens / tokens_per_bucket)), sized by a
    cheap column-pruned pre-scan (a production deployment would read
    total_tokens from table statistics instead). A fixed bucket count
    would cap the packing window's parallelism and grow per-partition
    sorts without bound as the corpus grows; with ~1M tokens (~512
    capacity-2048 packs) per bucket, partitions stay executor-sized at
    any corpus size. Assignment remains a pure function of
    (doc_id, n_tokens, n_buckets) — reproducible across engines,
    cluster layouts, and reruns."""
    sized = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    return pack_sized(
        sized,
        id_col=id_col,
        capacity=capacity,
        tokens_per_bucket=tokens_per_bucket,
        min_buckets=min_buckets,
    )


def pack_sized(
    sized,
    id_col: str = "doc_id",
    capacity: int = 2048,
    tokens_per_bucket: int = 1_048_576,
    min_buckets: int = 8,
):
    """Pack-assignment core over a pre-sized ``(id, n_tokens)`` frame —
    extracted (r17) so packing composes with ANY tokenizer: whitespace
    proxy counts (``pack_sequences``) or real learned-BPE encoded
    lengths (``queries/text_q.py::text_pack_bpe_sequences``). Same
    bucket-sharded window shape and determinism contract as the
    docstring above."""
    from pyspark.sql.window import Window as W

    total = sized.agg(F.sum("n_tokens")).first()[0] or 0
    n_buckets = max(min_buckets, (int(total) + tokens_per_bucket - 1) // tokens_per_bucket)
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).alias("bucket")
    win = (
        W.partitionBy("bucket")
        .orderBy(F.col("n_tokens").desc(), id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = sized.select(id_col, "n_tokens", bucket).withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    )
    return packed.select(
        id_col,
        "bucket",
        F.floor(F.col("tokens_before") / capacity).cast("bigint").alias("pack_in_bucket"),
        "n_tokens",
    )


def global_ordinals(
    df,
    order_cols: list[str],
    n_buckets: int = 64,
    out_col: str = "ordinal",
):
    """Assign 0-based GLOBAL contiguous ordinals — the shard/sample-index
    assignment step of a training-data export. The two-phase bucket-rank
    + broadcast-offset decomposition lives in
    ``operators/indexing.py::dense_index`` (extracted r11 so the graph
    family's vertex indexes share it); this name is kept as the
    text-export-facing alias.
    """
    from mysql2psql_spark.operators.indexing import dense_index

    return dense_index(df, order_cols, n_buckets=n_buckets, out_col=out_col)


def budget_capped_sample(
    df: DataFrame,
    domain_col: str,
    weight_col: str,
    key_col: str,
    budget: int,
    out_col: str = "cum_weight",
) -> DataFrame:
    """Deterministic budget-capped draw: per ``domain_col``, keep rows in
    md5(``key_col``) order while the running sum of ``weight_col`` stays
    within ``budget`` (inclusive). The materialization step of a mixture
    plan — ``text_mixture_weights`` decides HOW MUCH of each domain to
    take; this draws WHICH rows, reproducibly (the md5 draw discipline of
    :func:`hash_sample`: membership is a pure function of the key, stable
    across reruns, engines, partition layouts, and corpus growth — new
    rows hash into place without reshuffling previous draws' prefixes
    beyond the budget boundary).

    Scale shape — no per-domain total-order window anywhere: the exact
    running sum decomposes over the FIRST HEX CHAR of the md5 key, which
    is (a) a RANGE prefix of the draw order (every row of bucket '0'
    precedes every row of bucket '1', both engines sort hex chars the
    same: ASCII digits < lowercase), and (b) uniform by construction
    (hash output), so the 16 buckets are balanced with no percentile-cut
    sketch needed — the weighted sibling of
    ``operators/indexing.py::dense_index``. One window per
    (domain, bucket) computes local cumulative weights; a
    |domains| x 16-row count table provides broadcast starting offsets
    (its prefix window is bounded at 16 rows per domain); the restated
    single-window SQL ``SUM(w) OVER (PARTITION BY domain ORDER BY
    md5(key), key)`` is reproduced exactly.

    Returns the selected rows of ``df`` plus ``out_col`` (BIGINT running
    total including the row itself). ``weight_col`` must be
    non-negative integers for the <= comparison to be exact.
    """
    from pyspark.sql.window import Window as W

    dk = F.md5(F.col(key_col).cast("string"))
    based = df.withColumn("_dk", dk).withColumn("_b", F.substring(F.col("_dk"), 1, 1))
    wl = W.partitionBy(domain_col, "_b").orderBy("_dk", key_col)
    ranked = based.withColumn("_local", F.sum(weight_col).over(wl))
    # totals from the pre-window frame (distribution_ranks' reasoning:
    # the count subtree prunes differently, and a pruned re-scan is
    # cheaper than caching the windowed frame)
    totals = based.groupBy(domain_col, "_b").agg(
        F.sum(weight_col).alias("_n")
    )
    wo = W.partitionBy(domain_col).orderBy("_b")
    offsets = totals.select(
        domain_col,
        "_b",
        F.coalesce(
            F.sum("_n").over(wo.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("_off"),
    )
    cum = (F.col("_off") + F.col("_local")).cast("bigint")
    return (
        ranked.join(F.broadcast(offsets), [domain_col, "_b"])
        .withColumn(out_col, cum)
        .filter(F.col(out_col) <= budget)
        .drop("_dk", "_b", "_local", "_off")
    )


def hash_sample(key: Column, rate_percent: Column) -> Column:
    """Deterministic sampling predicate: keep iff the first 8 hex chars of
    md5(key) land under the rate. Unlike rng-based sample(), membership is
    a pure function of the key — stable across reruns, engines, partition
    layouts, and cluster sizes, which is what reproducible training-data
    draws need. md5 (not xxhash64) so SQL oracles reproduce it exactly."""
    bucket = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100
    return bucket < rate_percent


def approx_strata(
    df: DataFrame,
    group_col: str,
    score_col: str,
    n_strata: int = 3,
    accuracy: int = 10_000,
) -> DataFrame:
    """Attach a 1-based ``stratum`` column: which of ``n_strata``
    per-group score bands each row falls in (1 = lowest scores) — the
    CORPUS-SCALE variant of exact per-group NTILE
    (queries/text_q.py::text_quality_buckets documents the trade).

    Exact NTILE needs every row's global rank inside its group, which
    funnels a whole group through one window task. This shape never
    ranks: per-group cut points come from one ``percentile_approx``
    aggregation (a mergeable KLL-style sketch — map-side combined, so
    the exchange carries one sketch per group per partition, not rows),
    the cut table (|groups| rows) broadcasts, and the band is a
    row-local comparison. Guarantees are the sketch's: each cut is a
    true (p +/- 1/accuracy)-quantile, so band POPULATIONS can deviate
    proportionally, and band assignment is always monotone in the score
    (a higher score never lands in a lower stratum — the comparison is
    against the same broadcast cuts for every row).

    Rows with a NULL score get a NULL stratum (they have no place in a
    score ordering — surfacing them beats silently binning them into
    band 1, ADVICE r8); a group whose scores are ALL NULL likewise gets
    NULL strata (its cuts array is NULL). The internal cut-points column
    is collision-safe against caller columns.
    """
    probs = [i / n_strata for i in range(1, n_strata)]
    cuts_col = "__approx_strata_cuts__"
    cuts = df.groupBy(group_col).agg(
        F.percentile_approx(score_col, probs, accuracy).alias(cuts_col)
    )
    band = F.lit(1) + F.aggregate(
        F.col(cuts_col),
        F.lit(0),
        lambda acc, c: acc
        + F.when(F.col(score_col) > c, F.lit(1)).otherwise(F.lit(0)),
    )
    stratum = F.when(F.col(score_col).isNotNull(), band.cast("int"))
    return (
        df.join(F.broadcast(cuts), group_col)
        .withColumn("stratum", stratum)
        .drop(cuts_col)
    )


def count_min_sketch(
    tokens: DataFrame, depth: int = 4, width: int = 16, token_col: str = "word"
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over a token
    frame: ``depth`` independent md5-seeded hash rows of ``width``
    buckets; the sketch IS a (r, bucket, cnt) frame of depth x width
    rows — a FIXED-size, MERGEABLE summary (bucket counts are sums, so
    map-side partial aggregation builds it in one pass and two sketches
    merge by adding counts), the shape that estimates token frequencies
    over a 100 TB corpus without a vocabulary-scale aggregation. Hashes
    are md5-prefix int64 of ``"r:token"`` (the engine's portable-hash
    discipline), so a SQL oracle rebuilds the identical grid.

    The build explodes each token into ``depth`` (r, bucket) rows —
    ONE hash aggregate whose output is depth x width rows regardless of
    corpus size; the exchange carries only the pre-combined grid."""
    rows = tokens.select(
        token_col, F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    ).select(
        "r",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("r").cast("string"), F.col(token_col))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        ).alias("bucket"),
    )
    return rows.groupBy("r", "bucket").agg(F.count("*").alias("cnt"))


def cms_estimate(
    probes: DataFrame,
    sketch: DataFrame,
    depth: int = 4,
    width: int = 16,
    token_col: str = "token",
) -> DataFrame:
    """Point-query the sketch for each probe token: estimate = MIN over
    the depth rows of the probed bucket's count (always >= the true
    count; collisions only ADD). The sketch is depth x width rows and
    broadcasts; probes explode into depth lookups and aggregate back —
    per-probe cost is ``depth`` hash-join lookups, corpus-free.

    The lookup is a LEFT join with absent cells counting 0 (ADVICE r11):
    the sketch frame stores only touched (r, bucket) cells, so a probed
    token whose cell was never incremented has NO sketch row — an inner
    join would drop that hash row from the MIN (inflating the estimate)
    and a token with every cell empty would vanish from the output
    instead of reporting the correct n_est = 0."""
    lk = probes.select(
        token_col, F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    ).select(
        token_col,
        "r",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("r").cast("string"), F.col(token_col))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        ).alias("bucket"),
    )
    return (
        lk.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("n_est"))
    )


def char_ngram_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per character n-gram OCCURRENCE (sliding window, stride
    1) — the feature stream of profile-based language identification
    (Cavnar & Trenkle 1994). Documents shorter than ``n`` characters
    contribute no rows (guarded explicitly: Spark's ``sequence(1, 0)``
    would otherwise count DOWN). Pure JVM builtins, no Python in the
    hot path; fan-out is bounded by text length and stays
    partition-local.

    Shape (r17): explode the OFFSET sequence and slice per generated
    row, instead of ``transform(sequence(...), i -> substring(...))``.
    Higher-order-function lambdas evaluate INTERPRETED per element
    (playbook rule 13), so the transform paid ~1 interpreted substring
    call per corpus character; the offset-explode keeps the substring
    inside whole-stage codegen (gram-stream noop at sf0.1: 2.19 ->
    1.74 s median, 5-rep interleaved; identical rows in identical
    order)."""
    idx = F.when(
        F.length(text_col) >= n,
        F.sequence(F.lit(1), F.length(text_col) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        id_col, *extra_cols, F.col(text_col), F.explode(idx).alias("_gpos")
    ).select(
        id_col,
        *extra_cols,
        F.expr(f"substring({text_col}, _gpos, {n})").alias("gram"),
    )


def langid_profiles(
    grams: DataFrame, label_col: str = "lang", k: int = 40
) -> DataFrame:
    """Per-language ranked character-n-gram profile: the ``k`` most
    frequent grams of each language, ranked 1..k by (count DESC, gram
    ASC — a total order, so both engines agree on every tie). Output is
    languages x k rows — broadcast-sized by construction regardless of
    corpus size; the (label, gram) pre-aggregation is map-side combined
    and its key space is bounded by charset^n, not the corpus."""
    from pyspark.sql.window import Window as W

    counts = grams.groupBy(label_col, "gram").agg(F.count("*").alias("cnt"))
    w = W.partitionBy(label_col).orderBy(F.col("cnt").desc(), "gram")
    return (
        counts.select(
            label_col, "gram", F.row_number().over(w).cast("int").alias("rank")
        )
        .filter(F.col("rank") <= k)
    )


# (applicationId, documents path, mtime, k) -> artifact dir. The mtime
# key is the schema-cache discipline (sources/parquet.py): a rewritten
# fixture (probe/test overwrite pattern) re-trains; a non-statable path
# skips the registry and re-trains every call.
_PROFILE_ARTIFACTS: dict[tuple, str] = {}


def langid_profile_artifact(
    spark, sf_dir: str, k: int = 40
) -> tuple[DataFrame, DataFrame]:
    """Write-once-per-session FROZEN language-ID profile artifact:
    (profiles, langs) as tiny parquet files under session_scratch,
    trained on first touch and re-read (languages x k rows) by every
    later consumer in the session — the ensure_bucketed_table
    discipline applied to a trained model artifact. At 100 TB this IS
    the deployment shape: profiles are an offline training product
    maintained beside the corpus, not a per-query derivation; the
    streaming gate's frozen-profiles contract says exactly this.

    Adopted for the STREAMING GATE only (r17 A/B, sf0.1 interleaved
    5-rep medians): the gate re-trained + persisted profiles per
    invocation — artifact 7.543 vs inline 7.790-8.449 s. The batch
    langid queries KEEP their recompute layout: for them the training
    subtree fuses into the classification plan and the artifact read
    measured neutral-to-slower (ngram 3.20 artifact vs 3.11 inline —
    the r15/r16 persist-vs-recompute adjudications, reconfirmed)."""
    import os

    from mysql2psql_spark.operators.layout import session_scratch
    from mysql2psql_spark.sources.parquet import load_table, path_stat

    doc_path = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        mtime = path_stat(doc_path)[0]
    except OSError:
        mtime = None
    key = (spark.sparkContext.applicationId, doc_path, mtime, k)
    art = _PROFILE_ARTIFACTS.get(key) if mtime is not None else None
    if art is None:
        d = load_table(spark, sf_dir, "documents", fanout=True)
        grams = char_ngram_table(d, extra_cols=("lang",))
        import hashlib

        tag = hashlib.md5(repr(key).encode()).hexdigest()[:12]
        art = os.path.join(session_scratch(spark), f"langid_profiles_{tag}")
        langid_profiles(grams, k=k).write.mode("overwrite").parquet(
            f"{art}/profiles"
        )
        d.select("lang").distinct().write.mode("overwrite").parquet(f"{art}/langs")
        if mtime is not None:
            _PROFILE_ARTIFACTS[key] = art
    return (
        spark.read.parquet(f"{art}/profiles"),
        spark.read.parquet(f"{art}/langs"),
    )


def langid_classify(
    doc_grams: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "lang",
    k: int = 40,
    langs: DataFrame | None = None,
) -> DataFrame:
    """Cavnar-Trenkle out-of-place classification, integer-exact: rank
    each document's top-``k`` grams the same way the profiles were
    ranked, then score each (document, language) as

        sum over the doc's profile grams of
            |doc_rank - lang_rank|   if the gram is in the language's
                                     profile, else ``k`` (max penalty)

    and predict the language with the smallest distance (ties broken by
    label ASC). Every term is an integer, so Spark and any SQL oracle
    agree bit-for-bit.

    Scale shape (r17 restructure): the doc-profile window partitions by
    document (state = one doc's distinct grams) and computes ``n_prof``
    as a SECOND window function over the same sort (a whole-partition
    count), so the subtree executes ONCE — the previous layout derived
    ``n_prof`` from a separate ``groupBy(id)`` consumer, which
    re-executed the entire gram-scan/aggregate/window pipeline (the
    dominant corpus-sized cost) a second time. The scoring join is
    doc-profile rows x a BROADCAST languages-x-k profile table, kept
    LEFT so docs whose profile matches nothing survive; the former
    (doc x language) distance grid (n_docs x n_langs rows + a window
    over it) is replaced by an argmax over the matched gains, which is
    equivalent because

        oop_distance = n_prof*k - gain(lang),
        gain(lang)   = sum over matched grams of (k - |r_doc - rank|)

    with every matched term >= 1 (|r_doc - rank| <= k-1) and every
    unmatched language's gain exactly 0 — so argmin(distance) =
    argmax(gain) with the same label-ASC tie order, and a doc with no
    matches at all falls through to the lexicographically-first
    language at distance n_prof*k, exactly the grid's output.
    A/B (sf0.1, 5-rep interleaved, count protocol): full langid query
    4.18 -> 3.58 s before the scan fan-out, identical rows. Pass
    ``langs`` (the distinct label frame) when the caller has it
    cheaply; it only feeds the 1-row min-label broadcast."""
    from pyspark.sql.window import Window as W

    counts = doc_grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    w = W.partitionBy(id_col).orderBy(F.col("cnt").desc(), "gram")
    wfull = W.partitionBy(id_col)
    dprof = (
        counts.select(
            id_col,
            "gram",
            F.row_number().over(w).cast("int").alias("r_doc"),
            F.least(F.count("*").over(wfull), F.lit(k)).cast("int").alias("n_prof"),
        )
        .filter(F.col("r_doc") <= k)
    )
    if langs is None:
        langs = profiles.select(label_col).distinct()
    gains = (
        dprof.join(F.broadcast(profiles), "gram", "left")
        .groupBy(id_col, label_col)
        .agg(
            F.sum(
                F.when(
                    F.col("rank").isNotNull(),
                    F.lit(k) - F.abs(F.col("r_doc") - F.col("rank")),
                ).otherwise(0)
            ).alias("gain"),
            F.first("n_prof").alias("n_prof"),
        )
    )
    w2 = W.partitionBy(id_col).orderBy(
        F.col("gain").desc(), F.col(label_col).asc_nulls_last()
    )
    top = gains.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") == 1)
    min_lang = langs.agg(F.min(label_col).alias("_min_lang"))
    return top.crossJoin(F.broadcast(min_lang)).select(
        id_col,
        F.coalesce(F.col(label_col), F.col("_min_lang")).alias("lang_pred"),
        (
            F.col("n_prof") * F.lit(k)
            - F.when(F.col(label_col).isNull(), 0).otherwise(F.col("gain"))
        )
        .cast("bigint")
        .alias("oop_distance"),
    )


def bpe_apply_rule(toks_col, pa: str, pb: str):
    """One BPE merge rule applied to a token-array column as a single
    Catalyst fold (the text_bpe_encode semantics: greedy leftmost scan
    with skip — the accumulator carries (emitted, pending); a
    (pending, current) pair matching the rule emits the merged token,
    which by the leftmost-merge lemma can never re-match its own rule).
    Column-API construction so ``pa``/``pb`` pass through ``F.lit`` —
    safe for ARBITRARY learned symbols (quotes, backslashes), unlike an
    expression-string build; used by the merge LEARNER, whose rules
    come from the corpus rather than a pinned table."""
    from pyspark.sql import functions as F

    empty = F.array().cast("array<string>")
    init = F.struct(empty.alias("out"), F.lit(None).cast("string").alias("pend"))

    def merge(acc, x):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == F.lit(pa)) & (x == F.lit(pb)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(pa + pb))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(toks_col, init, merge, finish)


def quality_stats_tables(d: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus-level side tables the quality scorer consumes:
    (tf: (w, tf) unigram counts; tot: 1-row (t,) total token count;
    dfreq: (sh, df) shingle document frequencies). Vocabulary-sized —
    the frozen-model artifacts a streaming quality gate trains offline,
    exactly as langid_profiles is to the langid gate."""
    from mysql2psql_spark.operators.text import shingle_hash_table

    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    tf = toks.groupBy("w").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").cast("double").alias("t"))
    dfreq = shingle_hash_table(d).groupBy("sh").agg(F.count("*").alias("df"))
    return tf, tot, dfreq


def quality_signals_frozen(
    d: DataFrame, tf: DataFrame, tot: DataFrame, dfreq: DataFrame
) -> DataFrame:
    """Per-document quality signals + combined score + bucket against
    FROZEN corpus side tables — per-document PURE given (tf, tot,
    dfreq), which is what makes the streaming gate's per-batch counts
    associative and streamed == batch exact for any micro-batch
    partitioning. Out-of-corpus tokens score tf=1 (maximal surprisal)
    and out-of-corpus shingles df=1 (not duplicated) — on the training
    corpus itself every join key hits, so the batch scorer
    (_quality_scored) instantiating this with its own corpus tables is
    unchanged by the fallbacks.

    Signals and weights are documented at the text_quality_score block
    (queries/text_q.py); every term is micro-quantized to integer, so
    the score is bit-equal across engines and layouts."""
    from mysql2psql_spark.operators.text import (
        en_stopword_ratio,
        quality_score,
        shingle_hash_table,
    )

    micro = lambda c: F.round(c * 1000000).cast("bigint")  # noqa: E731
    base = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        micro(en_stopword_ratio(F.col("text"))).alias("stop_micro"),
        micro(quality_score(F.col("text"))).alias("div_micro"),
        ((F.length("text") >= 50) & (F.size(F.split(F.col("text"), " ")) >= 10)).alias(
            "length_gate"
        ),
    )
    shex = shingle_hash_table(d)
    dup = (
        shex.join(dfreq, "sh", "left")
        .select("doc_id", F.coalesce(F.col("df"), F.lit(1)).alias("df"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)) * F.lit(1000000.0)
                / F.count("*")
            )
            .cast("bigint")
            .alias("dup_micro")
        )
    )
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    srp = (
        toks.join(tf, "w", "left")
        .select("doc_id", F.coalesce(F.col("tf"), F.lit(1)).alias("tf"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.log(F.col("tf").cast("double"))).alias("sum_ln_tf"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                (F.col("n") * F.log(F.col("t")) - F.col("sum_ln_tf"))
                / F.col("n")
                * 1000000
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    signals = (
        base.join(dup, "doc_id", "left")
        .join(srp, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "stop_micro",
            "div_micro",
            F.coalesce(F.col("dup_micro"), F.lit(0)).cast("bigint").alias("dup_micro"),
            "nll_micro",
            "length_gate",
        )
    )
    # integer-exact combination: every term is a bigint (div = integer
    # floor division on non-negative operands, matching the oracle's //)
    score = (
        F.when(F.col("length_gate"), 250000).otherwise(0)
        + F.expr("div_micro div 2")
        + F.col("stop_micro") * 2
        - F.expr("dup_micro div 2")
        - F.expr("abs(nll_micro - 3500000) div 4")
    ).cast("bigint")
    return signals.select(
        "doc_id",
        "lang",
        "n_tokens",
        "stop_micro",
        "div_micro",
        "dup_micro",
        "nll_micro",
        score.alias("score_micro"),
        F.when(score >= 450000, "high")
        .when(score >= 250000, "mid")
        .otherwise("low")
        .alias("bucket"),
    )


def quality_stats_artifact(
    spark, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Write-once-per-session FROZEN quality side-table artifact:
    (tf, tot, dfreq) as parquet under session_scratch, trained on first
    touch and re-read by every later consumer — langid_profile_artifact
    applied to the quality scorer's side tables. Same deployment
    argument: at 100 TB the unigram LM and shingle-df tables are
    offline training products maintained beside the corpus, which is
    exactly what the streaming gate's frozen contract says; re-training
    them inside every gate invocation pays the two corpus scans again
    for byte-identical vocabulary-sized results. Keyed by (app, corpus
    path, mtime) — a corpus rewrite invalidates, like the schema
    cache."""
    import hashlib
    import os

    from mysql2psql_spark.operators.layout import session_scratch
    from mysql2psql_spark.sources.parquet import load_table, path_stat

    doc_path = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        mtime = path_stat(doc_path)[0]
    except OSError:
        mtime = None
    key = (spark.sparkContext.applicationId, doc_path, mtime, "quality_stats")
    art = _PROFILE_ARTIFACTS.get(key) if mtime is not None else None
    if art is None:
        d = load_table(spark, sf_dir, "documents")
        tf, tot, dfreq = quality_stats_tables(d)
        tag = hashlib.md5(repr(key).encode()).hexdigest()[:12]
        art = os.path.join(session_scratch(spark), f"quality_stats_{tag}")
        tf.write.mode("overwrite").parquet(f"{art}/tf")
        tot.write.mode("overwrite").parquet(f"{art}/tot")
        dfreq.write.mode("overwrite").parquet(f"{art}/dfreq")
        if mtime is not None:
            _PROFILE_ARTIFACTS[key] = art
    return (
        spark.read.parquet(f"{art}/tf"),
        spark.read.parquet(f"{art}/tot"),
        spark.read.parquet(f"{art}/dfreq"),
    )
