"""Deduplication operators for large-scale document pipelines.

Beyond reference parity (the reference has no document processing): exact
dedup, word-set fingerprint dedup, MinHash+LSH near-dup pairs, SimHash
fingerprints, and n-gram Jaccard pairs — the operator set a training-data
pipeline runs before model consumption.

All hashing uses the engine-neutral primitives in functions/portable.py so
every operator is DuckDB-oracle-checkable; no Python UDFs anywhere (whole-
stage codegen stays intact).

Scale design (100 TB):
- Exact/fingerprint dedup: hash-partitioned window over the fingerprint —
  one shuffle, group sizes are duplicate-cluster sizes (small).
- MinHash: explode-to-(doc, token-hash), single groupBy computing all K
  minhashes as K min() aggregates (no k-way cross join), band keys from the
  signature, self-join per band.  Shuffles are keyed by doc_id then band
  key; no all-pairs product ever materializes.
- The token-hash inverted-index join that confirms exact Jaccard has
  multiplicity proportional to posting-list sizes; the ``max_doc_freq``
  dial (ngram_jaccard_pairs / exact_substring_pairs) stop-words hot
  tokens via a broadcast anti join, bounding the join at linear on
  Zipfian corpora.  The oracle-parity defaults keep it off (exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import portable as P
from .banding import band_self_join, stack_bands


def _spread_small_scan(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Parallelize a CPU-dense per-row stage whose input arrives in fewer
    splits than the session has cores (guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    The harness testdata is one parquet file with ONE row group —
    unsplittable, so tokenize/hash stages otherwise serialize on a single
    task regardless of configuration (DESIGN.md input-layout caveat).  The
    guard makes this scale-adaptive, not local-tuned: a real corpus
    arrives in thousands of splits, the partition count meets the session
    parallelism, and this is a NO-OP — no shuffle is added at 100 TB.
    The repartition key is the stable doc key (deterministic under task
    retry, SPARK-38388-safe), and every consumer aggregates with
    partition-order-insensitive functions (min/sum-of-int/collect_set),
    so results are identical."""
    if docs.isStreaming:
        # streaming micro-batches already arrive partitioned by the source;
        # .rdd below would also throw on an unbounded frame (ADVICE r10)
        return docs
    sc = docs.sparkSession.sparkContext
    parallelism = sc.defaultParallelism
    # .rdd.getNumPartitions() forces physical planning at graph-build time
    # — a real driver-side cost (~10-50 ms), paid once per operator call
    # and only on batch frames; accepted as the price of an exact split
    # count (spark.sql.files.maxPartitionBytes-based estimates cannot see
    # row-group boundaries, which are exactly what serialize the testdata
    # layout).  ADVICE r10 reviewed.
    if docs.rdd.getNumPartitions() >= parallelism:
        return docs
    return docs.repartition(parallelism, F.col(key))


# ---------------------------------------------------------------------------
# Exact + fingerprint dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Canonical assignment by md5 of normalized text; min doc_id wins."""
    norm = P.spark_norm_text(F.col("text"))
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), F.md5(norm).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return (
        base.withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_doc_id"))
    )


def exact_dedup_sql(table: str = "documents") -> str:
    norm = P.duck_norm_text("text")
    return f"""
    SELECT doc_id, fingerprint,
           MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
           doc_id != MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
    FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, md5({norm}) AS fingerprint
          FROM {table})
    """


def fingerprint_dedup(docs: DataFrame) -> DataFrame:
    """Word-set fingerprint dedup: order/multiplicity-insensitive duplicates
    (md5 over the sorted distinct word set) — catches shuffled/repeated-word
    variants that exact dedup misses."""
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(words)), " "))
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), fp.alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return (
        base.withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_doc_id"))
    )


def fingerprint_dedup_sql(table: str = "documents") -> str:
    words = P.duck_words(P.duck_norm_text("text"))
    return f"""
    SELECT doc_id, fingerprint,
           MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
           doc_id != MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
    FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 md5(array_to_string(list_sort(list_distinct({words})), ' ')) AS fingerprint
          FROM {table})
    """


# ---------------------------------------------------------------------------
# Token-hash inverted index (shared by MinHash confirm + Jaccard pairs)
# ---------------------------------------------------------------------------


def _doc_token_hashes(
    docs: DataFrame,
    shingle_n: int,
    fast_hash: bool = False,
    wide: bool = False,
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, h): distinct hashes of word n-gram shingles (n=1 -> word
    set).

    Default token hash is the engine-portable char fold (oracle parity) —
    but it is an interpreted Catalyst higher-order function, one lambda
    step per CHARACTER.  ``fast_hash=True`` swaps in ``xxhash64``
    (whole-stage-codegen JVM hash; measured 2.4x faster on the token-hash
    stage at sf0.1) folded into the portable modulus range so every
    downstream affine transform (minhash families) works unchanged.  Pair
    SEMANTICS are preserved either way: candidates are confirmed against
    exact set Jaccard over the same hashed token sets, so precision is
    exact and only the (already statistical) LSH candidate sampling
    changes.  Production dial; oracle-mirrored queries keep the default.

    ``wide=True`` (round-7): 128-bit md5 keys for EQUALITY-ONLY consumers
    (exact_substring_pairs, jaccard/containment indexes).  The narrow
    31-fold lives mod 2^31-1 because minhash's affine transforms must not
    overflow BIGINT — but for pure gram-equality joins that modulus is a
    birthday trap: the round-7 sf1 probe measured 70 fabricated pairs in
    exact_substring_pairs at just 50k docs (~2.5M distinct grams), and at
    corpus scale unconfirmed narrow-hash joins would be dominated by
    collisions.  md5 is engine-portable (identical in DuckDB), 128-bit
    (collision-free at any feasible corpus), and JVM-native codegen — it
    IS the fast dial, so ``fast_hash`` is ignored when wide.  Only minhash
    signature paths, whose estimates are confirmed downstream, keep the
    narrow fold.
    """
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    tokens = words if shingle_n == 1 else P.spark_word_shingles(words, shingle_n)
    if wide:
        h = F.md5(F.col("t"))
    elif fast_hash:
        h = F.pmod(F.xxhash64(F.col("t")), F.lit(P.HASH_P))
    else:
        h = P.spark_str_hash(F.col("t"))
    out = (
        _spread_small_scan(docs)
        .select(F.col("doc_id").cast("long").alias("doc_id"), tokens.alias("tok"))
        .select("doc_id", F.explode("tok").alias("t"))
        .select("doc_id", h.alias("h"))
    )
    # ``distinct=False`` (round-10 optimization) is for consumers whose
    # aggregates are duplicate-insensitive (min() signature aggregates):
    # results are identical and the dedup Exchange disappears (guide
    # §2.4).  Consumers that COUNT rows (Jaccard set sizes, posting-list
    # caps) must keep the default.
    return out.distinct() if distinct else out


def _duck_doc_token_hashes(table: str, shingle_n: int, wide: bool = False) -> str:
    words = P.duck_words(P.duck_norm_text("text"))
    tokens = "ws" if shingle_n == 1 else P.duck_word_shingles("ws", shingle_n)
    inner = (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {words} AS ws FROM {table}"
    )
    h = "md5(t)" if wide else P.duck_str_hash("t")
    return f"""
    SELECT DISTINCT doc_id, {h} AS h
    FROM (SELECT doc_id, unnest({tokens}) AS t FROM ({inner}))
    """


def _cap_hot_tokens(tok: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Drop tokens whose posting list (document frequency) exceeds
    ``max_doc_freq`` — the stop-wording dial that keeps inverted-index
    self-joins LINEAR on Zipfian corpora: a token in f documents
    contributes f·(f-1)/2 join rows, so the corpus-wide candidate volume
    is Σ f_t², dominated by the few hottest tokens.  Capping f bounds the
    per-token term at max_doc_freq² and the hot-token list itself is small
    (at most total_postings / max_doc_freq entries), so it is BROADCAST to
    a map-side anti join — no extra shuffle of the posting table."""
    if max_doc_freq is None:
        return tok
    hot = (
        tok.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("h")
    )
    return tok.join(F.broadcast(hot), "h", "left_anti")


def _jaccard_from_index(tok: str, cand_filter: str, threshold: float) -> str:
    """DuckDB: exact Jaccard for pairs sharing >=1 token (inverted index)."""
    return f"""
    WITH tok AS ({tok}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold}
          {cand_filter}
    """


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    ``max_doc_freq`` is the hot-token guard for Zipfian corpora: shingles
    appearing in more than that many documents are stop-worded out of BOTH
    the intersection join and the set sizes (so jaccard stays a true
    Jaccard over the capped shingle sets).  None (the oracle-parity
    default) keeps the computation exact; production runs should set it —
    tests/test_llmdata_ops.py proves the join volume drops from quadratic
    to linear on a corpus with one token shared by every document."""
    # materialize the posting table ONCE: it feeds the sizes aggregate and
    # BOTH sides of the self-join (plus the hot-list anti-join), and
    # without the checkpoint each reference re-scans the text and re-hashes
    # every shingle — the round-5 scan audit measured EIGHT text-bearing
    # scans in the capped registry shape; (doc_id, h) rows are 16 bytes vs
    # re-reading and re-shingling documents
    tok = _cap_hot_tokens(
        _doc_token_hashes(docs, shingle_n, wide=True), max_doc_freq
    ).localCheckpoint()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> str:
    tok = _duck_doc_token_hashes(table, shingle_n, wide=True)
    if max_doc_freq is not None:
        # mirror of _cap_hot_tokens: drop tokens whose posting list exceeds
        # the cap BEFORE sizes/intersections (QUALIFY = post-window filter)
        tok = f"""
        SELECT doc_id, h FROM ({tok})
        QUALIFY COUNT(*) OVER (PARTITION BY h) <= {max_doc_freq}
        """
    return _jaccard_from_index(tok, "", threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    shingle_n: int = 1,
    k: int = P.MINHASH_K,
    fast_hash: bool = False,
) -> DataFrame:
    """(doc_id, m0..m{K-1}): K minhashes computed as K min() aggregates over
    the exploded token hashes — one shuffle, no per-hash-function pass.

    ``k`` is the signature width: the default is the production dial
    (k=128; with 32 bands of r=4 the candidate-probability knee sits at
    Jaccard ~(1/32)^(1/4) = 0.42); the oracle-mirrored registry query
    passes the small P.MINHASH_K_ORACLE dial explicitly.

    distinct=False: min() over the affine transforms is duplicate-
    insensitive, so signatures are identical without the token-dedup
    Exchange (round-10; one shuffle instead of two)."""
    tok = _doc_token_hashes(docs, shingle_n, fast_hash, distinct=False)
    return tok.groupBy("doc_id").agg(*_signature_aggs(k))


def _signature_aggs(k: int, h_col: str = "h"):
    """The K min() affine-transform aggregates over a token-hash column —
    shared by minhash_signatures and the fused one-tokenize path."""
    a_coef, b_coef = P.minhash_params(k)
    return [
        F.min(
            (F.lit(a_coef[i]) * F.col(h_col) + F.lit(b_coef[i])) % P.HASH_P
        ).alias(f"m{i}")
        for i in range(k)
    ]


def _doc_token_hashes_both(
    docs: DataFrame, shingle_n: int, fast_hash: bool = False
) -> DataFrame:
    """(doc_id, h, hw): ONE tokenize pass emitting BOTH the narrow
    affine-compatible hash (signatures) and the wide md5 key (confirm
    sets) — round-8 fusion.  minhash_lsh_pairs previously ran two full
    tokenize+explode+distinct pipelines over the corpus (one per hash
    width, ~2x the dominant stage cost at sf0.1); one distinct on the
    3-column row is semantically identical because h is a function of the
    token and hw is collision-free, so distinct-(doc_id,h,hw) ==
    distinct-token."""
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    tokens = words if shingle_n == 1 else P.spark_word_shingles(words, shingle_n)
    if fast_hash:
        h = F.pmod(F.xxhash64(F.col("t")), F.lit(P.HASH_P))
    else:
        h = P.spark_str_hash(F.col("t"))
    # NO .distinct() here (round-10 optimization): every consumer of this
    # table aggregates with duplicate-INSENSITIVE functions only — min()
    # for the K signature aggregates and collect_set() for the confirm
    # sets (minhash_lsh_pairs, minhash_star_edges, incremental_neardup,
    # streaming _sig_rows) — so deduplicating first cost a full
    # token-volume Exchange + hash-dedup pass for nothing.  Outputs are
    # bit-identical with or without it (guide §2.4: remove shuffles whose
    # work the next operator redoes); tests/test_round10_opt.py pins the
    # equivalence.
    # hw stays the 32-char HEX md5 string: a 16-byte unhex(md5) BINARY
    # encoding was tried in round 10 (half the bytes) and measured ~65%
    # SLOWER end-to-end (26.2 s vs 15.7 s median, same-session alternating
    # A/B on dedup_minhash_lsh at sf0.1) — Spark's array_intersect /
    # collect_set hash UTF8String natively but fall to slow generic paths
    # for BinaryType elements.  Negative result recorded in
    # OPTIMIZATION_r10.md; do not retry without re-measuring.
    # round-11 (VERDICT r10 #8): the tokenize+hash stage of every minhash
    # family ran on ONE task for the single-row-group testdata layout (the
    # same sub-parallelism hazard _spread_small_scan already fixed for
    # simhash); guarded, so a real many-split corpus adds no Exchange
    return (
        _spread_small_scan(docs)
        .select(F.col("doc_id").cast("long").alias("doc_id"), tokens.alias("tok"))
        .select("doc_id", F.explode("tok").alias("t"))
        .select("doc_id", h.alias("h"), F.md5(F.col("t")).alias("hw"))
    )


def _confirm_jaccard(
    cand: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_a: str,
    id_b: str,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, jaccard): exact set-Jaccard confirm of candidate pairs
    — the shared tail of every minhash family operator (``cand`` joined to
    the per-doc token-set arrays ``hs_a``/``hs_b``, scored, thresholded).

    Round-11 fused shape (guide §2.4 via VERDICT r10 #3): the naive
    ``select(jaccard).filter(jaccard >= t)`` double-evaluates the
    ``array_intersect`` — Catalyst pushes the threshold predicate into the
    join condition (or a Filter below the Project), so every candidate
    pair paid the intersect in the predicate AND every survivor paid it
    again in the projection (committed r10 plans show the full jaccard
    expression twice, each copy holding two intersects).  Here the
    intersect size is computed ONCE in a projection and the filter runs on
    the projected integer.  The barrier that keeps the optimizer from
    collapsing the projection back into the predicate is a
    nondeterministic no-op term, ``+ size(shuffle(array()))`` (always
    +0): a nondeterministic expression may not be duplicated or have
    predicates pushed through it (Catalyst's PushPredicateThroughNonJoin /
    CollapseProject both require deterministic projections).  ``shuffle``
    of an EMPTY literal array costs O(1) per row — shuffling one of the
    real token arrays also works but pays a Fisher-Yates pass over the
    set per pair, measurable on large-vocabulary corpora; rand()-based
    guards do NOT work (the optimizer strips them — plan probe in
    tools/probe_r11_confirm_fusion.py shows 3 intersect copies).

    Values are bit-identical to the naive shape: the same integer
    ``n_common`` / set sizes feed the same double division.
    """
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))) + F.size(
        F.shuffle(F.array())
    )
    scored = (
        cand.join(sets_a, id_a)
        .join(sets_b, id_b)
        .select(
            id_a,
            id_b,
            n_common.alias("_nc"),
            F.size(F.col("hs_a")).alias("_na"),
            F.size(F.col("hs_b")).alias("_nb"),
        )
    )
    jac = F.col("_nc").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_nc")
    )
    return scored.filter(jac >= threshold).select(
        id_a, id_b, jac.alias("jaccard")
    )


def _band_key_cols(r: int, n_bands: int):
    return [
        F.concat_ws("-", *[F.col(f"m{b * r + j}") for j in range(r)]).alias(f"band{b}")
        for b in range(n_bands)
    ]


def _band_stack(
    sigs: DataFrame, r: int, n_bands: int, out_id: str | None = None
) -> DataFrame:
    """(doc_id or out_id, band, key): one row per minhash band of each
    signature, key = the band's r minhash values joined with '-'."""
    bands = sigs.select("doc_id", *_band_key_cols(r, n_bands))
    keys = [F.col(f"band{b}") for b in range(n_bands)]
    return stack_bands(bands, "doc_id", keys, out_id=out_id)


def _band_candidates(sigs: DataFrame, r: int, n_bands: int) -> DataFrame:
    """(doc_a, doc_b): distinct doc pairs sharing at least one full band."""
    return band_self_join(
        _band_stack(sigs, r, n_bands),
        "doc_id",
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    ).distinct()


def minhash_lsh_pairs(
    docs: DataFrame,
    shingle_n: int = 1,
    threshold: float = 0.9,
    k: int = P.MINHASH_K,
    n_bands: int = P.MINHASH_BANDS,
    fast_hash: bool = False,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, confirmed with exact Jaccard.

    Candidates = pairs agreeing on at least one full band of the signature;
    each candidate is then confirmed against the exact token-set Jaccard.
    Identical banding runs in the oracle, so the (approximate) candidate set
    is deterministic and the outputs match exactly.

    (k, n_bands) is the recall/cost dial: candidate probability at Jaccard s
    is 1 - (1 - s^r)^b with r = k/n_bands.  The DEFAULT is the production
    dial (128, 32) — recall knee ~0.42 Jaccard; the coarse oracle dial
    (P.MINHASH_K_ORACLE=6, 2) exists to keep the DuckDB mirror cheap and is
    passed explicitly by the registry query — see tests/test_llmdata_ops.py
    ::test_minhash_production_dial_recall for the measured recall of both
    dials against exact Jaccard.
    """
    if k % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide k={k}")
    r = k // n_bands
    # ONE tokenize pass for BOTH hash widths (round-8 fusion,
    # _doc_token_hashes_both): the signature aggregates read the narrow
    # column and the confirm sets read the wide column off the same
    # materialized (doc_id, h, hw) table — previously two full
    # tokenize+explode+distinct pipelines ran over the corpus.
    tok2 = _doc_token_hashes_both(docs, shingle_n, fast_hash).localCheckpoint(
        eager=False
    )
    # Materialize the signature table once (lazy localCheckpoint — the
    # engine's standard compute-once block, ContextCleaner-reclaimed): the
    # band stack references it n_bands times and the candidate self-join
    # twice more, so without pinning the K-agg subtree re-executes per
    # reference (measured 3x wall on the production dial).  At 100 TB this
    # is also the right artifact shape — signatures are 100-1000x smaller
    # than the corpus and production pipelines persist them; same for the
    # per-doc token-set arrays used by the confirm step.
    sigs = tok2.groupBy("doc_id").agg(*_signature_aggs(k)).localCheckpoint(
        eager=False
    )
    cand = _band_candidates(sigs, r, n_bands)
    # Confirm candidates against exact set Jaccard via per-doc token-set
    # arrays + array_intersect: cost is |candidates| * O(set size), instead
    # of an inverted-index pair explosion (which degenerates quadratically
    # when the vocabulary is tiny / posting lists are hot).
    #
    # round-8: the confirm sets are 128-bit md5 (the wide column) — these
    # keys never feed the BIGINT affine transforms, and the narrow
    # 31-fold's birthday collisions would INFLATE the confirmed Jaccard at
    # corpus scale (same defect class as the round-7 exact_substring fix),
    # making "estimates are confirmed downstream" circular.  Narrow stays
    # only where signatures need it (the aggregates above).
    # no sort_array (round-10): the only consumers are size() and
    # array_intersect(), both order-insensitive — jaccard values are
    # identical without the per-doc O(s log s) sort.  (minhash_star_edges
    # KEEPS its sort: there the sorted array feeds an md5 class signature.)
    doc_sets = (
        tok2.groupBy("doc_id")
        .agg(F.collect_set("hw").alias("hs"))
        .localCheckpoint(eager=False)
    )
    sa = doc_sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    return _confirm_jaccard(cand, sa, sb, "doc_a", "doc_b", threshold)


def minhash_lsh_pairs_sql(table: str = "documents", shingle_n: int = 1, threshold: float = 0.9) -> str:
    """DuckDB mirror at the ORACLE dial (K_ORACLE, BANDS_ORACLE) — the Spark
    side of the registry query passes the same dial explicitly."""
    r = P.MINHASH_K_ORACLE // P.MINHASH_BANDS_ORACLE
    tok = _duck_doc_token_hashes(table, shingle_n)
    tokw = _duck_doc_token_hashes(table, shingle_n, wide=True)
    minhash_cols = ", ".join(
        f"MIN(({P.MINHASH_A_ORACLE[i]} * h + {P.MINHASH_B_ORACLE[i]}) % {P.HASH_P}) AS m{i}"
        for i in range(P.MINHASH_K_ORACLE)
    )
    band_cols = ", ".join(
        " || '-' || ".join(f"CAST(m{b * r + j} AS VARCHAR)" for j in range(r))
        + f" AS band{b}"
        for b in range(P.MINHASH_BANDS_ORACLE)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bands"
        for b in range(P.MINHASH_BANDS_ORACLE)
    )
    return f"""
    WITH tok0 AS ({tok}),
    tokw AS ({tokw}),
    sigs AS (SELECT doc_id, {minhash_cols} FROM tok0 GROUP BY doc_id),
    bands AS (SELECT doc_id, {band_cols} FROM sigs),
    stacked AS ({band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM stacked a JOIN stacked b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    doc_sets AS (SELECT doc_id, list_sort(list(DISTINCT h)) AS hs
                 FROM tokw GROUP BY doc_id)
    SELECT cand.doc_a, cand.doc_b,
           CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
               / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
    FROM cand
    JOIN doc_sets a ON a.doc_id = cand.doc_a
    JOIN doc_sets b ON b.doc_id = cand.doc_b
    WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
              / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
          >= {threshold}
    """


def minhash_star_edges(
    docs: DataFrame,
    shingle_n: int = 1,
    threshold: float = 0.9,
    k: int = P.MINHASH_K,
    n_bands: int = P.MINHASH_BANDS,
    fast_hash: bool = False,
) -> DataFrame:
    """(doc_a, doc_b) star + bridge edges whose connected components are
    IDENTICAL to ``minhash_lsh_pairs``'s confirmed pair graph's, with edge
    count LINEAR in duplicate-class size — the text twin of the media
    star-edge generators (equivalence proof in operators/banding.py).
    The exact signature is the md5 of the sorted wide-key token set (the
    repo's 128-bit equality-key rule; the fixed-width hex elements make
    the ','-join injective), rep = min(doc_id) per class; bridges are the
    banded minhash join + exact-Jaccard confirm over the rep docs.  Both
    candidacy and the Jaccard verify are functions of the token sets
    alone, which is what the proof needs.

    Scale shape: the tokenize pass, the per-doc set build and the K-agg
    signature build are the SAME artifacts minhash_lsh_pairs creates; the
    class grouping adds one doc-keyed shuffle on the 16-byte signature,
    and in exchange the band join and the Jaccard confirm (the quadratic-
    prone stages) see distinct-content docs only."""
    if k % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide k={k}")
    r = k // n_bands
    tok2 = _doc_token_hashes_both(docs, shingle_n, fast_hash).localCheckpoint(
        eager=False
    )
    doc_sets = (
        tok2.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("hw")).alias("hs"))
        .localCheckpoint(eager=False)
    )
    doc_sig = doc_sets.select(
        "doc_id", F.md5(F.concat_ws(",", F.col("hs"))).alias("sig")
    )
    classes = (
        doc_sig.groupBy("sig")
        .agg(F.min("doc_id").alias("rep"))
        .localCheckpoint(eager=False)
    )
    star = (
        doc_sig.join(classes, "sig")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    reps = classes.select(F.col("rep").alias("doc_id"))
    rep_sets = doc_sets.join(reps, "doc_id").localCheckpoint(eager=False)
    rep_sigs = (
        tok2.join(reps, "doc_id")
        .groupBy("doc_id")
        .agg(*_signature_aggs(k))
        .localCheckpoint(eager=False)
    )
    cand = _band_candidates(rep_sigs, r, n_bands)
    sa = rep_sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = rep_sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    bridges = _confirm_jaccard(cand, sa, sb, "doc_a", "doc_b", threshold).select(
        "doc_a", "doc_b"
    )
    return star.unionAll(bridges)


def minhash_star_edges_sql(
    table: str = "documents", shingle_n: int = 1, threshold: float = 0.9
) -> str:
    """DuckDB mirror of ``minhash_star_edges`` at the ORACLE dial — the
    same class grouping (md5 of the sorted wide-key set), star edges, and
    distinct-signature banded+confirmed bridges, so a certificate oracle
    recomputing per-doc degree binds the star edge set cross-engine."""
    r = P.MINHASH_K_ORACLE // P.MINHASH_BANDS_ORACLE
    tok = _duck_doc_token_hashes(table, shingle_n)
    tokw = _duck_doc_token_hashes(table, shingle_n, wide=True)
    minhash_cols = ", ".join(
        f"MIN(({P.MINHASH_A_ORACLE[i]} * h + {P.MINHASH_B_ORACLE[i]}) % {P.HASH_P}) AS m{i}"
        for i in range(P.MINHASH_K_ORACLE)
    )
    band_cols = ", ".join(
        " || '-' || ".join(f"CAST(m{b * r + j} AS VARCHAR)" for j in range(r))
        + f" AS band{b}"
        for b in range(P.MINHASH_BANDS_ORACLE)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bands"
        for b in range(P.MINHASH_BANDS_ORACLE)
    )
    return f"""
    WITH tok0 AS ({tok}),
    tokw AS ({tokw}),
    doc_sets AS (SELECT doc_id, list_sort(list(DISTINCT h)) AS hs
                 FROM tokw GROUP BY doc_id),
    doc_sig AS (SELECT doc_id, md5(array_to_string(hs, ',')) AS sig
                FROM doc_sets),
    classes AS (SELECT sig, MIN(doc_id) AS rep FROM doc_sig GROUP BY sig),
    star AS (
        SELECT c.rep AS doc_a, d.doc_id AS doc_b
        FROM doc_sig d JOIN classes c ON d.sig = c.sig
        WHERE d.doc_id <> c.rep
    ),
    reps AS (SELECT rep AS doc_id FROM classes),
    sigs AS (SELECT t.doc_id, {minhash_cols}
             FROM tok0 t JOIN reps USING (doc_id) GROUP BY t.doc_id),
    bands AS (SELECT doc_id, {band_cols} FROM sigs),
    stacked AS ({band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM stacked a JOIN stacked b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    bridges AS (
        SELECT cand.doc_a, cand.doc_b
        FROM cand
        JOIN doc_sets a ON a.doc_id = cand.doc_a
        JOIN doc_sets b ON b.doc_id = cand.doc_b
        WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                  / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
              >= {threshold}
    )
    SELECT doc_a, doc_b FROM star
    UNION ALL
    SELECT doc_a, doc_b FROM bridges
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


_I64_MIN = -(1 << 63)


def _sim_bit_term(j: int):
    """Spark column adding bit j to the assembled signed-64 fingerprint.

    Bit 63 is the two's-complement sign bit: its term is -2^63 (the partial
    sums never overflow — bits 0..62 total at most 2^63-1, and adding -2^63
    lands in range).  The sign test reads the round-10 bit-count columns:
    s_j > 0  ⟺  2*c_j > n (s_j = ones − zeros = 2*c_j − n, exact)."""
    weight = _I64_MIN if j == 63 else (1 << j)
    return F.when(
        F.col(f"c{j}") * 2 > F.col("_n"), F.lit(weight).cast("long")
    ).otherwise(F.lit(0).cast("long"))


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over word occurrences (multiplicity-weighted).

    The engine-neutral char-fold hash carries 31 bits, so the 64 fingerprint
    bits come from four affine chunk transforms g_i = (A_i*h + B_i) mod P
    (functions/portable.py): bit j reads bit (j mod 16) of chunk (j div 16).
    One groupBy computes all 64 bit-balance sums as plain SUM aggregates —
    single shuffle, whole-stage codegen, no UDFs.
    """
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    exploded = (
        _spread_small_scan(docs)
        .select(F.col("doc_id").cast("long").alias("doc_id"), words.alias("ws"))
        .select("doc_id", F.explode("ws").alias("w"))
        .select("doc_id", P.spark_str_hash(F.col("w")).alias("h"))
        .select(
            "doc_id",
            *[
                ((F.lit(P.SIMHASH_A[i]) * F.col("h") + F.lit(P.SIMHASH_B[i])) % P.HASH_P).alias(f"g{i}")
                for i in range(P.SIMHASH_N_CHUNKS)
            ],
        )
    )
    # Round-10 reformulation (identical outputs, leaner aggregate): the
    # per-bit balance s_j = (#ones - #zeros) only ever feeds the SIGN test
    # s_j > 0, and with c_j = #ones over n tokens, s_j = 2*c_j - n — so
    # summing the raw extracted bit (no per-row CASE) plus ONE shared
    # count gives the same sign via 2*c_j > n, exactly, in integers.
    # Halves the per-row expression work of the 64-way aggregate.
    bit_sums = [
        F.sum(
            F.shiftright(
                F.col(f"g{j // P.SIMHASH_CHUNK_BITS}"), j % P.SIMHASH_CHUNK_BITS
            ).bitwiseAND(F.lit(1))
        ).alias(f"c{j}")
        for j in range(P.SIMHASH_BITS)
    ]
    agg = exploded.groupBy("doc_id").agg(
        *bit_sums, F.count(F.lit(1)).alias("_n")
    )
    sim = None
    for j in range(P.SIMHASH_BITS):
        term = _sim_bit_term(j)
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4  # pigeonhole: hamming <= BANDS-1 guarantees a shared band


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, found WITHOUT the
    O(n^2) cross join: split each 64-bit fingerprint into ``n_bands``
    equal-width bands; any pair within ``max_hamming <= n_bands - 1`` bit
    flips must share at least one identical band (pigeonhole), so an
    equi-join on (band_index, band_value) produces a complete candidate set,
    then exact ``bit_count(xor)`` verifies.

    Scale shape: at the default 4 bands the band width is 64/4 = 16 bits, so
    each band hashes docs into 65,536 buckets; expected bucket population at
    N docs is N/65536 per band and the within-bucket self-join stays
    near-linear (at 10^9 docs: ~15k docs/bucket -> ~10^8 comparisons/bucket
    worst-case uniform, spread over 65k parallel buckets).  A larger hamming
    budget needs more bands (``n_bands=8`` -> 8-bit bands, hamming <= 7) and
    pays with coarser buckets — the pigeonhole bound, not the bit width, is
    the dial.  Remaining hazard is a HOT band value (boilerplate docs
    sharing a chunk); that is join-key skew, handled by AQE skew-join
    splitting, and the bucket-size test in tests/test_llmdata_ops.py bounds
    it on real data.
    Parity model: reference dedup stage (SURVEY §2 EXT); no simhash exists
    in the reference — this is the training-data extension surface.
    """
    if P.SIMHASH_BITS % n_bands:
        raise ValueError(f"n_bands must divide {P.SIMHASH_BITS}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole guarantee broken: max_hamming={max_hamming} needs "
            f">= {max_hamming + 1} bands, got {n_bands}"
        )
    band_bits = P.SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    keys = [
        F.shiftright(F.col("simhash"), j * band_bits).bitwiseAND(F.lit(mask))
        for j in range(n_bands)
    ]
    # pin the fingerprint table (lazy localCheckpoint): both sides of the
    # candidate self-join read it, and without pinning the tokenize + 64-sum
    # subtree executes twice; fingerprints are 8 bytes/doc — the persisted-
    # artifact shape a production near-dup pipeline uses anyway
    fp = simhash_fingerprints(docs).localCheckpoint(eager=False)
    cand = band_self_join(
        stack_bands(fp, "doc_id", keys, carry=["simhash"]),
        "doc_id",
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("sim_a"),
        F.col("b.simhash").alias("sim_b"),
    ).dropDuplicates(["doc_a", "doc_b"])
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_neardup_pairs_sql(
    table: str = "documents",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_bands: int = SIMHASH_BANDS,
) -> str:
    band_bits = P.SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    band_list = ", ".join(str(j) for j in range(n_bands))
    return f"""
    WITH fp AS ({simhash_fingerprints_sql(table)}),
    bands AS (
        SELECT doc_id, simhash, j.band,
               (simhash >> (j.band * {band_bits})) & {mask} AS band_val
        FROM fp CROSS JOIN (SELECT unnest([{band_list}]) AS band) j
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
    """


def simhash_fingerprints_sql(table: str = "documents") -> str:
    words = P.duck_words(P.duck_norm_text("text"))
    h = P.duck_str_hash("w")
    chunks = ", ".join(
        f"({P.SIMHASH_A[i]} * h + {P.SIMHASH_B[i]}) % {P.HASH_P} AS g{i}"
        for i in range(P.SIMHASH_N_CHUNKS)
    )
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (g{j // P.SIMHASH_CHUNK_BITS} >> {j % P.SIMHASH_CHUNK_BITS})"
        f" & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(P.SIMHASH_BITS)
    )
    # Bit 63's weight is -2^63 (two's-complement sign bit); spelled as
    # min-bigint arithmetic because the bare literal parses as HUGEINT.
    assemble = " + ".join(
        f"CASE WHEN s{j} > 0 THEN "
        + (
            "(CAST(-9223372036854775807 AS BIGINT) - 1)"
            if j == 63
            else f"CAST({1 << j} AS BIGINT)"
        )
        + " ELSE CAST(0 AS BIGINT) END"
        for j in range(P.SIMHASH_BITS)
    )
    return f"""
    WITH exploded AS (
        SELECT doc_id, {chunks}
        FROM (SELECT doc_id, {h} AS h
              FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({words}) AS w
                    FROM {table}))
    ),
    bit_sums AS (SELECT doc_id, {bit_sums} FROM exploded GROUP BY doc_id)
    SELECT doc_id, {assemble} AS simhash FROM bit_sums
    """


# ---------------------------------------------------------------------------
# Incremental dedup (new batch vs. seen-corpus index)
# ---------------------------------------------------------------------------


def incremental_dedup(
    new_docs: DataFrame, seen_index: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against the accumulated corpus without rescanning
    it: ``seen_index`` is the (fingerprint) relation of everything already
    admitted; returns (admitted_docs, updated_index).

    The daily-ingest shape at 100 TB: per batch, one fingerprint shuffle
    within the batch (first doc_id wins) plus one anti-join against the
    index — the index is fingerprints only (32-byte md5 per admitted doc),
    so it stays orders of magnitude smaller than the corpus and can be
    bucketed by fingerprint for a shuffle-free join.  The returned index is
    the union (old + newly admitted); persist it as the next batch's input.
    """
    norm = P.spark_norm_text(F.col("text"))
    fp = new_docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(norm).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    batch_first = (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if seen_index is not None:
        admitted = batch_first.join(seen_index, "fingerprint", "left_anti")
    else:
        admitted = batch_first
    updated_index = (
        admitted.select("fingerprint")
        if seen_index is None
        else seen_index.select("fingerprint").unionAll(admitted.select("fingerprint"))
    )
    return admitted.select("doc_id", "fingerprint"), updated_index


INCREMENTAL_NEW_MOD = 5  # registry carve-out: doc_id % 5 == 0 is the "new batch"


def incremental_dedup_admitted(
    new_docs: DataFrame, corpus_docs: DataFrame
) -> DataFrame:
    """Oracle-shaped wrapper over :func:`incremental_dedup`: dedup the new
    batch against an index built from ``corpus_docs`` and return the
    admitted (doc_id, fingerprint) rows as ONE DataFrame — SQL-expressible
    (window + anti-join), so the driver's DuckDB oracle hash-checks the
    whole daily-ingest admission path, not just its unit tests."""
    norm = P.spark_norm_text(F.col("text"))
    seen = corpus_docs.select(F.md5(norm).alias("fingerprint")).distinct()
    admitted, _ = incremental_dedup(new_docs, seen)
    return admitted


def incremental_dedup_admitted_sql(
    table: str = "documents", new_mod: int = INCREMENTAL_NEW_MOD
) -> str:
    norm = P.duck_norm_text("text")
    return f"""
    WITH new_fp AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, md5({norm}) AS fingerprint
        FROM {table} WHERE doc_id % {new_mod} = 0
    ),
    seen AS (
        SELECT DISTINCT md5({norm}) AS fingerprint
        FROM {table} WHERE doc_id % {new_mod} <> 0
    ),
    batch_first AS (
        SELECT doc_id, fingerprint FROM (
            SELECT doc_id, fingerprint,
                   ROW_NUMBER() OVER (PARTITION BY fingerprint
                                      ORDER BY doc_id) AS rn
            FROM new_fp
        ) WHERE rn = 1
    )
    SELECT b.doc_id, b.fingerprint
    FROM batch_first b ANTI JOIN seen s USING (fingerprint)
    """


def incremental_neardup_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    shingle_n: int = 1,
    threshold: float = 0.9,
    k: int = P.MINHASH_K,
    n_bands: int = P.MINHASH_BANDS,
    fast_hash: bool = False,
) -> DataFrame:
    """(new_id, corpus_id, jaccard): NEAR-duplicates of the new batch
    against the accumulated corpus — the incremental counterpart of
    :func:`minhash_lsh_pairs`, with a strictly cheaper join shape: band
    keys of the NEW side join the corpus band index, so no old-old (or
    new-new) pair is ever generated and the corpus is never self-joined.

    Daily-ingest shape at 100 TB: the corpus side here recomputes
    signatures for oracle parity, but the production artifact is the
    persisted (band, key, corpus_id) index (signatures are 100-1000x
    smaller than text and already the compute-once block of
    minhash_lsh_pairs); per batch the cost is new-side tokenize+sign (one
    shuffle over the BATCH), one keyed join against the bucketed index
    (shuffle-free if the index is bucketed by (band, key)), and exact
    Jaccard confirms only on candidates.  Contract: doc_id spaces of the
    two inputs must be disjoint (the registry query carves one table by
    doc_id % INCREMENTAL_NEW_MOD).

    Candidate banding and the Jaccard confirm are the deterministic
    portable primitives, so the oracle hash-checks the full output.
    """
    if k % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide k={k}")
    r = k // n_bands

    # one tokenize pass per SIDE for both hash widths (round-8 fusion,
    # same shape as minhash_lsh_pairs)
    tok_new = _doc_token_hashes_both(new_docs, shingle_n, fast_hash).localCheckpoint(
        eager=False
    )
    tok_corpus = _doc_token_hashes_both(
        corpus_docs, shingle_n, fast_hash
    ).localCheckpoint(eager=False)

    def _stack(tok2: DataFrame, out_id: str) -> DataFrame:
        sigs = tok2.groupBy("doc_id").agg(*_signature_aggs(k))
        return _band_stack(sigs, r, n_bands, out_id)

    cand = (
        _stack(tok_new, "new_id")
        .join(_stack(tok_corpus, "corpus_id"), ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )

    def _sets(tok2: DataFrame, out_id: str, out_hs: str) -> DataFrame:
        # wide column: confirm keys never feed affine transforms (round-8,
        # same rationale as minhash_lsh_pairs); unsorted (round-10) — only
        # size()/array_intersect() consume these arrays
        return (
            tok2.groupBy("doc_id")
            .agg(F.collect_set("hw").alias(out_hs))
            .withColumnRenamed("doc_id", out_id)
        )

    sa = _sets(tok_new, "new_id", "hs_a")
    sb = _sets(tok_corpus, "corpus_id", "hs_b")
    return _confirm_jaccard(cand, sa, sb, "new_id", "corpus_id", threshold)


def incremental_neardup_pairs_sql(
    table: str = "documents",
    shingle_n: int = 1,
    threshold: float = 0.9,
    new_mod: int = INCREMENTAL_NEW_MOD,
) -> str:
    """DuckDB mirror at the ORACLE dial; new batch = doc_id % new_mod == 0."""
    r = P.MINHASH_K_ORACLE // P.MINHASH_BANDS_ORACLE
    tok = _duck_doc_token_hashes(table, shingle_n)
    tokw = _duck_doc_token_hashes(table, shingle_n, wide=True)
    minhash_cols = ", ".join(
        f"MIN(({P.MINHASH_A_ORACLE[i]} * h + {P.MINHASH_B_ORACLE[i]}) % {P.HASH_P}) AS m{i}"
        for i in range(P.MINHASH_K_ORACLE)
    )
    band_cols = ", ".join(
        " || '-' || ".join(f"CAST(m{b * r + j} AS VARCHAR)" for j in range(r))
        + f" AS band{b}"
        for b in range(P.MINHASH_BANDS_ORACLE)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM bands"
        for b in range(P.MINHASH_BANDS_ORACLE)
    )
    return f"""
    WITH tok0 AS ({tok}),
    tokw AS ({tokw}),
    sigs AS (SELECT doc_id, {minhash_cols} FROM tok0 GROUP BY doc_id),
    bands AS (SELECT doc_id, {band_cols} FROM sigs),
    stacked AS ({band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
        FROM stacked a JOIN stacked b
          ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id % {new_mod} = 0 AND b.doc_id % {new_mod} <> 0
    ),
    doc_sets AS (SELECT doc_id, list_sort(list(DISTINCT h)) AS hs
                 FROM tokw GROUP BY doc_id)
    SELECT cand.new_id, cand.corpus_id,
           CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
               / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jaccard
    FROM cand
    JOIN doc_sets a ON a.doc_id = cand.new_id
    JOIN doc_sets b ON b.doc_id = cand.corpus_id
    WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
              / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
          >= {threshold}
    """


# ---------------------------------------------------------------------------
# Exact-substring duplication (long shared n-gram pairs)
# ---------------------------------------------------------------------------


def exact_substring_pairs(
    docs: DataFrame,
    min_gram_words: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_grams): document pairs sharing at least one
    word n-gram of ``min_gram_words`` — the distributable core of
    exact-substring deduplication (the suffix-array dedup family): a long
    verbatim shared run implies copied text regardless of the documents'
    overall Jaccard, which near-dup banding can miss entirely for a long
    doc quoting a short one.

    Shape: inverted index on the gram hash (distinct grams per doc), then
    the posting-list self-join — candidate volume is bounded by gram
    collisions, which at production n (8-13 words) only real copies
    produce.  Hot-gram hazard (boilerplate headers) is the same posting-
    list skew story as ngram_jaccard_pairs: AQE skew split plus
    ``max_doc_freq`` — grams in more than that many documents (boilerplate)
    are dropped before the join (the standard suffix-dedup preprocessing;
    None = exact, the oracle-parity default).
    """
    # posting-table checkpoint: both sides of the self-join re-scan and
    # re-shingle the text otherwise (same fix as ngram_jaccard_pairs).
    # md5 gram keys (wide=True): "pairs sharing a VERBATIM n-gram" is an
    # exactness CLAIM — the round-7 sf1 probe caught the narrow 31-bit
    # keys fabricating 70 pairs from birthday collisions at only 50k docs.
    tok = _cap_hot_tokens(
        _doc_token_hashes(docs, min_gram_words, wide=True), max_doc_freq
    ).localCheckpoint()
    a = tok.select(F.col("doc_id").alias("doc_a"), "h")
    b = tok.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def exact_substring_pairs_sql(
    table: str = "documents", min_gram_words: int = 8
) -> str:
    tok = _duck_doc_token_hashes(table, min_gram_words, wide=True)
    return f"""
    WITH tok AS ({tok})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM tok a JOIN tok b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# Shared-span REMOVAL (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better", arXiv:2107.06499): substring-level dedup does
# not drop whole documents — it excises the duplicated SPANS and keeps the
# unique remainder.  Harness semantics: a word position is covered if any
# SPAN_N-word window containing it also occurs in ANOTHER document; covered
# positions are removed and the survivors rejoin in order.
#
# Scale shape: gram hash -> distinct-doc count is one gram-keyed shuffle
# (the same inverted index as exact_substring_pairs, reusing its
# max_doc_freq hot-token discipline upstream if needed); covered-position
# expansion is explode(sequence(i, i+n-1)) — bounded by n x shared-gram
# occurrences; the rebuild is one doc_id-keyed collect of surviving
# (pos, word) pairs.  No all-pairs join anywhere — the operator never
# materializes WHICH documents share a span, only THAT a span is shared.
# ---------------------------------------------------------------------------

SPAN_N = 5


def remove_shared_spans(docs: DataFrame, n: int = SPAN_N) -> DataFrame:
    """(doc_id, n_words, n_removed, clean_text): every word position
    covered by an n-gram that appears in >= 2 DISTINCT documents is
    removed; ``clean_text`` is the surviving words joined in order (may be
    empty for fully-duplicated docs).  Deterministic: positions, not
    hashes, decide the rebuild order."""
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), words.alias("ws")
    ).select(
        "doc_id", F.filter(F.col("ws"), lambda w: w != "").alias("ws")
    )
    pos_words = base.select(
        "doc_id", F.posexplode("ws").alias("pos", "w")
    )
    # gram-hash checkpoint: grams feeds the shared-gram df aggregate AND
    # the covered-position expansion — unchecked, each re-derivation
    # re-scans and re-shingles the corpus (scan audit: 4 text-bearing
    # scans; pos_words + grams = the 2-scan floor after this and the
    # pruned id-scan below)
    grams = base.select(
        "doc_id",
        F.posexplode(P.spark_word_shingles(F.col("ws"), n)).alias("i", "g"),
    ).select("doc_id", "i", F.md5("g").alias("gh")).localCheckpoint()
    shared = (
        grams.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("gh")
    )
    # checkpointed: covered feeds the survivor anti-join AND the n_removed
    # count; (doc_id, pos) int pairs, same bytes as its own distinct shuffle
    covered = (
        grams.join(shared, "gh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
        .localCheckpoint()
    )
    survivors = (
        pos_words.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # doc list from a TEXT-PRUNED scan (doc_id column only); n_words is
    # reconstructed as kept + covered — survivors and covered both sit
    # behind the grams checkpoint, so no third text-bearing scan exists
    # (len(ws) == n_kept + n_covered: every position is in exactly one set)
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_cov = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    return (
        ids.join(survivors, "doc_id", "left")
        .join(n_cov, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
                + F.coalesce(F.col("n_removed"), F.lit(0).cast("long"))
            ).alias("n_words"),
            F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias(
                "n_removed"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def remove_shared_spans_sql(table: str = "documents", n: int = SPAN_N) -> str:
    nt = P.duck_norm_text("text")
    shingles = P.duck_word_shingles("ws", n)
    return f"""
    WITH base AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               list_filter({P.duck_words('nt')}, w -> w <> '') AS ws
        FROM (SELECT doc_id, {nt} AS nt FROM {table})
    ),
    pos_words AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS w
        FROM base, unnest(range(1, len(ws) + 1)) AS t(i)
    ),
    grams AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS i, md5(gs[i]) AS gh
        FROM (SELECT doc_id, {shingles} AS gs FROM base),
             unnest(range(1, len(gs) + 1)) AS t(i)
    ),
    shared AS (
        SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM grams)
        GROUP BY gh HAVING COUNT(*) >= 2
    ),
    covered AS (
        SELECT DISTINCT g.doc_id, CAST(g.i + o AS BIGINT) AS pos
        FROM grams g JOIN shared s USING (gh),
             unnest(range(0, {n})) AS t(o)
    ),
    survivors AS (
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(p.w, ' ' ORDER BY p.pos) AS clean_text
        FROM pos_words p
        LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.pos
        WHERE c.pos IS NULL
        GROUP BY p.doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.ws) AS BIGINT) AS n_words,
           CAST(len(b.ws) - COALESCE(s.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(s.clean_text, '') AS clean_text
    FROM base b LEFT JOIN survivors s USING (doc_id)
    """


def ngram_containment_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Ordered (doc_a, doc_b, containment) pairs where ``containment`` =
    |grams(a) ∩ grams(b)| / |grams(a)| >= threshold — the ASYMMETRIC
    companion to :func:`ngram_jaccard_pairs`.

    Jaccard misses doc-in-doc structure: a short document quoted whole
    inside a much larger one has tiny Jaccard but containment ~1.0, which
    is exactly the quote/boilerplate/wrapper-page signal an LLM curation
    pass wants (the "contained" doc adds no novel text).  Emits BOTH
    directions of each overlapping pair whose ratio clears the threshold,
    so consumers can distinguish a⊂b from b⊂a.

    Scale: identical shape to the Jaccard join — one inverted-index
    self-join over (doc, gram-hash) postings computed ONCE per pair (the
    ``doc_a < doc_b`` intersection) and unpivoted into the two directed
    ratios afterward, so the directed output does NOT double the shuffle.
    ``max_doc_freq`` is the same Zipf hot-gram cap (broadcast anti-join).
    """
    tok = _cap_hot_tokens(
        _doc_token_hashes(docs, shingle_n, wide=True), max_doc_freq
    ).localCheckpoint()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("lo"), F.col("b.doc_id").alias("hi"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.select(F.col("doc_id").alias("lo"), F.col("n").alias("n_lo")), "lo")
        .join(sizes.select(F.col("doc_id").alias("hi"), F.col("n").alias("n_hi")), "hi")
    )
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lo").alias("doc_a"),
                    F.col("hi").alias("doc_b"),
                    (F.col("n_common").cast("double") / F.col("n_lo")).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("hi").alias("doc_a"),
                    F.col("lo").alias("doc_b"),
                    (F.col("n_common").cast("double") / F.col("n_hi")).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.containment")
    return directed.filter(F.col("containment") >= threshold)


def ngram_containment_pairs_sql(
    table: str = "documents",
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> str:
    tok = _duck_doc_token_hashes(table, shingle_n, wide=True)
    if max_doc_freq is not None:
        tok = f"""
        SELECT doc_id, h FROM ({tok})
        QUALIFY COUNT(*) OVER (PARTITION BY h) <= {max_doc_freq}
        """
    return f"""
    WITH tok AS ({tok}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS lo, b.doc_id AS hi, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sized AS (
        SELECT lo, hi, n_common, sa.n AS n_lo, sb.n AS n_hi
        FROM inter JOIN sizes sa ON sa.doc_id = lo
                   JOIN sizes sb ON sb.doc_id = hi
    )
    SELECT doc_a, doc_b, containment FROM (
        SELECT lo AS doc_a, hi AS doc_b,
               CAST(n_common AS DOUBLE) / n_lo AS containment FROM sized
        UNION ALL
        SELECT hi AS doc_a, lo AS doc_b,
               CAST(n_common AS DOUBLE) / n_hi AS containment FROM sized
    )
    WHERE containment >= {threshold}
    """


def dedup_method_agreement(docs: DataFrame) -> DataFrame:
    """(method_a, method_b, n_pairs_a, n_pairs_b, n_common): pairwise
    agreement between the three text near-dup detectors at their
    oracle dials — the method-selection diagnostic a pipeline runs before
    committing to one detector (high MinHash/Jaccard agreement with cheap
    SimHash coverage justifies the cheaper method; low agreement says the
    corpus has a dup mode one family misses).  Includes the diagonal
    (method vs itself = its pair count).

    Scale: each detector's pair table is bounded by true near-dup volume;
    the agreement joins run at pair-table size, far below corpus size."""
    methods = {
        "minhash": minhash_lsh_pairs(
            docs, k=P.MINHASH_K_ORACLE, n_bands=P.MINHASH_BANDS_ORACLE
        ),
        "ngram_jaccard": ngram_jaccard_pairs(docs),
        "simhash": simhash_neardup_pairs(docs),
    }
    canon = {
        name: df.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        ).distinct().localCheckpoint()
        for name, df in methods.items()
    }
    spark = docs.sparkSession
    totals = {name: df.count() for name, df in canon.items()}
    out = None
    for na in sorted(canon):
        for nb in sorted(canon):
            if nb < na:
                continue
            common = (
                canon[na].join(canon[nb], ["a", "b"]).count()
                if na != nb
                else totals[na]
            )
            row = spark.createDataFrame(
                [(na, nb, totals[na], totals[nb], common)],
                "method_a string, method_b string, n_pairs_a bigint, "
                "n_pairs_b bigint, n_common bigint",
            )
            out = row if out is None else out.unionAll(row)
    return out


def dedup_method_agreement_sql(table: str = "documents") -> str:
    m = {
        "minhash": minhash_lsh_pairs_sql(table),
        "ngram_jaccard": ngram_jaccard_pairs_sql(table),
        "simhash": simhash_neardup_pairs_sql(table),
    }
    ctes = ",\n".join(
        f"{name} AS (SELECT DISTINCT LEAST(doc_a, doc_b) AS a, "
        f"GREATEST(doc_a, doc_b) AS b FROM ({sql}))"
        for name, sql in m.items()
    )
    selects = []
    names = sorted(m)
    for na in names:
        for nb in names:
            if nb < na:
                continue
            common = (
                f"(SELECT COUNT(*) FROM {na})"
                if na == nb
                else f"(SELECT COUNT(*) FROM {na} JOIN {nb} USING (a, b))"
            )
            selects.append(
                f"SELECT '{na}' AS method_a, '{nb}' AS method_b, "
                f"CAST((SELECT COUNT(*) FROM {na}) AS BIGINT) AS n_pairs_a, "
                f"CAST((SELECT COUNT(*) FROM {nb}) AS BIGINT) AS n_pairs_b, "
                f"CAST({common} AS BIGINT) AS n_common"
            )
    return f"WITH {ctes}\n" + "\nUNION ALL\n".join(selects)


def minhash_estimate_vs_exact(
    docs: DataFrame,
    shingle_n: int = 1,
    threshold: float = 0.9,
    k: int = P.MINHASH_K_ORACLE,
    n_bands: int = P.MINHASH_BANDS_ORACLE,
    fast_hash: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, k_eq, n_common, n_union, est_jaccard, exact_jaccard,
    abs_err): sketch-accuracy report for the MinHash estimator over the
    confirmed near-dup pairs — per pair, how many of the k signature
    components agree (the estimator: E[k_eq/k] = Jaccard) next to the
    exact set Jaccard.  The table a pipeline reads before trusting an
    UNCONFIRMED minhash dial at scale (where the exact-confirm join is the
    cost being traded away).

    Everything is exact integers + one identically-shaped division per
    engine, so the DuckDB mirror is a FULL oracle — no bounds needed.
    Scale shape: the pair set and signature/token tables are the LSH
    operator's own; the report adds two signature joins and two token-set
    joins on pair keys — linear in pairs.
    """
    if k % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide k={k}")
    pairs = minhash_lsh_pairs(
        docs, shingle_n, threshold, k=k, n_bands=n_bands, fast_hash=fast_hash
    ).select("doc_a", "doc_b")
    sigs = minhash_signatures(docs, shingle_n, k, fast_hash).localCheckpoint(
        eager=False
    )
    sig_arr = F.array(*[F.col(f"m{i}") for i in range(k)])
    sa = sigs.select(F.col("doc_id").alias("doc_a"), sig_arr.alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), sig_arr.alias("sig_b"))
    # wide=True: the EXACT side of the accuracy report must not itself be
    # hash-collision-inflated (round-8; narrow stays for sigs/k_eq only)
    tok = _doc_token_hashes(docs, shingle_n, wide=True)
    doc_sets = (
        tok.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hs"))
        .localCheckpoint(eager=False)
    )
    ta = doc_sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    tb = doc_sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    k_eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("long")
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast(
        "long"
    )
    n_union = (
        F.size(F.col("hs_a")) + F.size(F.col("hs_b"))
    ).cast("long") - n_common
    est = F.col("k_eq").cast("double") / F.lit(float(k))
    exact = F.col("n_common").cast("double") / F.col("n_union").cast("double")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            k_eq.alias("k_eq"),
            n_common.alias("n_common"),
            n_union.alias("n_union"),
        )
        .select(
            "doc_a",
            "doc_b",
            "k_eq",
            "n_common",
            "n_union",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def minhash_estimate_vs_exact_sql(
    table: str = "documents",
    shingle_n: int = 1,
    threshold: float = 0.9,
    k: int = P.MINHASH_K_ORACLE,
) -> str:
    tok = _duck_doc_token_hashes(table, shingle_n)
    tokw = _duck_doc_token_hashes(table, shingle_n, wide=True)
    minhash_cols = ", ".join(
        f"MIN(({P.MINHASH_A_ORACLE[i]} * h + {P.MINHASH_B_ORACLE[i]}) % {P.HASH_P}) AS m{i}"
        for i in range(k)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
    WITH pairs AS ({minhash_lsh_pairs_sql(table, shingle_n, threshold)}),
    tok0 AS ({tok}),
    tokw AS ({tokw}),
    sigs AS (SELECT doc_id, {minhash_cols} FROM tok0 GROUP BY doc_id),
    doc_sets AS (SELECT doc_id, list_sort(list(DISTINCT h)) AS hs
                 FROM tokw GROUP BY doc_id),
    rep AS (
        SELECT p.doc_a, p.doc_b,
               CAST({eq_sum} AS BIGINT) AS k_eq,
               CAST(len(list_intersect(ta.hs, tb.hs)) AS BIGINT) AS n_common,
               CAST(len(ta.hs) + len(tb.hs)
                    - len(list_intersect(ta.hs, tb.hs)) AS BIGINT) AS n_union
        FROM pairs p
        JOIN sigs a ON a.doc_id = p.doc_a
        JOIN sigs b ON b.doc_id = p.doc_b
        JOIN doc_sets ta ON ta.doc_id = p.doc_a
        JOIN doc_sets tb ON tb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, k_eq, n_common, n_union,
           CAST(k_eq AS DOUBLE) / {float(k)} AS est_jaccard,
           CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS exact_jaccard,
           abs(CAST(k_eq AS DOUBLE) / {float(k)}
               - CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE)) AS abs_err
    FROM rep
    ORDER BY doc_a, doc_b
    """


SELF_SPAN_N = 3


def remove_self_repetition(docs: DataFrame, n: int = SELF_SPAN_N) -> DataFrame:
    """(doc_id, n_words, n_removed, clean_text): WITHIN-document repetition
    excision — every word position covered by an n-gram occurrence whose
    same-document FIRST occurrence is earlier gets removed; the first
    occurrence survives intact.  The in-document analog of
    ``remove_shared_spans`` (Lee et al. 2022 semantics applied to
    self-repeats): boilerplate loops, template spam and decoding
    degeneracies repeat inside one document where cross-doc dedup never
    looks — Gopher's repetition QUALITY GATES (repetition_signals) flag
    such docs; this operator is the salvage path that keeps the unique
    prefix instead of dropping the document.

    Scale shape: one (doc, gram)-keyed min aggregate + join back (both
    shuffles carry (doc_id, hash, pos) ints), position expansion bounded
    by n x repeats, survivors rebuilt per doc.  No self-join, nothing
    quadratic; deterministic by construction (positions decide)."""
    words = P.spark_words(P.spark_norm_text(F.col("text")))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), words.alias("ws")
    ).select("doc_id", F.filter(F.col("ws"), lambda w: w != "").alias("ws"))
    pos_words = base.select("doc_id", F.posexplode("ws").alias("pos", "w"))
    grams = (
        base.select(
            "doc_id",
            F.posexplode(P.spark_word_shingles(F.col("ws"), n)).alias("i", "g"),
        )
        .select("doc_id", "i", F.md5("g").alias("gh"))
        .localCheckpoint(eager=False)  # feeds firsts AND the repeat join
    )
    firsts = grams.groupBy("doc_id", "gh").agg(F.min("i").alias("i0"))
    covered = (
        grams.join(firsts, ["doc_id", "gh"])
        .filter(F.col("i") > F.col("i0"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))).alias(
                "pos"
            ),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds the anti-join AND n_removed
    )
    survivors = (
        pos_words.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_cov = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        ids.join(survivors, "doc_id", "left")
        .join(n_cov, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
                + F.coalesce(F.col("n_removed"), F.lit(0).cast("long"))
            ).alias("n_words"),
            F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias(
                "n_removed"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def remove_self_repetition_sql(
    table: str = "documents", n: int = SELF_SPAN_N
) -> str:
    nt = P.duck_norm_text("text")
    shingles = P.duck_word_shingles("ws", n)
    return f"""
    WITH base AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               list_filter({P.duck_words('nt')}, w -> w <> '') AS ws
        FROM (SELECT doc_id, {nt} AS nt FROM {table})
    ),
    pw AS (
        SELECT doc_id,
               CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos,
               unnest(ws) AS w
        FROM base
    ),
    grams AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS i, md5(g) AS gh
        FROM (SELECT doc_id,
                     generate_subscripts(gs, 1) AS i,
                     unnest(gs) AS g
              FROM (SELECT doc_id, {shingles} AS gs FROM base))
    ),
    firsts AS (
        SELECT doc_id, gh, MIN(i) AS i0 FROM grams GROUP BY doc_id, gh
    ),
    covered AS (
        SELECT DISTINCT g.doc_id, g.i + off.o AS pos
        FROM grams g
        JOIN firsts f ON g.doc_id = f.doc_id AND g.gh = f.gh AND g.i > f.i0
        CROSS JOIN (SELECT unnest(range(0, {n})) AS o) off
    ),
    survivors AS (
        SELECT pw.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(pw.w, ' ' ORDER BY pw.pos) AS clean_text
        FROM pw
        LEFT JOIN covered c ON pw.doc_id = c.doc_id AND pw.pos = c.pos
        WHERE c.doc_id IS NULL
        GROUP BY pw.doc_id
    ),
    n_cov AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
        FROM covered GROUP BY doc_id
    )
    SELECT ids.doc_id,
           COALESCE(s.n_kept, 0) + COALESCE(nc.n_removed, 0) AS n_words,
           COALESCE(nc.n_removed, 0) AS n_removed,
           COALESCE(s.clean_text, '') AS clean_text
    FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM {table}) ids
    LEFT JOIN survivors s ON ids.doc_id = s.doc_id
    LEFT JOIN n_cov nc ON ids.doc_id = nc.doc_id
    ORDER BY ids.doc_id
    """
