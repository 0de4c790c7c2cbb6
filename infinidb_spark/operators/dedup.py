"""Deduplication operators for document corpora.

Four tiers, all pure DataFrame/Catalyst expressions (no Python UDFs —
shingling, hashing, MinHash, SimHash all run in whole-stage codegen):

* exact         — hash-groupBy on normalized content
* MinHash + LSH — near-dup pair mining: shingle → minhash → band →
                  bucket-join → exact-Jaccard verify
* SimHash       — 64-bit sign fingerprint; equal-fingerprint buckets
* n-gram Jaccard — exact set similarity for candidate verification

Scale design (100 TB): the only shuffles are (a) groupBy on a 64-bit
hash (uniform), (b) the LSH band-hash self-join whose key cardinality is
#docs × bands / bucket-size — banding keeps bucket sizes small, so the
join never degenerates into a cross product; a ``candidate cap`` guards
against adversarial buckets (identical boilerplate docs).  Nothing
collects to the driver.

Reference note: InfiniDB has no near-dup machinery (flat relational
surface only, SURVEY §1.1) — this family is the capability extension
required of the rebuild; the exact tier reuses the reference's
hash-dedup idea from ``TupleUnion``'s distinct path
(``dbcon/joblist/tupleunion.h:96``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from infinidb_spark.functions.prng import lcg_next

# Deterministic MinHash parameters: h_j(x) = (a_j * x + b_j) mod p, with
# p a Mersenne prime; a/b generated once from a fixed linear-congruential
# sequence so every run (and every executor) agrees.
_MERSENNE_P = (1 << 61) - 1


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism for compute-heavy transforms.

    A small corpus arrives as one file → one partition → one core does
    all the shingling/hashing.  At 100 TB the scan already yields ≥
    parallelism partitions and this is a no-op (no shuffle added).

    The small-input probe counts INPUT FILES (plan metadata, free) —
    never ``df.rdd.getNumPartitions()``, which forces an RDD conversion
    and pins the subtree's plan before AQE can re-plan it.  Non-file
    sources (in-memory test frames) report zero files and pass through.

    Width = ``pin_width`` (max(defaultParallelism,
    spark.sql.shuffle.partitions)) — the same scale knob as the pinned
    repartitions, so a deployment that raises its shuffle width fans
    compute-heavy scans out to match; locally identical (32 = 32).
    """
    target = pin_width(df)
    n_files = len(df.inputFiles())
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def pin_width(df: DataFrame) -> int:
    """Partition count for the explicit pinned-width repartitions.

    The pinned exchanges exist because AQE's BYTE-based partition
    coalescing collapses tiny-bytes/heavy-compute stages (per-pair
    hash-set verifies, per-doc collect_list sorts) to one task — the
    pin keeps them at cluster width.  But ``REPARTITION_BY_NUM`` is
    final: AQE can neither coalesce nor subdivide it, so a hard
    ``defaultParallelism`` (total cores) would CAP the width of these
    shuffles at any scale — at 100 TB that is far too few partitions
    (per-partition state → spill, guide §5).

    Width = max(defaultParallelism, spark.sql.shuffle.partitions): the
    deployment's ordinary shuffle-width knob (sized to the data per
    guide §2.2, e.g. 2-3× cores or bytes/256 MB) raises the pins
    together with every other exchange, while the local default
    (shuffle.partitions = max(cpus, 8)) keeps bench plans identical on
    this box.  Skew is handled separately: no pinned exchange may key a
    Zipfian-hot value alone (the gram-frequency count salts, see
    ``ngram_jaccard_pairs``); the remaining pins key doc-ids or
    pair-ids, whose per-key row volume is bounded by a single document.
    """
    spark = df.sparkSession
    try:
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        shuffle_p = 0
    return max(spark.sparkContext.defaultParallelism, shuffle_p)


def _hash_params(n: int) -> list[tuple[int, int]]:
    params = []
    state = 0x9E3779B97F4A7C15
    for _ in range(n):
        state = lcg_next(state)
        a = (state % (_MERSENNE_P - 1)) + 1
        state = lcg_next(state)
        b = state % _MERSENNE_P
        params.append((a, b))
    return params


def _sig_params(n_hashes: int) -> list[tuple[int, int]]:
    """The 31-bit signature hash family — THE single source of truth
    shared by ``minhash_lsh_pairs`` and ``minhash_signatures`` so a
    persisted signature store can never drift from the batch pipeline
    (same seed → same minima; the incremental contract)."""
    p31 = (1 << 31) - 1
    return [((a % (p31 - 1)) + 1, b % p31) for a, b in _hash_params(n_hashes)]


def md5_hash56(col: Column) -> Column:
    """56-bit md5-derived portable hash (first 14 hex chars → BIGINT) —
    THE shared expression for every portable=True integer-hash path
    (CMS buckets, dataset split buckets, document fingerprints, window
    hashes); any SQL engine reproduces it literally.  The 28-bit
    shingle variant lives in _shingle_hash_expr; a drifting copy of
    either breaks cross-engine hash verification silently."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint")


def _shingle_hash_expr(shingle: Column, portable_hash: bool) -> Column:
    """Shingle → int64 hash; portable mode = md5-derived (< 2^28,
    reproducible in any SQL engine), default = xxhash64.  Shared by the
    batch and incremental pipelines for the same store-compat reason."""
    if portable_hash:
        return F.conv(F.substring(F.md5(shingle), 1, 7), 16, 10).cast("long")
    return F.xxhash64(shingle)


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, strip — the canonical form used by
    every dedup tier so near-dup ≡ same pipeline at different tolerance.

    NULL text normalizes to '' (the empty document): every text metric
    built on this (token_count, stopword_ratio, fingerprints) otherwise
    propagates NULL into size()/ratio expressions that return -1 or
    garbage under null-skipping folds — a NULL-text JSONL row must read
    as an empty doc (0 tokens), not as a -1-token one."""
    return F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " "))


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest-id doc per normalized-content hash.

    One shuffle on sha2(content); survivor choice is deterministic
    (min id).  At 100 TB: hash keys distribute uniformly, AQE coalesces
    the post-agg partitions.
    """
    h = F.sha2(normalize_text(F.col(text_col)), 256).alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def shingle_array(t: Column, k: int) -> Column:
    """All overlapping character k-shingles of ``t`` as an array, in ONE
    O(len) regex pass: ``(?s)(?=(.{k}))`` captures the k chars starting
    at every position (lookahead, so the matcher advances one char per
    match).  THE shared shingle extractor for every shingling pipeline.

    Replaces the per-position ``substring(t, i, k)`` formulation, which
    is O(position) per call on UTF8String (UTF-8 is variable-width, so
    Spark re-walks the prefix on every extraction) — O(len²) per
    document overall, measured 10 CPU-s vs ~1 for this form on the
    sf0.1 corpus (guide §1/§2: per-task work on the scan stage).

    Exact equivalence with the substring form (pinned in
    tests/test_pipeline.py): documents shorter than ``k`` yield ONE
    partial shingle = the whole text ('' for empty docs, [NULL] for
    NULL input); ``(?s)`` makes ``.`` match line terminators so
    non-normalized inputs shingle identically too.  The trailing
    consumed ``.`` is load-bearing for astral characters: after a
    zero-width lookahead match Java's matcher advances one code UNIT,
    which lands inside a surrogate pair and emits a bogus
    lone-surrogate shingle; consuming one code point per match keeps
    every start position on a code-point boundary, matching
    ``substring``'s code-point indexing.

    Memory tradeoff: the full k-shingle array (~k × document bytes) is
    materialized per row before the caller's explode, where the old
    form exploded an int position sequence and built one shingle per
    generated row.  Fine for web/corpus documents (KB-scale); for
    multi-MB documents cap or chunk the text upstream (the corpus
    loaders here never produce such rows).
    """
    return F.when(
        F.length(t) >= k,
        F.regexp_extract_all(t, F.lit(f"(?s)(?=(.{{{k}}}))."), F.lit(1)),
    ).otherwise(F.array(F.substring(t, F.lit(1), F.lit(k))))


def shingles(col: Column, k: int = 5, pre_normalized: bool = False) -> Column:
    """Character k-shingle array of normalized text (distinct).

    One regex pass per document (``shingle_array``); still pass an
    already-materialized normalized column with ``pre_normalized=True``
    so the normalization regex itself is not re-evaluated per reference.
    """
    t = col if pre_normalized else normalize_text(col)
    return F.array_distinct(shingle_array(t, k))


def minhash_signature(hashed_col: Column, n_hashes: int = 64) -> Column:
    """MinHash signature: array of n minima of (a*h+b) mod p over an
    already-hashed shingle array (materialize ``xxhash64`` per shingle
    into its own column first — otherwise each of the n transforms
    re-hashes every shingle).

    Uses the SAME 31-bit hash family as the exploded-rows pipelines
    (``_sig_params``; h masked to 31 bits so a*h+b stays inside int64)
    — signatures from this array form are therefore store-compatible
    with ``minhash_signatures``.  The previous 61-bit form silently
    OVERFLOWED int64 in the product (a < 2^61 times h < 2^62) and
    returned wrong, even negative, minima."""
    p31 = (1 << 31) - 1
    sig = []
    for a, b in _sig_params(n_hashes):
        sig.append(
            F.array_min(
                F.transform(
                    hashed_col,
                    lambda h: (F.lit(a) * h.bitwiseAND(F.lit(p31)) + F.lit(b))
                    % F.lit(p31),
                )
            )
        )
    return F.array(*sig)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
    candidate_cap: int = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verify.

    Plan shape (the scale path) — the EXPLODED formulation: higher-order
    array lambdas (``transform``/``aggregate``) are evaluated interpreted
    in Spark (HigherOrderFunction is outside whole-stage codegen — a
    measured ~10× penalty on this operator), so shingles live as ROWS,
    not arrays, and everything stays in codegen'd aggregates:

      1. explode normalized text to (doc, shingle-hash) rows — no
         shuffle (duplicates don't change minima, so no distinct here);
      2. ONE ``groupBy(id)`` computes all n signature minima as plain
         ``min((a_j*h+b_j) mod p)`` aggregate expressions — partial
         aggregation map-side, so the shuffle carries ~n longs per doc,
         not per shingle;
      3. band the signature and group docs per (band, band-hash) bucket —
         ONE shuffle, candidate pairs exploded from each bucket's id
         list; the skew guard is a plain ``size(ids) <= candidate_cap``
         filter — adversarial boilerplate buckets are SILENTLY dropped
         (the bounded-work contract; no log line exists because the
         count is only known executor-side).  Callers who must account
         for the drops re-run the banded groupBy with a
         ``size > candidate_cap`` filter, or raise ``candidate_cap``;
         no anti-join, no second shuffle of the banded relation;
      4. exact Jaccard over ``collect_set`` shingle arrays built ONLY for
         docs that appear in a candidate pair (array_intersect on a few
         hundred rows is noise; the corpus-wide relation is never
         array-ified).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    The signature hash family is 31-bit ((a*h+b) mod 2^31−1 with
    a,b < 2^31 and h masked to 31 bits) so products stay within int64 in
    codegen; the shingle-hash relation keeps full 64-bit xxhash64 for
    dedup and verification.

    ``portable_hash=True`` swaps the engine-specific primitives for ones
    every SQL engine shares — shingle hash = first 7 hex chars of md5 as
    an int (< 2^28), band bucket key = the '_'-joined minima string
    instead of an xxhash64 — making the WHOLE pipeline reproducible as
    plain SQL (the DuckDB oracle uses this mode).  Same plan shape;
    xxhash64 stays the fast default.
    """
    r = n_hashes // bands
    p31 = (1 << 31) - 1
    params = _sig_params(n_hashes)

    # (doc, shingle-hash) rows (with duplicates): consumed exactly ONCE,
    # by the signature aggregation — the verification stage re-shingles
    # only the candidate docs from source text (a broadcast-filtered
    # scan), so the corpus-wide relation is never cached, checkpointed,
    # or traversed twice.  Zero executor storage held at any scale.
    # Shingle extraction is ONE O(len) regex pass per doc
    # (``shingle_array``), not per-position substring — see its
    # docstring for the measured O(len²) cost of the substring form.
    h_expr = _shingle_hash_expr(F.col("_s"), portable_hash)

    def _shingle_rows(src: DataFrame) -> DataFrame:
        return (
            src.select(
                F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_t")
            )
            .select(
                "_id",
                F.explode(shingle_array(F.col("_t"), shingle_k)).alias("_s"),
            )
            .select("_id", h_expr.alias("_h"))
        )

    ex = _shingle_rows(fan_out(df))

    # F.expr strings, not stacked Column operators: each Column op is a
    # py4j round-trip, and 16 min-aggs × ~8 ops cost ~0.3 s of DRIVER
    # time per query build (measured; the executed plan is identical).
    # One parsed expression per aggregate keeps plan construction O(n)
    # cheap calls.  L suffixes pin bigint literals in either ANSI mode;
    # products stay < 2^62 by the 31-bit construction.
    sig_aggs = [
        F.expr(f"min(({a}L * (_h & {p31}L) + {b}L) % {p31}L)").alias(f"_m{j}")
        for j, (a, b) in enumerate(params)
    ]
    # the expensive node: one codegen'd aggregation producing the
    # signature minima (duplicate shingles don't affect a min).
    base = ex.groupBy("_id").agg(*sig_aggs)

    def _band_key(i: int) -> str:
        cols = ", ".join(f"_m{i * r + k}" for k in range(r))
        if portable_hash:
            return f"concat_ws('_', {cols})"
        return f"xxhash64({i}, {cols})"

    band_cols = F.expr(f"array({', '.join(_band_key(i) for i in range(bands))})")
    # Bucket docs per (band, band-hash) — one shuffle; pairs explode out
    # of each bucket's id list.  size(ids) caps adversarial buckets
    # (near-identical boilerplate) — the skew guard, with no anti-join.
    banded = base.select("_id", F.posexplode(band_cols).alias("band_id", "band_hash"))
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.collect_list("_id").alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= candidate_cap))
    )
    # Candidate pairs are TINY relative to the corpus (bounded by
    # bucket-size cap × buckets).  The COMBINATIONS explode (posexplode
    # + slice of the tail) emits each unordered pair once per bucket —
    # half the rows of an explode² + `a < b` filter and no self-pairs;
    # `distinct` then only dedups genuine cross-band repeats.  The
    # relation is consumed twice below but NOT persisted: both consumers
    # sit above the same canonical shuffle exchange (the `distinct`), so
    # ReuseExchange shares one computation within the executed plan —
    # shuffle outputs live in the shuffle layer, not executor storage,
    # and nothing is left cached after the query (lineage stays intact
    # for fault recovery, unlike localCheckpoint).
    # The explicit repartition pins the dedup exchange at cluster width
    # (``pin_width``: max(defaultParallelism, shuffle.partitions), the
    # deployment's shuffle-width knob — see its docstring): its hash
    # partitioning satisfies the distinct's requirement, so it adds NO
    # extra shuffle — but, unlike a bare distinct, AQE cannot coalesce
    # it by byte size.  The verify join runs in the stage reading this
    # exchange, and its rows are tiny-bytes/heavy-compute (one hash-set
    # build per candidate pair): byte-based coalescing collapsed the
    # whole verify to ONE task (measured 462 ms of a 2.2 s query at
    # sf0.1; worse at lower core counts).  Cross-band repeats of a pair
    # live in different band partitions, so the map-side dedup the
    # plain distinct did was already ineffective — shuffle bytes are
    # unchanged.
    n_par = pin_width(df)
    pairs = (
        buckets.select(F.posexplode("_ids").alias("_p", "id_a"), "_ids")
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("_ids"), F.col("_p") + 2, F.size("_ids"))
            ).alias("id_b"),
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .repartition(n_par, "id_a", "id_b")
        .distinct()
    )

    # Exact Jaccard over collect_set shingle arrays, built ONLY for docs
    # in a candidate pair — by RE-SHINGLING those docs from the source
    # relation behind a broadcast id filter.  The candidate set is tiny
    # (bounded by bucket cap × buckets), so this scan reads almost
    # nothing after pushdown; recomputing beats caching the corpus-wide
    # shingle relation for a second pass at every scale.  At 100 TB, if
    # pairs outgrow broadcast, the same joins run shuffled on id keys.
    # candidate ids come from the BUCKET id lists, not the exploded
    # pairs: the same doc set (every id in a >=2 bucket is in >=1 pair)
    # but the broadcast payload is bounded by bands x docs-in-buckets —
    # LINEAR — where the pair-derived form is 2x the pair count, which
    # on boilerplate-heavy corpora (k near-identical docs → ~k²/2 pairs
    # per bucket up to candidate_cap) can blow the broadcast limit.
    # The bucket aggregate's exchange is shared with the pair explosion
    # (ReuseExchange), and the semi join dedups the cross-band repeats,
    # so no extra distinct stage is paid.
    cand_ids = buckets.select(F.explode("_ids").alias("_id"))
    # fan_out here too: the candidate scan is one file → one partition,
    # and this subplan executes INSIDE a broadcast build (a separate,
    # serial job) — without the repartition the whole re-shingle runs
    # single-threaded (measured 1.3 s of a 3.4 s query at sf0.1).
    cand_docs = fan_out(df).join(
        F.broadcast(cand_ids), F.col(id_col) == cand_ids["_id"], "leftsemi"
    )
    # the candidate shingle sets feed BOTH probe joins below through ONE
    # broadcast: both join sides reference the SAME broadcast subplan
    # (bare aliases, no per-side column renames), so the exchanges are
    # canonically identical and ReuseExchange materializes the build
    # once — renaming columns per side (the previous formulation) broke
    # canonical equality and paid the build job twice.
    # _n (the distinct-shingle count) rides along so the verify join
    # never materializes the union set: |A∪B| = |A|+|B|−|A∩B| exactly
    # (collect_set arrays are duplicate-free), which halves the per-pair
    # hash-set builds — array_union built its own OpenHashSet per call,
    # the same cost as the intersect (measured ~2× on the verify stage).
    # same pinned-width trick as the pairs dedup below: the final
    # set-merge is boxed-object-heavy per byte, and AQE's byte-based
    # coalescing ran it (plus the broadcast build above it) on ONE task
    # (measured 225 ms at sf0.1)
    shs = F.broadcast(
        _shingle_rows(cand_docs)
        .repartition(n_par, "_id")
        .groupBy("_id")
        .agg(F.collect_set("_h").alias("_sh"))
        .select("_id", "_sh", F.size("_sh").alias("_n"))
    )
    sa, sb = shs.alias("_sa"), shs.alias("_sb")
    both = (
        pairs.join(sa, F.col("id_a") == F.col("_sa._id"))
        .join(sb, F.col("id_b") == F.col("_sb._id"))
        .select(
            "id_a",
            "id_b",
            F.col("_sa._sh").alias("_sh_a"),
            F.col("_sb._sh").alias("_sh_b"),
            F.col("_sa._n").alias("_n_a"),
            F.col("_sb._n").alias("_n_b"),
        )
    )
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    # the repeated `inter` subtree is eliminated by codegen subexpression
    # elimination within each operator; integer identity keeps the
    # double division bit-identical to the array_union formulation
    union = F.col("_n_a") + F.col("_n_b") - inter
    return (
        both.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 5,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash signature relation ``(id, sig array<long>)`` — the
    PERSISTABLE signature store for incremental dedup.

    At 100 TB the corpus is never re-shingled per batch: signatures are
    computed once per document (~n longs ≪ document size), written as a
    table, and every nightly batch dedups against the store via
    ``minhash_lsh_pairs_incremental``.  Same exploded-codegen plan as
    ``minhash_lsh_pairs`` step 1-2 (one scan, one groupBy); parameters
    must match between store builds and incremental calls (same hash
    family seed → same minima).
    """
    p31 = (1 << 31) - 1
    params = _sig_params(n_hashes)
    ex = (
        fan_out(df)
        .select(F.col(id_col).alias("_id"), normalize_text(F.col(text_col)).alias("_t"))
        .select("_id", F.explode(shingle_array(F.col("_t"), shingle_k)).alias("_s"))
        .select("_id", _shingle_hash_expr(F.col("_s"), portable_hash).alias("_h"))
    )
    h31 = F.col("_h").bitwiseAND(F.lit(p31))
    sig_aggs = [
        F.min((F.lit(a) * h31 + F.lit(b)) % F.lit(p31)).alias(f"_m{j}")
        for j, (a, b) in enumerate(params)
    ]
    base = ex.groupBy("_id").agg(*sig_aggs)
    return base.select(
        "_id", F.array(*[F.col(f"_m{j}") for j in range(n_hashes)]).alias("_sig")
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    est_threshold: float = 0.5,
    candidate_cap: int = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch: new docs vs the stored
    corpus signatures, plus new-vs-new — WITHOUT touching corpus text.

    The at-scale contract: only the new batch is shingled; the corpus
    contributes its persisted ``minhash_signatures`` relation (n longs
    per doc).  Old-vs-old pairs are excluded (they were mined when those
    docs were the new batch).  Verification is the SIGNATURE-ESTIMATED
    Jaccard — the fraction of matching minima, an unbiased estimator of
    the true Jaccard (Broder's MinHash property) — so no text is ever
    re-read; the exact-verify tier remains available by feeding the
    returned pairs to ``ngram_jaccard_pairs`` over the corpus when text
    access is acceptable.

    Plan: ONE band shuffle over (corpus ∪ new) signatures; buckets keep
    the per-id signature array in the collected struct so the estimate
    is computed inline from the bucket explode — no join back to the
    signature relation at all.  Buckets with no new doc are dropped
    before the pair explode (the incremental pruning win: at steady
    state almost every bucket is old-only and contributes nothing).
    Returns (id_a, id_b, jaccard_est), id_a < id_b.
    """
    r = n_hashes // bands
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, n_hashes, shingle_k, portable_hash
    )
    tagged = corpus_sigs.select(
        "_id", "_sig", F.lit(False).alias("_new")
    ).unionByName(new_sigs.select("_id", "_sig", F.lit(True).alias("_new")))

    if portable_hash:
        band_key = [
            F.concat_ws(
                "_", *[F.element_at("_sig", i * r + k + 1) for k in range(r)]
            )
            for i in range(bands)
        ]
    else:
        band_key = [
            F.xxhash64(
                F.lit(i), *[F.element_at("_sig", i * r + k + 1) for k in range(r)]
            )
            for i in range(bands)
        ]
    banded = tagged.select(
        F.struct("_id", "_new", "_sig").alias("_doc"),
        F.posexplode(F.array(*[k.cast("string") for k in band_key])).alias(
            "band_id", "band_hash"
        ),
    )
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(
            F.collect_list("_doc").alias("_docs"),
            F.max(F.col("_doc._new").cast("int")).alias("_has_new"),
        )
        .filter(
            (F.size("_docs") >= 2)
            & (F.size("_docs") <= candidate_cap)
            & (F.col("_has_new") == 1)
        )
    )
    pairs = (
        buckets.select(F.posexplode("_docs").alias("_p", "_a"), "_docs")
        .select(
            "_a",
            F.explode(
                F.slice(F.col("_docs"), F.col("_p") + 2, F.size("_docs"))
            ).alias("_b"),
        )
        # drop old-old pairs, and self-pairs when a doc id exists in
        # BOTH the store and the batch (re-ingested batch): equal ids
        # would survive the lo/hi normalization as (id, id) with
        # estimate 1.0
        .filter(
            (F.col("_a._new") | F.col("_b._new"))
            & (F.col("_a._id") != F.col("_b._id"))
        )
        .select(
            F.when(F.col("_a._id") < F.col("_b._id"), F.col("_a"))
            .otherwise(F.col("_b"))
            .alias("_lo"),
            F.when(F.col("_a._id") < F.col("_b._id"), F.col("_b"))
            .otherwise(F.col("_a"))
            .alias("_hi"),
        )
        .select(
            F.col("_lo._id").alias("id_a"),
            F.col("_hi._id").alias("id_b"),
            F.col("_lo._sig").alias("_sa"),
            F.col("_hi._sig").alias("_sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # matching-minima fraction, unrolled to literal element_at compares
    # (stays in codegen; n_hashes terms over a tiny candidate relation)
    matches = sum(
        (F.element_at("_sa", j + 1) == F.element_at("_sb", j + 1)).cast("int")
        for j in range(n_hashes)
    )
    est = matches / F.lit(float(n_hashes))
    return (
        pairs.withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= est_threshold)
        .select("id_a", "id_b", F.round("jaccard_est", 6).alias("jaccard_est"))
    )


#: Raw-byte budget for broadcasting a label-shaped relation
#: ((id, cluster_id) longs ≈ 16 raw bytes/row; the JVM HashedRelation
#: footprint runs 3-5× raw, so a 16 MB raw cap keeps the materialized
#: build ≤ ~80 MB, within the 64 MB-raw PM-join posture).  Module-level
#: so tests can force the shuffle path by shrinking it.
_LABEL_BCAST_RAW_CAP = 16 * 1024 * 1024


def _maybe_broadcast(labels: DataFrame) -> DataFrame:
    """Broadcast a connected-components label relation while small.

    The relation is localCheckpointed inside the CC loop, so Catalyst
    has no stats and would sort-merge-join the corpus against it.  The
    scalar count is over the already-materialized checkpoint (bounded
    by docs-in-pairs).  Past the cap the shuffle join is the correct
    shape."""
    if labels.count() * 16 < _LABEL_BCAST_RAW_CAP:
        return F.broadcast(labels)
    return labels


def keep_best_in_clusters(
    df: DataFrame,
    pairs: DataFrame,
    quality: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-representative selection: the decision step a training-
    data pipeline runs AFTER near-dup pair mining — keep exactly one
    doc per duplicate cluster, chosen by QUALITY, drop the rest.

    ``pairs`` is a near-dup pair relation (id_a, id_b) from any miner
    (MinHash LSH, SimHash, embedding-cosine); ``quality`` is a Column
    over ``df`` (e.g. operators.text.quality_score).  Connected
    components labels the transitive closure, then one window picks the
    highest-quality doc per cluster (min id tie-break).  Docs outside
    the pair graph are their own singleton clusters and always keep.

    Scale shape: the label relation is bounded by docs-in-pairs (small
    vs corpus); the corpus join on id broadcasts it when small and
    shuffle-joins otherwise; the keeper window is ONE hash-partitioned
    shuffle on cluster_id — singleton clusters partition uniformly, so
    no skew.  Returns (id, cluster_id, quality, is_keeper).
    """
    from pyspark.sql import Window

    labels = _maybe_broadcast(connected_components(pairs))
    scored = df.select(F.col(id_col).alias("id"), quality.alias("quality"))
    joined = scored.join(labels, "id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("id")
    )
    return joined.withColumn("is_keeper", F.row_number().over(w) == 1).select(
        "id", "cluster_id", "quality", "is_keeper"
    )


def keep_best_incremental(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    cluster_state: DataFrame,
    quality: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    est_threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """Incremental cluster-representative maintenance — the O(batch)
    twin of ``keep_best_in_clusters``: classify tonight's batch against
    the STANDING cluster state without touching corpus text.

    ``corpus_sigs`` is the persisted signature store
    (minhash_signatures); ``cluster_state`` is the accumulated
    (id, cluster_id, quality, is_keeper) relation from prior runs.
    Pairs come from ``minhash_lsh_pairs_incremental`` (batch vs store
    + batch-internal); STORED pair endpoints collapse to their cluster
    LABEL before connected components, so the component computation
    runs over the batch-induced subgraph only — O(batch) rounds and
    rows however large the corpus.  A batch doc bridging two stored
    clusters merges their labels for the verdict (max of their keeper
    qualities is the bar to beat).

    Returns one row per NEW doc:
    (id, cluster_id, quality, status, stored_keeper) —
    ``new_cluster`` (no near-dup anywhere: the doc opens, and keeps,
    its own cluster; within a new-only component only its best doc is
    the opener), ``displaces`` (it beats the touched clusters' best
    stored keeper: ship it AND retire ``stored_keeper``), or ``joins``
    (near-dup of something better: a drop candidate).
    ``stored_keeper`` is the BEST stored keeper of the touched
    component (smallest id on quality ties), NULL for new-only
    components — exposed because the component label may be a batch
    id, so the caller needs it to retire / relabel stored state."""
    from pyspark.sql import Window

    pairs = minhash_lsh_pairs_incremental(
        new_df, corpus_sigs, text_col, id_col,
        n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
        est_threshold=est_threshold, portable_hash=portable_hash,
    )
    st = cluster_state.select(
        F.col("id").alias("_sid"), F.col("cluster_id").alias("_slab")
    )
    # collapse stored endpoints to labels (new ids pass through) —
    # cluster_state ships only 2 longs per doc, broadcast when small
    sa = st.selectExpr("_sid AS _sa", "_slab AS _la")
    sb = st.selectExpr("_sid AS _sb", "_slab AS _lb")
    edges = (
        pairs.join(sa, F.col("id_a") == F.col("_sa"), "left")
        .join(sb, F.col("id_b") == F.col("_sb"), "left")
        .select(
            F.coalesce(F.col("_la"), F.col("id_a")).alias("id_a"),
            F.coalesce(F.col("_lb"), F.col("id_b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    labels = _maybe_broadcast(connected_components(edges))

    scored = new_df.select(F.col(id_col).alias("id"), quality.alias("quality"))
    lab = scored.join(labels, "id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("id"))
    )
    # best STORED keeper (quality, then smallest id) per touched
    # component: stored-label nodes inside the CC graph joined back to
    # their keeper's quality — its IDENTITY is exposed because the
    # component label may be a batch id
    keepers = cluster_state.filter(F.col("is_keeper")).select(
        F.col("cluster_id").alias("_slab"), F.col("quality").alias("_sq")
    )
    wk = Window.partitionBy("cluster_id").orderBy(
        F.col("_sq").desc(), F.col("_slab")
    )
    stored_best = (
        labels.join(keepers, labels["id"] == keepers["_slab"])
        .select(labels["cluster_id"], "_slab", "_sq")
        .withColumn("_kr", F.row_number().over(wk))
        .filter(F.col("_kr") == 1)
        .select(
            "cluster_id",
            F.col("_sq").alias("_sbest"),
            F.col("_slab").alias("stored_keeper"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("quality").desc(), F.col("id"))
    out = (
        lab.join(stored_best, "cluster_id", "left")
        .withColumn("_rk", F.row_number().over(w))
    )
    status = (
        F.when(
            F.col("_sbest").isNull(),
            F.when(F.col("_rk") == 1, F.lit("new_cluster")).otherwise(F.lit("joins")),
        )
        .when(
            (F.col("_rk") == 1) & (F.col("quality") > F.col("_sbest")),
            F.lit("displaces"),
        )
        .otherwise(F.lit("joins"))
    )
    return out.select(
        "id", "cluster_id", "quality", status.alias("status"), "stored_keeper"
    )


def dedup_exact_incremental(
    new_df: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str | None = None,
) -> DataFrame:
    """Exact dedup of an incremental batch against a stored hash set.

    ``corpus_hashes`` is the persisted (content_hash) relation from
    prior batches (``dedup_exact``'s output is exactly that).  Returns
    one row per NEW doc: ``(doc_id, content_hash, status)`` with status
    ``corpus_dup`` (hash already stored), ``batch_dup`` (a lower-id doc
    in this batch has the same hash), or ``new``.  One shuffle on the
    hash; the corpus side ships only hashes, never text.

    ``hash_col``: a caller that has ALREADY computed the content hash
    (e.g. the streaming ingest, which needs the hashed batch again for
    its join-back) names that column here so the normalize+sha2
    projection runs once per batch, not once per consumer.
    """
    from pyspark.sql import Window

    h = (
        F.col(hash_col)
        if hash_col
        else F.sha2(normalize_text(F.col(text_col)), 256)
    ).alias("content_hash")
    hashed = new_df.select(F.col(id_col), h)
    # row_number, not `id > min(id)`: the min-comparison let EVERY
    # holder of a duplicated id classify 'new' (id == min for all of
    # them), and a NULL id compared NULL → 'new' even when the hash was
    # batch-shared — both silently landed duplicate content.  NULLs
    # order last (they lose ties to any real id); exactly one row per
    # hash is ever non-dup.
    w = Window.partitionBy("content_hash").orderBy(
        F.col(id_col).asc_nulls_last()
    )
    rn = F.row_number().over(w)
    in_corpus = hashed.withColumn("_rn", rn).join(
        # dropDuplicates: the documented accumulation pattern unions
        # every batch's output into the store, so a hash can repeat —
        # joining the raw store would multiply output rows per new doc
        corpus_hashes.select(F.col("content_hash"), F.lit(True).alias("_seen"))
        .dropDuplicates(["content_hash"]),
        "content_hash",
        "left",
    )
    return in_corpus.select(
        F.col(id_col),
        "content_hash",
        F.when(F.col("_seen"), F.lit("corpus_dup"))
        .when(F.col("_rn") > 1, F.lit("batch_dup"))
        .otherwise(F.lit("new"))
        .alias("status"),
    )


def simhash64(col: Column, token_pattern: str = r"\s+") -> Column:
    """64-bit SimHash of a text column, pure SQL expressions.

    Token hashes vote per bit (+1/-1); the fingerprint takes the sign.
    Implemented as an aggregate over a 64-slot vote array with
    ``zip_with`` — stays in codegen, no UDF.
    """
    votes = simhash_votes(col, token_pattern)
    return simhash_from_votes(votes)


def simhash_votes(col: Column, token_pattern: str = r"\s+") -> Column:
    """Per-bit vote array (64 longs) — materialize this with a
    ``withColumn`` before folding to the fingerprint so the aggregate
    isn't duplicated 64× in the final expression tree."""
    tokens = F.split(normalize_text(col), token_pattern)
    hashed = F.transform(tokens, lambda t: F.xxhash64(t))
    # bit positions unrolled in Python: shift amounts must be literals
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.array(
            *[
                acc.getItem(i)
                + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for i in range(64)
            ]
        ),
    )


def simhash_from_votes(votes: Column) -> Column:
    fp = F.lit(0).cast("long")
    for i in range(64):
        bit = F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
        fp = fp.bitwiseOR(F.when(votes.getItem(i) > 0, bit).otherwise(F.lit(0).cast("long")))
    return fp


def dedup_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable_hash: bool = False,
) -> DataFrame:
    """SimHash-bucket dedup: docs sharing a 64-bit fingerprint.

    Equal-fingerprint grouping (hamming distance 0).  For distance ≤ k,
    re-bucket on fingerprint-with-bit-masks — same plan shape, k× rows;
    not needed for the corpus here.

    Exploded formulation (same rationale as ``minhash_lsh_pairs``: the
    64-slot array-lambda vote aggregate evaluates interpreted — measured
    11.8s → ~2s at sf0.1): tokens become rows, the 64 per-bit votes are
    plain conditional-sum aggregates in ONE codegen'd ``groupBy(id)``
    with map-side partial aggregation, and the fingerprint folds the 64
    vote columns in a post-agg projection over #docs rows.  Duplicate
    tokens keep their votes (frequency-weighted), identical to the
    array formulation.

    ``portable_hash=True``: 56-bit fingerprint from md5-derived token
    ints (14 hex chars), reproducible as plain SQL in any engine — the
    DuckDB oracle mode, same contract as ``minhash_lsh_pairs``.
    """
    n_bits = 56 if portable_hash else 64
    if portable_hash:
        h_expr = md5_hash56(F.col("_tok"))  # THE shared portable hash
    else:
        h_expr = F.xxhash64(F.col("_tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(n_bits)
    ]
    per_bit = (
        fan_out(df)
        .select(F.col(id_col), F.explode(F.split(normalize_text(F.col(text_col)), r"\s+")).alias("_tok"))
        .select(F.col(id_col), h_expr.alias("_h"))
        .groupBy(id_col)
        .agg(*votes)
    )
    fp = F.lit(0).cast("long")
    for i in range(n_bits):
        bit = F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
        fp = fp.bitwiseOR(
            F.when(F.col(f"_v{i}") > 0, bit).otherwise(F.lit(0).cast("long"))
        )
    return (
        per_bit.select(F.col(id_col), fp.alias("simhash"))
        .groupBy("simhash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("bucket_size"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    prefilter_col: str | None = None,
    candidate: str = "prefix",
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity join: every pair with
    J ≥ ``threshold`` (within a ``prefilter_col`` bucket), no misses.

    ``candidate="prefix"`` (default) generates candidate pairs with the
    PPJoin prefix filter (Xiao, Wang, Lin, Yu — "Efficient Similarity
    Joins for Near Duplicate Detection", WWW'08; also Bayardo et al.
    All-Pairs, WWW'07): order every doc's gram set by ascending GLOBAL
    gram frequency, keep only the first ``|X| − ⌈t·|X|⌉ + 1`` grams
    (two sets with J ≥ t must share a prefix gram under any common
    total order), and join on those rare prefix grams.  Exactness is
    preserved — every qualifying pair shares a prefix gram — while the
    candidate stream scales with shared-rare-gram pairs, NOT with the
    quadratic within-bucket pair count (the r08 scale sweep measured
    the all-pairs form at 72× per 10× data at sf1; prefix filtering is
    the textbook fix).  A lossless size band (J ≤ min/max sizes) and
    the bucket key further cut candidates before the exact set ops.

    ``candidate="allpairs"`` keeps the brute-force within-bucket join —
    the verification tier for small buckets, and the equality oracle
    for the prefix path (pinned in tests/test_pipeline.py).
    """
    key = F.col(prefilter_col) if prefilter_col else F.lit(1)
    pre = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.split(normalize_text(F.col(text_col)), r"\s+").alias("_w"),
        key.alias("_k"),
    )
    words = F.col("_w")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )
    base = pre.select(
        F.col("_id"), grams.alias("_g"), F.col("_k"), F.size(grams).alias("_n")
    )
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    # |A∪B| = |A|+|B|−|A∩B| exactly (gram arrays are array_distinct'd),
    # so the verify never builds a union hash set — array_union cost the
    # same per-pair OpenHashSet build as the intersect (the minhash
    # verify measured ~2× on its stage from the same identity).  Integer
    # identity → the double division is bit-identical to the size() form.
    union = F.col("n_a") + F.col("n_b") - inter
    if candidate == "allpairs":
        a = base.select(
            F.col("_k"), F.col("_id").alias("id_a"), F.col("_g").alias("g_a"),
            F.col("_n").alias("n_a"),
        )
        b = base.select(
            F.col("_k").alias("_k_b"), F.col("_id").alias("id_b"),
            F.col("_g").alias("g_b"), F.col("_n").alias("n_b"),
        )
        band = (
            F.least(a.n_a, b.n_b)
            >= F.lit(threshold) * F.greatest(a.n_a, b.n_b) - F.lit(1e-9)
        )
        return (
            a.join(b, (a._k == b._k_b) & (a.id_a < b.id_b) & band)
            .withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    if candidate != "prefix":
        raise ValueError(f"unknown candidate strategy {candidate!r}")
    # base recomputes per use (returning an unexecuted plan must not
    # pin cache on the caller's behalf); callers looping over batches
    # can .persist() the input themselves
    #
    # The explode takes the gram EXPRESSION, not a projected `_g`
    # column: with an attribute child, InferFiltersFromGenerate adds a
    # `size(_g) > 0` guard that predicate pushdown then rewrites through
    # the projections into the SCAN stage with `_g`'s whole defining
    # expression inlined — re-running normalize/split/gram-build once
    # more per row at raw-scan parallelism, below the fan_out exchange
    # (measured 2×~60 task-seconds on 4-task scan stages at sf1, ~17 s
    # of a 33 s pass).  An expression child fails the rule's cheap-input
    # guard, so no filter is inferred (grams is never empty anyway:
    # greatest(…, 1) always yields ≥ 1 position).  `_n` is NOT carried
    # through the explode — it is recovered below as size(_gs), which
    # equals the distinct-gram count by construction.
    exploded = pre.select("_id", "_k", F.explode(grams).alias("_gram"))
    width = pin_width(df)
    # SALTED two-level gram-frequency count.  Gram frequency is a HIGH-
    # CARDINALITY groupBy (most n-grams are rare), so map-side partial
    # aggregation compresses poorly (measured 1.7× at sf1: 90 → 53 MB)
    # while its per-map hash build costs real CPU — and the 53 MB
    # partial-count exchange byte-coalesced the final count onto ONE
    # task (~4.4 s of an 11.9 s sf1 pass).  But a bare single-phase
    # count keyed on `_gram` alone concentrates EVERY instance of a
    # Zipfian-hot gram (natural-language gram frequency is Zipfian; a
    # boilerplate gram can appear in 20 % of documents) on ONE reducer
    # with no combining — the guide-§2.5 straggler.  Two-level salted
    # aggregation (guide §2.5 "two-level aggregation"): level 1 counts
    # per (gram, salt) — the salt is DETERMINISTIC (derived from the
    # doc id, never rand(): re-run tasks must re-derive the same key,
    # SPARK-38388) and spreads a hot gram over up to 16×width reducers;
    # level 2 sums the ≤ nsalt partial counts per gram — its input is
    # vocab-scale (rare grams contribute ONE row), map-side combined,
    # and carries no skew (≤ nsalt rows per gram), so AQE byte-sizing
    # is appropriate there.  `sum(count)` per gram equals the flat
    # `count(*)` by integer-sum re-association — same long type, same
    # values, so the downstream rarest-first ordering is unchanged.
    # The level-1 repartition satisfies its groupBy's distribution (no
    # extra shuffle vs the unsalted pin); the level-2 shuffle is new
    # but vocab-scale-tiny.
    nsalt = 16 * width
    freq = (
        exploded
        .withColumn("_salt", F.pmod(F.xxhash64("_id"), F.lit(nsalt)))
        .repartition(width, "_gram", "_salt")
        .groupBy("_gram", "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_gram")
        .agg(F.sum("_c").alias("_cnt"))
    )
    # per doc: grams ordered rarest-first (global frequency asc, gram
    # asc as the tiebreak — any shared total order keeps exactness).
    # The explicit repartition pins the collect_list stage (and the
    # prefix Generate + join-side projections that share its stage) at
    # cluster width: its hash partitioning satisfies the groupBy's
    # distribution, so no extra shuffle — but AQE cannot byte-coalesce
    # it (the sorted-gram-array exchange is tiny-bytes/heavy-compute;
    # byte-based coalescing ran it on ONE task for ~7.7 s at sf1).
    ordered = (
        exploded.join(freq, "_gram")
        .repartition(width, "_id", "_k")
        .groupBy("_id", "_k")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_cnt", "_gram"))),
                lambda s: s._gram,
            ).alias("_gs")
        )
        # one joined row per distinct gram (freq is keyed by gram), so
        # size(_gs) IS the old `_n` — same int type, same values
        .withColumn("_n", F.size("_gs"))
    )
    # PPJoin prefix: |X| − ⌈t·|X|⌉ + 1 rarest grams.  The 1e-9 slack
    # guards the FP integer crossing: t·n that is exactly integer k in
    # real arithmetic can evaluate to k+ε in doubles, over-rounding the
    # ceil and shortening the prefix below the lemma's requirement
    # (e.g. 0.56·100) — slack only ever LENGTHENS the prefix, so
    # exactness is preserved in the safe direction.  Same slack on the
    # size bands below.
    plen = (
        F.col("_n")
        - F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9)) + 1
    ).cast("int")
    prefix = ordered.select(
        "_id", "_k", "_n",
        F.explode(F.slice("_gs", 1, plen)).alias("_pgram"),
    )
    pa_ = prefix.select(
        F.col("_pgram"), F.col("_k"),
        F.col("_id").alias("id_a"), F.col("_n").alias("n_a"),
    )
    pb = prefix.select(
        F.col("_pgram").alias("_pgram_b"), F.col("_k").alias("_k_b"),
        F.col("_id").alias("id_b"), F.col("_n").alias("n_b"),
    )
    band = (
        F.least(pa_.n_a, pb.n_b)
        >= F.lit(threshold) * F.greatest(pa_.n_a, pb.n_b) - F.lit(1e-9)
    )
    # pinned-width dedup, same reasoning as the minhash pairs distinct:
    # the verify join (one intersect hash-set build per candidate pair)
    # runs in the stage reading this exchange; a bare dropDuplicates
    # lets AQE byte-coalesce the small candidate exchange to one task
    cands = (
        pa_.join(
            pb,
            (pa_._pgram == pb._pgram_b) & (pa_._k == pb._k_b)
            & (pa_.id_a < pb.id_b) & band,
        )
        .select("id_a", "id_b")
        .repartition(width, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = base.select(
        F.col("_id").alias("id_a"), F.col("_g").alias("g_a"),
        F.col("_n").alias("n_a"),
    )
    gb = base.select(
        F.col("_id").alias("id_b"), F.col("_g").alias("g_b"),
        F.col("_n").alias("n_b"),
    )
    return (
        cands.join(ga, "id_a").join(gb, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster labels from a near-dup pair graph: each node
    gets the MINIMUM id reachable from it (``cluster_id``) — the step
    that turns pairwise dedup output into "keep one doc per cluster".

    Distributed min-label propagation WITH POINTER JUMPING: labels init
    to the node's own id; each round every node takes the min label over
    its graph neighbors AND over its current label link (id ↔
    cluster_id treated as extra edges) — the label links shortcut
    already-discovered cluster prefixes, so rounds grow O(log n) in the
    largest cluster's size instead of O(diameter) (an 82-node chain
    converges in ~7 rounds, not ~82).  One join + one groupBy-min per
    round; the loop is capped at ``max_iter`` and stops on convergence
    (a scalar per-round count is the only driver-side value).

    The edge relation and each round's labels are ``localCheckpoint``ed:
    iterative plans otherwise nest the whole upstream pipeline (e.g. the
    MinHash candidate generation) once per round, and Catalyst re-plans
    an exponentially growing tree.  Checkpoints are LAZY and fused with
    the action that already exists (the per-round convergence count /
    the one-time node count), so on the shuffle path each round is ONE
    job, not two (broadcast mode adds jobs, see below); blocks are freed
    with the DataFrame.  On a cluster where executor loss during the
    loop matters, set a reliable checkpoint dir and swap in
    ``checkpoint()``.

    Join shape: the label relation has exactly one row per node in the
    pair graph — a count that never changes across rounds — so the
    broadcast decision is made ONCE from the node count (same raw-byte
    cap as ``_maybe_broadcast``).  While small, both per-round joins run
    as broadcast-hash (zero exchanges in the round job beyond the
    neighbor-min groupBy), but each ``BroadcastExchange`` (labels and
    neighbor-min) submits its own collect job, so a broadcast round runs
    two collect jobs beside its count job; past the cap the shuffle
    join is the correct shape at 100 TB.

    Returns (id, cluster_id) for every node that appears in a pair.
    """
    # id-type agnostic like every other operator in this module:
    # min-label propagation only needs an ORDERABLE id.  The old hard
    # cast("long") turned string doc ids into NULLs and the clustering
    # silently degenerated (every duplicate kept).
    e = pairs.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    edges = (
        e.unionByName(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("_s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint(eager=False)
    )
    # ONE job materializes the upstream miner, the edge checkpoint and
    # the initial labels, and returns the node count that fixes the
    # round join strategy.
    small = labels.count() * 16 < _LABEL_BCAST_RAW_CAP
    for _ in range(max_iter):
        lab_links = labels.filter(F.col("cluster_id") != F.col("id")).select(
            F.col("id").alias("_s"), F.col("cluster_id").alias("_d")
        )
        aug = edges.unionByName(lab_links).unionByName(
            lab_links.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
        lab_r = F.broadcast(labels) if small else labels
        neighbor_min = (
            aug.join(lab_r, aug["_d"] == lab_r["id"])
            .groupBy(aug["_s"].alias("id"))
            .agg(F.min("cluster_id").alias("_nm"))
        )
        # neighbor_min is ≤ one row per node — same cap applies
        nm_r = F.broadcast(neighbor_min) if small else neighbor_min
        new = (
            labels.join(nm_r, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_nm"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.coalesce(F.col("_nm"), F.col("cluster_id")) < F.col("cluster_id")).alias("_chg"),
            )
        ).localCheckpoint(eager=False)
        # the convergence count doubles as the checkpoint materializer
        changed = new.filter("_chg").count()
        labels = new.drop("_chg")
        if changed == 0:
            break
    return labels
