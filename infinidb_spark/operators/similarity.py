"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — one scan, dot products via
``zip_with`` + ``aggregate``, global top-k via ``TakeOrderedAndProject``
(the same bounded-heap structure the reference uses for ORDER BY+LIMIT,
``dbcon/joblist/limitedorderby.h:43``, generalized per-partition).

Formulation note (measured at 64-dim): higher-order array lambdas are
evaluated interpreted in Spark, but at 64 ops/row they still beat the
alternatives — unrolling the dot product to 64 element_at terms blows
the 64 KB Janino method limit (whole-stage codegen falls back to fully
interpreted: 4-10× slower), and an exploded groupBy formulation pays a
shuffle + compile that only amortizes at much larger row counts.  If
dims grow 10×, switch to an Arrow-batched pandas_udf (numpy matmul).

Scale path: LSH random-hyperplane bucketing (IVF-style) — probe only the
buckets the query falls in, turning a full scan into a partition-pruned
scan.  At 100 TB the bucket id becomes a parquet partition column so
pruning happens at file level, the analog of the reference's extent
elimination (``dbcon/joblist/lbidlist.h:80``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from infinidb_spark.functions.prng import lcg_next
from infinidb_spark.operators.dedup import fan_out


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col).cast("array<double>"), q)
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
) -> DataFrame:
    """Batched brute-force top-k: ONE corpus scan serves the whole query
    batch — the serving-path shape (per-query scans would read the
    corpus Q times).

    The query batch broadcasts (a batch is small by definition); scoring
    happens in the scan stage and the projection drops the vectors
    BEFORE the per-query top-k window, so the one shuffle carries only
    (query_id, vec_id, cosine) triples — ~24 bytes/row instead of the
    embedding payload.  Ties at 6-decimal cosine break by vec_id
    (deterministic, oracle-mirrored).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(q_id_col).alias("_qid"),
        F.col(q_vec_col).cast("array<double>").alias("_qv"),
    )
    # Q interpreted cosines per corpus row — widen a few-file local scan
    # (fan_out no-ops at scale)
    c = fan_out(corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ))
    sim = cosine_similarity(F.col("_v"), F.col("_qv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(F.col("_qid"), F.col(id_col), F.round(sim, 6).alias("cosine"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("_qid").alias(q_id_col), F.col(id_col), "cosine", "rn")
    )


def _lsh_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a fixed LCG — the
    SINGLE source for both the executor-side bucket expression and the
    driver-side query bucketing.  (Two inline copies of these constants
    would silently break bucket agreement if either drifted — the same
    place-with-one-hash/score-with-another hazard operators/text.py
    documents for its language weights.)"""
    state = 0x5DEECE66D
    planes: list[list[float]] = []
    for _ in range(n_planes):
        coeffs = []
        for _ in range(dim):
            state = lcg_next(state)
            coeffs.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(coeffs)
    return planes


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id (sign pattern packed to int).

    Deterministic pseudo-random planes from a fixed LCG; same family as
    SimHash but over float vectors.  Bucket count = 2^n_planes.
    ``dim`` must equal the vector dimension: a shorter plane would
    null-pad through zip_with and degenerate every bucket to 0.
    """
    bits = []
    for p, coeffs in enumerate(_lsh_planes(n_planes, dim)):
        plane = F.array(*[F.lit(c) for c in coeffs])
        proj = _dot(vec, plane)
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out.cast("int")


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
) -> DataFrame:
    """ANN: probe only the query's hyperplane bucket, then exact cosine.

    Recall < 1.0 by construction (single-probe); multi-probe = union of
    neighboring buckets.  The bucket filter is a plain predicate, so at
    scale it prunes partitions/files before any vector math runs.
    """
    dim = len(query_vec)
    vec = F.col(vec_col).cast("array<double>")
    bucketed = df.withColumn("_bucket", hyperplane_bucket(vec, n_planes, dim))

    # compute the query's bucket with the SAME planes, driver-side
    qb = 0
    for p, coeffs in enumerate(_lsh_planes(n_planes, dim)):
        proj = sum(float(query_vec[i]) * coeffs[i] for i in range(dim))
        if proj >= 0:
            qb |= 1 << p
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(vec, q)
    return (
        bucketed.filter(F.col("_bucket") == qb)
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def train_ivf_centroids(
    df: DataFrame,
    stride: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_max: int | None = None,
) -> list[tuple[int, list[float]]]:
    """IVF index-build ("training") step: deterministic stride-sampled
    centroids, returned driver-side as the model parameters.

    This is the ONE deliberate collect in the similarity family and it is
    bounded by construction: K rows of dim floats — the centroid table
    IS the trained model, shipped to executors as literals (the
    broadcast-variable pattern), never the corpus.  In production the
    centroids come from an offline k-means over a sample; the serving
    plan (``ann_ivf_topk``) is identical either way.

    ``k_max`` caps the model at the FIRST k_max stride samples by id
    (deterministic).  Without it K = N/stride GROWS WITH THE CORPUS,
    and since every routing projection evaluates all K centroid
    literals per row, serving cost becomes O(N·K) = O(N²/stride) — the
    round-9 sweep measured the uncapped ivfpq twin at 21.9×/decade
    (116 s of its 130 s sf1 wall was the K=400 routing projection;
    K=32 serves the same corpus in 11 s).  A real deployment always
    fixes K independent of corpus size; prefer passing k_max."""
    v = F.col(vec_col).cast("array<double>")
    sampled = df.filter(
        ((F.col(id_col) % stride) == 0)
        # a NULL vector (or NULL element) cannot seed a centroid —
        # float(None) would kill the whole training collect driver-side;
        # skipping the bad seed keeps the model buildable (the same
        # vectors route to cid NULL at assignment, the r08 guard)
        & v.isNotNull()
        & ~F.exists(v, lambda x: x.isNull())
    ).select(F.col(id_col), v)
    if k_max is not None:
        sampled = sampled.orderBy(id_col).limit(k_max)
    rows = sampled.collect()
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def ivf_assign_expr(vec_sql: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid id as a pure projection — no join, no shuffle.

    ``array_max`` over (rounded cosine, -cid) structs; ties break to the
    lowest centroid id.  The cosine is rounded to 9 dp before the argmax
    so the assignment decision is reproducible across engines (the same
    pinning discipline as the corpus oracles).  Delegates to
    ``ivf_best_expr`` — ONE copy of the determinism-critical argmax, so
    the assignment and serving paths can never drift apart.
    ``vec_sql`` is SQL text for the vector (see ivf_best_expr).
    """
    return ivf_best_expr(vec_sql, centroids)["cid"]


def ivf_probe_ids(
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
) -> list[int]:
    """The ``n_probe`` centroid ids nearest the query — driver-side over
    the K-row model, with the SAME rounding (9 dp HALF_UP over the
    shortest decimal repr, i.e. Spark's F.round — NOT Python's
    banker's round over the binary value) and tie rule (lowest cid) as
    the executor-side assignment, so any engine replays the probe
    decision exactly."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def _pycos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    def _round9(v: float) -> float:
        # F.round semantics: decimal HALF_UP on repr(v), not round(v, 9)
        return float(Decimal(repr(v)).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    q = [float(x) for x in query_vec]
    ranked = sorted(
        ((_round9(_pycos(q, cv)), -cid) for cid, cv in centroids), reverse=True
    )
    return [-nc for _s, nc in ranked[:n_probe]]


def probe_semi(scored: DataFrame, probes: list[int], cid_col: str = "_cid") -> DataFrame:
    """Keep rows whose routing cell is probed — as a broadcast SEMI JOIN
    on a tiny probes relation, not ``isin``.

    Same rows as ``.filter(col.isin(probes))`` (probe ids are distinct
    and non-null; a NULL cid matches neither form).  The join form
    exists because a deterministic ``isin`` predicate gets pushed below
    the ``fan_out`` exchange into the scan stage, re-serializing the
    interpreted K-cosine routing onto a few-file corpus's 1–2 scan
    partitions — a join never sinks below the exchange, so routing
    evaluates at cluster width.  At 100 TB ``fan_out`` is a no-op and
    the broadcast semi join lives in the scan stage like the filter
    did (a 2-entry hash probe instead of an IN-2 list).

    Two load-bearing details:
    * the key compares NULL-SAFE (``<=>``, same result — NULL matches
      no probe): a plain ``=`` lets InferFiltersFromConstraints derive
      ``IsNotNull(cid)`` and push IT below the exchange, re-running the
      full routing expression on the narrow scan side (the same
      inferred-filter artifact as r11's ngram InferFiltersFromGenerate);
    * the probes relation is built from ``range(1) + explode(literals)``
      — native, one task — never ``createDataFrame(list)``, whose
      parallelize-backed RDD scan spins defaultParallelism Python
      workers per query (a §4 JVM↔Python boundary for 2 rows)."""
    spark = scored.sparkSession
    pdf = spark.range(0, 1, 1, 1).select(
        F.explode(
            F.array(*[F.lit(int(p)).cast("long") for p in probes])
        ).alias("_probe")
    )
    return scored.join(
        F.broadcast(pdf), F.col(cid_col).eqNullSafe(F.col("_probe")), "semi"
    )


def ann_ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    stride: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    k_max: int | None = None,
) -> DataFrame:
    """IVF-Flat ANN: assign vectors to their nearest centroid, probe the
    ``n_probe`` centroids nearest the query, exact-cosine rerank inside
    the probed cells only.

    Serving plan shape (the scale contract): scan → fan_out widening
    (no-op on a many-file corpus) → nearest-centroid projection →
    broadcast-SEMI probe filter (``probe_semi``) →
    ``TakeOrderedAndProject``.  No keyed shuffle, no big-side join
    build.  At 100 TB the assignment is materialized
    once (``df.withColumn("cid", ivf_assign_expr(...)).write
    .partitionBy("cid")``) and the probe filter prunes files before any
    vector math runs — the IVF cell ≅ the reference's extent with its
    casual-partition min/max (``dbcon/joblist/lbidlist.h:80``); recall
    trades off against ``n_probe`` exactly as extent elimination trades
    scan cost against filter selectivity.
    """
    if centroids is None:
        # k_max bounds the routing model independent of corpus size —
        # see train_ivf_centroids (uncapped K makes serving O(N·K))
        centroids = train_ivf_centroids(df, stride, vec_col, id_col, k_max=k_max)

    q = [float(x) for x in query_vec]
    probes = ivf_probe_ids(q, centroids, n_probe)

    vec = F.col(vec_col).cast("array<double>")
    qcol = F.array(*[F.lit(x) for x in q])
    # the K-cosine routing projection is an interpreted higher-order
    # expression — widen a few-file local scan so it doesn't serialize
    # on 1–2 tasks (fan_out no-ops at scale)
    return (
        probe_semi(
            fan_out(df).withColumn(
                "_cid",
                ivf_assign_expr(
                    f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", centroids
                ),
            ),
            probes,
        )
        .select(F.col(id_col), F.round(cosine_similarity(vec, qcol), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ann_ivf_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    stride: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    k_max: int | None = 32,
) -> DataFrame:
    """Batched IVF-Flat serving: ONE corpus scan + assignment projection
    serves the whole query batch; each query reranks only its probed
    cells.  Probe routing is driver-side over the K-row centroid model
    (bounded), shipped back as a broadcast (query_id, cid) relation —
    candidates flow through ONE broadcast join, and the per-query top-k
    window shuffles only (query_id, vec_id, cosine) triples.

    ``k_max`` caps the default-trained model like the single-query
    paths (32, the c6b09aa fix) — an uncapped K = N/stride model makes
    routing O(N·K); pass ``k_max=None`` only with a bounded corpus.
    Queries whose vector is NULL (or has a NULL element) are SKIPPED —
    float(None) would kill the whole batch driver-side."""
    from pyspark.sql import Window

    if centroids is None:
        centroids = train_ivf_centroids(corpus, stride, vec_col, id_col, k_max)
    qv = F.col(q_vec_col).cast("array<double>")
    qrows = queries.filter(
        qv.isNotNull() & ~F.exists(qv, lambda x: x.isNull())
    ).select(
        F.col(q_id_col).alias("_qid"),
        qv.alias("_qv"),
    ).collect()  # a query BATCH is bounded by definition (same contract
    # as cosine_topk_batch's broadcast)
    spark = corpus.sparkSession
    # keep the query id's ORIGINAL type (string ids are legal; int()
    # coercion would crash them) — schema built from the input field
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    qid_type = queries.schema[q_id_col].dataType
    probe_rows = [
        (r["_qid"], int(cid))
        for r in qrows
        for cid in ivf_probe_ids([float(x) for x in r["_qv"]], centroids, n_probe)
    ]
    if qrows:
        # native literal relations (range + explode of literal structs) —
        # createDataFrame(list) is parallelize-backed, and its RDD scan
        # spins defaultParallelism Python workers per batch (a §4
        # JVM↔Python boundary paid for a handful of rows); ``{x!r}D``
        # double literals parse to the exact collected IEEE values (the
        # pq_best_expr discipline)
        probes = spark.range(0, 1, 1, 1).select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(qid).cast(qid_type).alias("_qid"),
                    F.lit(int(cid)).cast("long").alias("_pcid"),
                )
                for qid, cid in probe_rows
            ])).alias("_r")
        ).select("_r._qid", "_r._pcid")
        qvecs = spark.range(0, 1, 1, 1).select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(r["_qid"]).cast(qid_type).alias("_qid"),
                    F.expr(
                        "array("
                        + ", ".join(f"{float(x)!r}D" for x in r["_qv"])
                        + ")"
                    ).alias("_qv"),
                )
                for r in qrows
            ])).alias("_r")
        ).select("_r._qid", "_r._qv")
    else:
        probes = spark.createDataFrame(
            [],
            StructType(
                [StructField("_qid", qid_type), StructField("_pcid", LongType())]
            ),
        )
        qvecs = spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("_qid", qid_type),
                    StructField("_qv", ArrayType(DoubleType())),
                ]
            ),
        )
    vec = F.col(vec_col).cast("array<double>")
    # same narrow-scan/compute-dense remedy as ann_ivf_topk: the per-row
    # K-cosine assignment must not ride 1–2 local scan partitions; the
    # probe key compares NULL-SAFE for the probe_semi reason — a plain
    # ``=`` lets InferFiltersFromConstraints push an IsNotNull(_cid)
    # routing evaluation below the fan_out exchange
    cand = (
        fan_out(corpus).withColumn(
            "_cid",
            ivf_assign_expr(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", centroids),
        )
        .join(F.broadcast(probes), F.col("_cid").eqNullSafe(F.col("_pcid")))
        .join(F.broadcast(qvecs), "_qid")
        .select(
            F.col("_qid"),
            F.col(id_col),
            F.round(cosine_similarity(vec, F.col("_qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("_qid").alias(q_id_col), F.col(id_col), "cosine", "rn")
    )


def ann_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    stride: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    truth: DataFrame | None = None,
    k_max: int | None = 32,
) -> DataFrame:
    """Index-QUALITY attestation: per-query recall@k of the IVF index
    against the exact brute-force top-k on the same vectors.

    ``k_max`` caps the default-trained model like the serving paths
    (an uncapped K = N/stride model makes routing O(N·K)).

    Determinism of both sides is already pinned (6/9-dp rounding,
    vec_id tie-breaks), so recall itself is a deterministic, oracle-
    replayable number — (query_id, hits, recall) rows.

    Callers scoring SEVERAL n_probe points pass ``centroids`` (one
    training collect) and ``truth`` (one brute-force top-k plan —
    identical subplans across the points collapse to a ReusedExchange
    at execution, so the O(corpus×queries) truth pass is paid once)."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, stride, vec_col, id_col, k_max)
    if truth is None:
        truth = cosine_topk_batch(
            corpus, queries, k, vec_col, id_col, q_vec_col, q_id_col
        )
    truth = truth.select(F.col(q_id_col), F.col(id_col))
    approx = ann_ivf_topk_batch(
        corpus, queries, k, n_probe, stride, vec_col, id_col, q_vec_col,
        q_id_col, centroids=centroids,
    ).select(F.col(q_id_col), F.col(id_col).alias("_hit"))
    return (
        truth.join(
            approx,
            (truth[q_id_col] == approx[q_id_col])
            & (truth[id_col] == approx["_hit"]),
            "left",
        )
        .groupBy(truth[q_id_col].alias(q_id_col))
        .agg(
            F.count("_hit").alias("hits"),
            F.round(F.count("_hit") / F.lit(float(k)), 4).alias("recall"),
        )
        .orderBy(q_id_col)
    )


def embedding_dedup(
    df: DataFrame,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup (the vector-space analog of
    MinHash dedup): hyperplane-LSH buckets prefilter candidates, exact
    cosine >= ``threshold`` within a bucket marks a near-dup edge, and
    each vector's representative is the minimum id among its lower-id
    neighbors (itself if none) — the one-pass min-rep approximation of
    connected components; iterate the pair/rep stages to converge the
    transitive closure if full clustering is required.

    Scale shape: the candidate join is an equi-join on the bucket id
    (shuffle-partitioned, never all-pairs — same candidate-generation
    contract as ``dedup.minhash_lsh_pairs``); the rep assignment is one
    groupBy plus a left join back to the id spine.  At 100 TB the bucket
    id becomes a parquet partition column, like ``ann_lsh_topk``.

    Returns (vec_id, rep_id, is_dup) for every input row.
    """
    if dim is None:
        # derive from the data (bounded: one row).  Anchored on a row
        # whose vector is non-NULL: a hardcoded wrong dim — or a NULL
        # first row collapsing the inference to 1 — would null-pad
        # through zip_with, send every vector to bucket 0, and silently
        # degenerate the LSH prefilter into the all-pairs join it
        # exists to prevent.
        first = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)))
            .first()
        )
        dim = int(first[0]) if first is not None and first[0] is not None else 1
    vec = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col).alias("vec_id"),
        vec.alias("_v"),
        hyperplane_bucket(vec, n_planes, dim).alias("_bkt"),
    )
    a = base.select(F.col("_bkt"), F.col("vec_id").alias("id_a"), F.col("_v").alias("v_a"))
    b = base.select(
        F.col("_bkt").alias("_bkt2"), F.col("vec_id").alias("id_b"), F.col("_v").alias("v_b")
    )
    edges = (
        a.join(b, (F.col("_bkt") == F.col("_bkt2")) & (F.col("id_a") < F.col("id_b")))
        .filter(cosine_similarity(F.col("v_a"), F.col("v_b")) >= threshold)
        .select("id_a", "id_b")
    )
    reps = edges.groupBy("id_b").agg(F.min("id_a").alias("_rep"))
    spine = df.select(F.col(id_col).alias("vec_id"))
    return (
        spine.join(reps, spine["vec_id"] == reps["id_b"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("_rep"), F.col("vec_id")).alias("rep_id"),
            (F.coalesce(F.col("_rep"), F.col("vec_id")) != F.col("vec_id"))
            .cast("int")
            .alias("is_dup"),
        )
    )


def ivf_best_expr(vec_sql: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """Struct(sim, cid) of the nearest centroid — ``ivf_assign_expr``
    plus the winning (rounded) cosine, for callers that need both.
    Same determinism pinning: cosine rounded to 9 dp before the argmax,
    ties to the lowest centroid id.

    ``vec_sql`` is SQL text for the (array<double>) vector — a
    backtick-quoted column name or a CAST fragment — spliced ONCE and
    bound to ``_iv`` by the transform-array idiom, so the input is
    evaluated once however many centroids reference it.  Built as ONE
    SQL string through ``F.expr`` (the pq_best_expr lesson applied to
    the routing argmax): the previous per-centroid Column-API form cost
    ~K×(dim+10) py4j round-trips — measured 3.5–4.5 s of pure
    driver-side Python per build at K=32/dim=64, paid again for every
    plan that routes (serving, batch recall, Lloyd, streaming ingest).
    ``{x!r}D`` double literals parse to the exact same IEEE values as
    ``F.lit(x)`` (the pq_best_expr discipline); the fold shapes —
    ``aggregate(zip_with(v, c, (x, y) -> x * y), 0.0D, (acc, x) ->
    acc + x)`` over ``sqrt(Σ x²)·sqrt(Σ c²)`` — are the exact SQL
    renderings of the old ``_dot``/``_norm`` lambdas, so every cosine
    is bit-identical.

    NULL guard unchanged: a NULL best cosine (dimension mismatch with
    the centroid model, a NULL element) must yield cid NULL — the
    struct argmax would otherwise tie on s=NULL and silently dump every
    bad vector into the lowest centroid's posting list."""

    def _arr(vals: list[float]) -> str:
        return "array(" + ", ".join(f"{float(x)!r}D" for x in vals) + ")"

    entries = ", ".join(
        "named_struct('s', round("
        f"aggregate(zip_with(_iv, {_arr(cv)}, (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
        " / (SQRT(aggregate(_iv, 0.0D, (acc, x) -> acc + x * x))"
        f" * SQRT(aggregate({_arr(cv)}, 0.0D, (acc, x) -> acc + x * x)))"
        f", 9), 'nc', {-cid})"
        for cid, cv in centroids
    )
    return F.expr(
        f"transform(array({vec_sql}), _iv -> "
        f"transform(array(array_max(array({entries}))), best_ -> "
        "named_struct('sim', best_.s, 'cid', "
        "CAST(CASE WHEN best_.s IS NULL THEN NULL ELSE -best_.nc END"
        " AS BIGINT)))[0])[0]"
    )


def kmeans_fit_predict(
    df: DataFrame,
    stride: int = 50,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Spherical k-means (cosine Lloyd iterations) over an embedding
    column — the cluster structure behind cluster-balanced sampling,
    semantic bucketing, and IVF index training.

    Deterministic by construction so any engine reproduces it exactly:
    seeds are the stride-sampled vectors (``vec_id % stride == 0`` —
    the IVF training rule), every cosine is rounded to 9 dp before the
    argmax with ties to the lowest centroid id, and recomputed centroid
    means are rounded to 9 dp; ``iters`` is fixed, not convergence-
    tested.

    Scale shape: assignment is a PURE PROJECTION over broadcast-literal
    centroids (no join, no shuffle — ``ivf_assign_expr``); the centroid
    update explodes vector dims into rows and runs ONE codegen'd
    groupBy(cid, dim) average, whose k×dim result is the bounded model
    collected driver-side (the same documented single-collect contract
    as ``train_ivf_centroids``).  Each Lloyd iteration is one scan +
    one bounded aggregation — no corpus caching, no driver loop over
    data rows.

    Returns (id, cluster_id, sim): final assignment and its cosine.
    """
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    model = train_ivf_centroids(df, stride=stride, vec_col=vec_col, id_col=id_col)
    for _ in range(max(iters - 1, 0)):
        assigned = base.select(
            F.col(id_col),
            ivf_best_expr("`_v`", model)["cid"].alias("_cid"),
            "_v",
        )
        dim_means = (
            # cid NULL = unscorable vector (NULL element / ragged dim,
            # the ivf_best_expr guard) — it must not form a phantom
            # group that int(None)/float(None) crashes the driver
            # rebuild on; a NULL _x mean (all members NULL in that dim)
            # is dropped the same way
            assigned.filter(F.col("_cid").isNotNull())
            .select("_cid", F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_cid", "_d")
            .agg(F.avg("_x").alias("_m"))
            .filter(F.col("_m").isNotNull())
            .collect()  # bounded: k × dim rows — the model update
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in dim_means:
            by_cid.setdefault(int(r["_cid"]), {})[int(r["_d"])] = round(
                float(r["_m"]), 9
            )
        # a rebuilt centroid is complete only when it has a mean for
        # EVERY dimension of the current model's vectors — max(dims)+1
        # missed the case where the HIGHEST dim's mean was all-NULL
        # (the dict just looked shorter), emitting a short centroid
        # that silently skewed every subsequent assignment distance
        expect = len(model[0][1]) if model else 0
        model = []
        for cid, dims in sorted(by_cid.items()):
            if len(dims) == expect and max(dims) + 1 == expect:
                model.append((cid, [dims[i] for i in range(expect)]))
            # else: degenerate cluster (some dim's mean was all-NULL)
            # — drop it; members re-route to surviving centroids
    best = ivf_best_expr("`_v`", model)
    return base.select(
        F.col(id_col),
        best["cid"].alias("cluster_id"),
        best["sim"].alias("sim"),
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.6,
    stride: int = 50,
    iters: int = 2,
    cluster_cap: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means clusters bound the
    candidate space, exact cosine runs only WITHIN a cluster, and every
    near-dup points at its min-id representative (SemDeDup, Abbas et
    al. 2023 — cluster-then-prune; the text analog is the MinHash
    band bucket, operators/dedup.py).

    Scale shape: clustering is ``kmeans_fit_predict`` (assignment is a
    broadcast-literal projection, model update one bounded aggregation);
    the pairing self-join shuffles on ``cluster_id`` only, so the
    quadratic term is bounded by the largest cluster, never the corpus —
    ``cluster_cap`` drops degenerate clusters outright (the skew guard,
    same contract as MinHash's ``candidate_cap``).  At 100 TB, k scales
    with corpus size to hold the per-cluster population roughly
    constant, which is exactly SemDeDup's published operating regime.

    Returns (id, cluster_id, rep_id, is_dup): min-lower-neighbor
    representative per vector, same contract as ``embedding_dedup``.
    """
    labels = kmeans_fit_predict(
        df, stride=stride, iters=iters, vec_col=vec_col, id_col=id_col
    )
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    vv = base.join(labels.select(id_col, "cluster_id"), id_col)
    small = (
        vv.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= cluster_cap)
        .select("cluster_id")
    )
    vc = vv.join(F.broadcast(small), "cluster_id")
    a = vc.select(
        "cluster_id", F.col(id_col).alias("id_a"), F.col("_v").alias("_va")
    )
    b = vc.select(
        F.col("cluster_id").alias("_c2"),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
    )
    pairs = (
        a.join(b, (a.cluster_id == b._c2) & (a.id_a < b.id_b))
        .filter(cosine_similarity(F.col("_va"), F.col("_vb")) >= threshold)
        .select("id_a", "id_b")
    )
    reps = pairs.groupBy("id_b").agg(F.min("id_a").alias("_rep"))
    return (
        labels.join(reps, labels[id_col] == reps["id_b"], "left")
        .select(
            labels[id_col],
            "cluster_id",
            F.coalesce(F.col("_rep"), labels[id_col]).alias("rep_id"),
            F.col("_rep").isNotNull().cast("int").alias("is_dup"),
        )
    )


def semantic_dedup_incremental(
    new_df: DataFrame,
    corpus_index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.6,  # same default as semantic_dedup — the
    # "same contract" the docstring promises (every in-repo caller
    # passes threshold explicitly)
    cluster_cap: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental SemDeDup: classify a NEW batch of vectors against the
    STORED cluster index (the streamed ANN index relation —
    id, embedding, cid — maintained by streaming/ann_ingest.py) without
    ever touching clusters the batch doesn't reach.

    The at-scale contract mirrors ``minhash_lsh_pairs_incremental``:
    the batch is assigned to the FIXED centroid model (projection, no
    shuffle), the corpus contributes ONLY the posting lists with a new
    member (a broadcast semi-join on cid — partition-pruned when the
    index is cid-partitioned), and old-vs-old pairs are excluded (they
    were mined when those vectors were the batch).  Per-batch work is
    O(batch × mean-cluster-population), independent of corpus size.

    Returns one row per BATCH vector: (id, cluster_id, rep_id, is_dup)
    — min-id representative among similar cluster members (stored or
    earlier-id batch), same contract as ``semantic_dedup``.

    CHANGED DEFAULT (round 8): ``threshold`` moved 0.3 → 0.6 to match
    semantic_dedup's default — the "same contract" this docstring
    promises.  A caller who relied on the old 0.3 default silently
    gets FEWER duplicate matches; pass ``threshold=0.3`` explicitly to
    keep the old behavior.
    """
    vec = F.col(vec_col).cast("array<double>")
    batch = new_df.select(
        F.col(id_col), vec.alias("_v")
    ).withColumn("cid", ivf_assign_expr("`_v`", centroids))
    touched = batch.select("cid").distinct()
    corpus = (
        corpus_index.join(F.broadcast(touched), "cid")
        .select(
            "cid",
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
            F.lit(False).alias("_new"),
        )
    )
    tagged = batch.select(
        "cid", id_col, "_v", F.lit(True).alias("_new")
    ).unionByName(corpus)
    small = (
        tagged.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= cluster_cap)
        .select("cid")
    )
    vc = tagged.join(F.broadcast(small), "cid")
    a = vc.select(
        "cid", F.col(id_col).alias("id_a"), F.col("_v").alias("_va")
    )
    b = vc.filter(F.col("_new")).select(
        F.col("cid").alias("_c2"), F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
    )
    pairs = (
        a.join(b, (a.cid == b._c2) & (a.id_a < b.id_b))
        .filter(cosine_similarity(F.col("_va"), F.col("_vb")) >= threshold)
        .select("id_a", "id_b")
    )
    reps = pairs.groupBy("id_b").agg(F.min("id_a").alias("_rep"))
    return (
        batch.join(reps, batch[id_col] == reps["id_b"], "left")
        .select(
            batch[id_col],
            F.col("cid").alias("cluster_id"),
            F.coalesce(F.col("_rep"), batch[id_col]).alias("rep_id"),
            F.col("_rep").isNotNull().cast("int").alias("is_dup"),
        )
    )
