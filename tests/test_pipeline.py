"""Determinism + semantics tests for the pipeline operators whose
oracles can't be expressed in DuckDB (MinHash/SimHash/LSH/lang-id)."""

from __future__ import annotations

from pyspark.sql import functions as F

from infinidb_spark.operators import dedup as D
from infinidb_spark.operators import multimodal as M
from infinidb_spark.operators import similarity as S
from infinidb_spark.operators import text as T
from infinidb_spark.session import load_tables


def docs(spark, sf_dir):
    return load_tables(spark, sf_dir, names=("documents",))["documents"]


def test_minhash_identical_docs_are_pairs(spark, sf_dir):
    d = docs(spark, sf_dir).limit(40)
    # plant an exact duplicate pair with fresh ids
    dup = d.filter(F.col("doc_id") == d.select(F.min("doc_id")).collect()[0][0])
    planted = d.union(dup.withColumn("doc_id", F.col("doc_id") + 1000000))
    pairs = D.minhash_lsh_pairs(planted, n_hashes=32, bands=8, jaccard_threshold=0.9).collect()
    assert any(p.jaccard == 1.0 for p in pairs), "exact dup must surface with jaccard 1.0"


def test_minhash_deterministic(spark, sf_dir):
    d = docs(spark, sf_dir).limit(30)
    a = sorted(map(tuple, D.minhash_lsh_pairs(d, n_hashes=32, bands=8).collect()))
    b = sorted(map(tuple, D.minhash_lsh_pairs(d, n_hashes=32, bands=8).collect()))
    assert a == b


def test_simhash_stable_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different content about spark engines")],
        "doc_id long, text string",
    )
    rows = (
        df.select("doc_id", D.simhash_votes(F.col("text")).alias("v"))
        .select("doc_id", D.simhash_from_votes(F.col("v")).alias("h"))
        .collect()
    )
    h = {r.doc_id: r.h for r in rows}
    assert h[1] == h[2] != h[3]


def test_ann_lsh_subset_of_bruteforce_universe(spark, sf_dir):
    emb = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qv = [((i * 37) % 13 - 6) / 6.0 for i in range(64)]
    exact = {r.vec_id for r in S.cosine_topk(emb, qv, k=50).collect()}
    approx = S.ann_lsh_topk(emb, qv, k=10, n_planes=4).collect()
    assert len(approx) <= 10
    # single-probe LSH returns genuinely similar vectors: its top hit
    # must appear in the exact top-50
    assert approx[0].vec_id in exact


def test_ivf_plan_is_join_and_shuffle_free(spark, sf_dir):
    """The IVF serving contract (r12 shape): scan → fan_out widening →
    assign projection → broadcast-SEMI probe filter → bounded-heap
    top-k.  No KEYED shuffle and no big-side join build ever; the only
    exchanges allowed are fan_out's round-robin widening (a no-op on a
    many-file corpus, where the scan is already cluster-wide) and the
    broadcast of the n_probe-row probes relation.  The probe filter is
    a LeftSemi broadcast join rather than ``isin`` so the interpreted
    K-cosine routing projection cannot be pushed below the fan_out
    exchange onto a few-file corpus's 1–2 scan tasks (the
    InferFiltersFromConstraints artifact — see probe_semi); the
    materialized-index file-pruning path at 100 TB is the streaming
    ingest serve, which still filters a STORED cid partition column."""
    emb = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qv = [((i * 37) % 13 - 6) / 6.0 for i in range(64)]
    df = S.ann_ivf_topk(emb, qv, k=10, n_probe=2, stride=50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "hashpartitioning" not in plan  # no keyed shuffle, any scale
    assert "LeftSemi" in plan  # probes join, never pushed below fan_out
    rows = df.collect()
    assert 0 < len(rows) <= 10
    # deterministic across runs (centroid training included)
    again = S.ann_ivf_topk(emb, qv, k=10, n_probe=2, stride=50).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_ivf_probe_all_cells_equals_bruteforce(spark, sf_dir):
    """With n_probe = K (every cell probed) IVF must return EXACTLY the
    brute-force top-k — the recall knob reaches 1.0 at full probe."""
    emb = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qv = [((i * 37) % 13 - 6) / 6.0 for i in range(64)]
    cents = S.train_ivf_centroids(emb, stride=50)
    full = S.ann_ivf_topk(emb, qv, k=10, n_probe=len(cents), centroids=cents).collect()
    exact = S.cosine_topk(emb, qv, k=10).collect()
    assert [(r.vec_id, r.cosine) for r in full] == [(r.vec_id, r.cosine) for r in exact]


def test_lang_id_on_known_text(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house that is in it for now"),
         (2, "der hund und die katze ist von den nicht zu mit"),
         (3, "le chat et la maison est pour les un une que"),
         (4, "xqz kj zzz qqq")],
        "doc_id long, text string",
    )
    rows = df.select("doc_id", T.lang_id(F.col("text")).alias("lang")).collect()
    got = {r.doc_id: r.lang for r in rows}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


def test_multimodal_feature_contract(spark, sf_dir):
    media = M.synthesize_media(docs(spark, sf_dir).limit(50))
    feats = M.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r.feature) == 8 for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.feature)
    # deterministic across runs
    again = M.extract_features(media).collect()
    assert sorted(map(lambda r: (r.media_id, tuple(r.feature)), rows)) == sorted(
        map(lambda r: (r.media_id, tuple(r.feature)), again)
    )


def test_frame_plan_counts(spark, sf_dir):
    media = M.synthesize_media(docs(spark, sf_dir).limit(30))
    videos = {r.media_id: r.duration_ms for r in media.filter("modality='video'").collect()}
    plan = M.frame_sample_plan(media, every_ms=1000).collect()
    by_id: dict[int, int] = {}
    for r in plan:
        by_id[r.media_id] = by_id.get(r.media_id, 0) + 1
    for mid, dur in videos.items():
        # frames at ts = 0, 1000, 2000, … while ts < duration (a
        # 1999 ms video has frames at 0 and 1000; plain dur//1000
        # undersampled by one for non-multiples — code-review r08)
        assert by_id[mid] == max((dur - 1) // 1000 + 1, 1)


def test_validation_violations_are_tagged(spark):
    from infinidb_spark.operators.validate import check, violations

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 70.0)], "id long, qty double"
    )
    rules = {
        "qty_positive": F.col("qty") > 0,
        "qty_max": F.col("qty") <= 60,
    }
    counts = {r.rule: r.n_violations for r in check(df, rules).collect()}
    # NULL counts as a violation of both rules (conservative gate)
    assert counts == {"qty_positive": 2, "qty_max": 2}
    bad = {r.id: sorted(r.violated_rules) for r in violations(df, rules).collect()}
    assert bad == {2: ["qty_positive"], 3: ["qty_max", "qty_positive"], 4: ["qty_max"]}


def test_asof_join_tolerance_and_no_match(spark):
    from infinidb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 13:00:00"), (2, "2024-01-01 09:00:00")],
        "k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 100.0), (1, "2024-01-01 10:30:00", 200.0)],
        "k long, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {
        (r.k, r.ts.hour): r.px_right
        for r in asof_join(left, right, on="k").collect()
    }
    assert out[(1, 10)] == 100.0      # latest right <= 10:00
    assert out[(1, 13)] == 200.0      # latest right <= 13:00
    assert out[(2, 9)] is None        # key with no right rows

    tol = {
        (r.k, r.ts.hour): r.px_right
        for r in asof_join(left, right, on="k", tolerance_seconds=3600).collect()
    }
    assert tol[(1, 10)] == 100.0      # 30 min back - inside tolerance
    assert tol[(1, 13)] is None       # 2.5 h back - outside tolerance


def test_asof_join_null_payload_struct_carry(spark):
    """The matched right row's payload must arrive AS-IS: a legitimate
    NULL payload stays NULL (not overwritten by an older row), and all
    payload columns come from the SAME right row (regression:
    per-column last(ignorenulls) mixed rows and hid NULLs)."""
    from infinidb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 100.0, "A"),   # older, fully populated
            (1, "2024-01-01 11:00:00", None, "B"),    # latest: px is NULL
        ],
        "k long, ts string, px double, src string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    row = asof_join(left, right, on="k").collect()[0]
    assert row.src_right == "B"        # latest right row matched
    assert row.px_right is None        # its NULL payload preserved
    assert row.ts_right.hour == 11     # matched ts from the same row


def test_quantified_three_valued_semantics(spark):
    """ALL/ANY rewrite keeps SQL three-valued logic: empty set -> ALL
    TRUE / ANY FALSE; NULLs in the set poison would-be TRUE (ALL) /
    would-be FALSE (ANY) rows into NULL (dropped by WHERE)."""
    from infinidb_spark.operators.quantified import quantified_filter

    df = spark.createDataFrame([(1, 5), (2, 15), (3, None)], "id int, x int")
    sub = spark.createDataFrame([(10,), (12,)], "v int")
    sub_null = spark.createDataFrame([(10,), (None,)], "v int")
    empty = sub.filter("v > 100")

    ids = lambda out: sorted(r.id for r in out.collect())
    # x > ALL {10,12}: only 15
    assert ids(quantified_filter(df, F.col("x"), ">", sub, "all")) == [2]
    # x > ANY {10,12}: only 15
    assert ids(quantified_filter(df, F.col("x"), ">", sub, "any")) == [2]
    # x < ANY {10,12}: only 5
    assert ids(quantified_filter(df, F.col("x"), "<", sub, "any")) == [1]
    # empty subquery: ALL keeps every row (even NULL x), ANY keeps none
    assert ids(quantified_filter(df, F.col("x"), ">", empty, "all")) == [1, 2, 3]
    assert ids(quantified_filter(df, F.col("x"), ">", empty, "any")) == []
    # NULL in set: 15 > ALL {10, NULL} is NULL -> dropped;
    # 15 > ANY {10, NULL} is TRUE (10 satisfies) -> kept
    assert ids(quantified_filter(df, F.col("x"), ">", sub_null, "all")) == []
    assert ids(quantified_filter(df, F.col("x"), ">", sub_null, "any")) == [2]


def test_quantified_filter_dotted_column(spark):
    from pyspark.sql import functions as F

    from infinidb_spark.operators.quantified import quantified_filter

    df = spark.createDataFrame([(1,), (5,), (9,)], "x long")
    sub = spark.createDataFrame([(4.0,), (2.0,)], "p double").selectExpr(
        "p AS `price.usd`"
    )
    got = sorted(
        r.x for r in quantified_filter(df, F.col("x"), ">", sub, "all").collect()
    )
    assert got == [5, 9]


def test_group_concat_independent_order_and_nulls(spark):
    from infinidb_spark.operators.aggregates import group_concat

    df = spark.createDataFrame(
        [(1, "a", 3.0), (1, "b", 9.0), (1, None, 5.0), (1, "c", 9.0)],
        "g int, v string, k double",
    )
    row = df.groupBy("g").agg(
        group_concat(
            F.col("v"), order_by=[-F.col("k"), F.col("v")], separator="|"
        ).alias("s"),
        group_concat(F.col("v"), distinct=True).alias("d"),
    ).collect()[0]
    # k DESC: 9.0 ties broken by v asc -> b,c then 5.0 (NULL v skipped) then 3.0
    assert row.s == "b|c|a"
    assert row.d == "a,b,c"


def test_embedding_dedup_identical_vectors_share_rep(spark):
    # two identical vectors (cosine 1.0) must land in the same bucket
    # and collapse to the lower id; the orthogonal third stays its own rep
    rows = [
        (1, [1.0] * 8 + [0.0] * 56),
        (2, [1.0] * 8 + [0.0] * 56),
        (3, [0.0] * 56 + [-1.0] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.rep_id, r.is_dup) for r in S.embedding_dedup(df, threshold=0.95).collect()}
    assert out[1] == (1, 0)
    assert out[2] == (1, 1)
    assert out[3] == (3, 0)


def test_embedding_dedup_covers_every_row(spark, sf_dir):
    emb = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    out = S.embedding_dedup(emb, threshold=0.3)
    assert out.count() == emb.count()
    # rep is never above the member id (min-lower-neighbor contract)
    assert out.filter(F.col("rep_id") > F.col("vec_id")).count() == 0


def test_resize_media_contract(spark):
    """Resize stub honors the byte contract: output length follows the
    area ratio (capped at 1.0), deterministic stride content, None
    passthrough, audio keeps zero dims."""
    from infinidb_spark.operators.multimodal import _resize_stub, resize_media

    rows = [
        (1, "image", b"x" * 1000, "m", 100, 100, 0),   # 224x224 > input → cap
        (2, "audio", b"y" * 500, "m", 50, 50, 5000),
        (3, "video", None, "m", 640, 480, 9000),
        (4, "image", bytes(range(256)) * 4, "m", 448, 448, 0),  # downscale 4x
    ]
    from infinidb_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in resize_media(df, 224, 224).collect()}
    assert got[1].out_bytes == 1000  # ratio capped at 1.0
    assert got[3].payload is None and got[3].out_bytes == 0
    assert got[4].out_bytes == int(1024 * (224 * 224) / (448 * 448))
    assert got[2].out_width == 0 and got[2].out_height == 0  # audio
    assert got[1].out_width == 224
    # determinism: same input → same bytes
    a = _resize_stub(bytes(range(100)), 10, 10, 5, 5)
    b = _resize_stub(bytes(range(100)), 10, 10, 5, 5)
    assert a == b and len(a) == 25


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E: two clusters with min-id labels; pointer jumping
    resolves the 3-chain transitively (pairwise output alone would keep
    A and C)."""
    from infinidb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    """A 40-node path converges well inside max_iter thanks to pointer
    jumping (naive propagation would need 40 rounds)."""
    from infinidb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "id_a long, id_b long"
    )
    rows = connected_components(pairs, max_iter=10).collect()
    assert {r.cluster_id for r in rows} == {100}
    assert len(rows) == 41


def test_connected_components_shuffle_path_matches_broadcast(spark, monkeypatch):
    """The r12 CC loop picks its per-round join strategy once from the
    node count: force the over-cap SHUFFLE path (cap → 0) and assert it
    labels a mixed graph (3-chain + pair + 5-star) identically to the
    default broadcast path."""
    from infinidb_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22), (20, 23), (20, 24)],
        "id_a long, id_b long",
    )
    want = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    monkeypatch.setattr(D, "_LABEL_BCAST_RAW_CAP", 0)
    got = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == want == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20, 24: 20,
    }


def test_pii_scrub_rules(spark):
    from pyspark.sql import functions as F

    from infinidb_spark.operators.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [("mail bob.smith+x@corp.example.org tel 555-123-4567 "
          "ssn 123-45-6789 host 192.168.0.1 clean text",)],
        "t string",
    )
    out = df.select(
        scrub_pii(F.col("t")).alias("s"), *pii_counts(F.col("t"))
    ).collect()[0]
    assert out.s == "mail <EMAIL> tel <PHONE> ssn <SSN> host <IP> clean text"
    assert (out.n_email, out.n_phone, out.n_ssn, out.n_ipv4) == (1, 1, 1, 1)
    # no false positives on plain text and bare numbers
    clean = spark.createDataFrame([("order 12345 on 2020-01-02 at 10.5",)], "t string")
    row = clean.select(scrub_pii(F.col("t")).alias("s")).collect()[0]
    assert row.s == "order 12345 on 2020-01-02 at 10.5"


def test_repetition_signals_detect_boilerplate(spark):
    from infinidb_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "the quick brown fox jumps over dogs"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    # all bigrams identical -> top share 1.0, distinct frac 1/5
    assert got[1].top_ngram_share == 1.0
    assert got[1].distinct_ngram_frac == 0.2
    # all bigrams unique -> both extremes flip
    assert got[2].distinct_ngram_frac == 1.0
    assert got[2].top_ngram_share < 0.5


def test_kmeans_partitions_and_determinism(spark, sf_dir):
    """kmeans_fit_predict: every vector gets exactly one cluster, seeds
    belong to their own cluster after iteration 1's update keeps them
    closest, and two runs are bit-identical (the determinism pins)."""
    from infinidb_spark.operators.similarity import kmeans_fit_predict
    from infinidb_spark.session import load_tables
    from pyspark.sql import functions as F

    emb = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"].filter(
        F.col("vec_id") < 120
    )
    a = kmeans_fit_predict(emb, stride=60).orderBy("vec_id").collect()
    b = kmeans_fit_predict(emb, stride=60).orderBy("vec_id").collect()
    assert a == b
    assert len(a) == emb.count()
    assert {r.cluster_id for r in a} <= {0, 60}
    assert all(-1.0 <= r.sim <= 1.0 for r in a)


def test_asof_directions(spark):
    """forward = earliest right at-or-after; nearest = closer of the
    two with backward winning ties (the pandas merge_asof contract)."""
    from infinidb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2020-01-01 10:00:00"), (1, "2020-01-01 12:00:00")],
        "k long, ts string",
    ).selectExpr("k", "cast(ts as timestamp) ts")
    right = spark.createDataFrame(
        [(1, "2020-01-01 09:00:00", 9.0), (1, "2020-01-01 11:30:00", 11.5)],
        "k long, ts string, v double",
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")

    fwd = {r.ts.hour: r.v_right for r in
           asof_join(left, right, "k", direction="forward").collect()}
    assert fwd == {10: 11.5, 12: None}

    near = {r.ts.hour: r.v_right for r in
            asof_join(left, right, "k", direction="nearest").collect()}
    assert near == {10: 9.0, 12: 11.5}

    # tie -> backward row wins
    right2 = spark.createDataFrame(
        [(1, "2020-01-01 09:00:00", 1.0), (1, "2020-01-01 11:00:00", 2.0)],
        "k long, ts string, v double",
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")
    tie = asof_join(left, right2, "k", direction="nearest").collect()
    assert {r.ts.hour: r.v_right for r in tie}[10] == 1.0


def test_window_dup_fraction_detects_boilerplate(spark):
    """Cross-doc duplicated token windows flag boilerplate passages;
    docs without shared passages score 0."""
    from infinidb_spark.operators.text import window_dup_fraction

    boiler = "this is the standard license header used by every single document here"
    df = spark.createDataFrame(
        [
            (1, boiler + " unique content alpha beta gamma delta epsilon zeta"),
            (2, boiler + " totally different words one two three four five"),
            (3, "no shared passage at all just original text nine ten eleven"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in window_dup_fraction(df, window=8).collect()}
    assert out[3].dup_fraction == 0.0
    assert out[1].dup_fraction > 0.2 and out[2].dup_fraction > 0.2
    # short docs (< window tokens) are NEVER omitted: zero windows,
    # fraction 0.0 (the join-back contract)
    short = spark.createDataFrame([(9, "too short")], "doc_id long, text string")
    srows = window_dup_fraction(short, window=8).collect()
    assert len(srows) == 1
    assert srows[0].n_windows == 0 and srows[0].dup_fraction == 0.0


def test_classifier_quality_modes_and_exactness(spark):
    """classify_quality: weight sums are exact (1/1024-step weights),
    both hash modes produce the same schema and per-doc token counts,
    and keep == (score >= 0)."""
    from infinidb_spark.operators.text import classifier_weights, classify_quality

    w = classifier_weights()
    assert len(w) == 64 and all(-1 <= x <= 1 for x in w)
    # every weight is an exact multiple of 1/1024
    assert all(x * 1024 == int(x * 1024) for x in w)

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "  the   the THE "), (3, "")],
        "doc_id long, text string",
    )
    for portable in (False, True):
        out = classify_quality(df, portable_hash=portable).collect()
        rows = {r.doc_id: r for r in out}
        # ONE ROW PER DOC (the window_dup_fraction spine contract): an
        # empty doc gets an explicit verdict (0 tokens, neutral score)
        # instead of silently vanishing from the joined signal
        assert set(rows) == {1, 2, 3}
        assert rows[1].n_tokens == 4 and rows[2].n_tokens == 3
        assert rows[3].n_tokens == 0 and rows[3].score == 0.0
        for r in rows.values():
            assert r.keep == (r.score >= 0)
    # identical token multiset ⇒ identical score in a given mode
    df2 = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "gamma alpha beta")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.score for r in classify_quality(df2).collect()}
    assert got[10] == got[11]


def test_classify_lang_discriminates_and_keeps_spine(spark):
    """classify_lang: per-language weight tables are exact 1/1024-step
    multiples, known-language sentences classify correctly in BOTH hash
    modes, gibberish/empty docs get 'und', one row per input doc."""
    from infinidb_spark.operators.text import classify_lang, lang_classifier_weights

    w = lang_classifier_weights()
    assert set(w) == {"en", "de", "fr", "es"}
    for tbl in w.values():
        assert len(tbl) == 256
        assert all(-1 <= x <= 1 and x * 1024 == int(x * 1024) for x in tbl)

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house and it is that for a"),
            (2, "der hund und die katze ist von zu mit den nicht der die das"),
            (3, "le chat et la maison les et de un une est pour que le la"),
            (4, "el perro y la casa los de que y en un una es el la"),
            (5, "zzz qqq xxx yyy www"),
            (6, "   "),
        ],
        "doc_id bigint, text string",
    )
    for portable in (False, True):
        rows = {r.doc_id: r for r in classify_lang(df, portable_hash=portable).collect()}
        assert set(rows) == {1, 2, 3, 4, 5, 6}          # spine contract
        assert rows[1].lang == "en" and rows[2].lang == "de"
        assert rows[3].lang == "fr" and rows[4].lang == "es"
        assert rows[5].lang == "und"                     # below floor
        assert rows[6].lang == "und" and rows[6].n_tokens == 0


def test_embedding_dedup_derives_dim_from_data(spark):
    """Non-64-d embeddings must still get a REAL LSH prefilter: with the
    old hardcoded dim=64, a 128-d corpus null-padded every projection
    and sent all vectors to bucket 0 (silent all-pairs degeneration)."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(128)]) for i in range(40)]
    rows.append((40, list(rows[0][1])))  # exact dup of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # the prefilter actually separates vectors (not one giant bucket 0)
    buckets = (
        df.select(S.hyperplane_bucket(F.col("embedding").cast("array<double>"), 4, 128).alias("b"))
        .distinct()
        .count()
    )
    assert buckets > 1
    out = {r.vec_id: (r.rep_id, r.is_dup) for r in S.embedding_dedup(df, threshold=0.999).collect()}
    assert out[40] == (0, 1)  # dup found through the derived-dim buckets
    assert out[0] == (0, 0)


def test_ann_ivf_topk_batch_accepts_string_query_ids(spark):
    """q_id_col is generic — string query ids must flow through probe
    routing and the result schema untouched (no int() coercion)."""
    import random

    rng = random.Random(3)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [("q-a", [1.0] + [0.0] * 15), ("q-b", [0.0] * 15 + [-1.0])],
        "query_id string, embedding array<float>",
    )
    out = S.ann_ivf_topk_batch(corpus, queries, k=5, n_probe=2, stride=20)
    rows = out.collect()
    assert {r.query_id for r in rows} == {"q-a", "q-b"}
    assert all(1 <= r.rn <= 5 for r in rows)


def test_empty_doc_counts_zero_tokens(spark):
    """split('') yields [''] — empty/whitespace-only docs must count 0
    tokens and 0 subwords, agreeing with the classifiers' _tok != ''
    rule (a curation filter n_tokens >= 1 must drop empty docs)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two words")], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_subwords)
        for r in df.select(
            "doc_id",
            T.token_count(F.col("text")).alias("n_tokens"),
            T.subword_count(F.col("text")).alias("n_subwords"),
        ).collect()
    }
    assert out[1] == (0, 0)
    assert out[2] == (0, 0)
    assert out[3][0] == 2 and out[3][1] >= 2


def test_repetition_short_docs_emit_no_partial_grams(spark):
    """Docs with fewer than n tokens have NO n-grams: a partial gram
    would score every short doc as maximally repetitive
    (top_ngram_share 1.0) and boilerplate filters would drop it."""
    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "spam spam spam spam")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in T.repetition_signals(df).collect()}
    assert 1 not in out and 2 not in out  # no row, not a fake 1.0 share
    assert out[3].n_ngrams == 3 and out[3].top_ngram_share == 1.0


def test_classify_lang_gibberish_single_token_is_und(spark):
    """Noise weights peak at 51/1024 < the 0.05 floor, so NO single
    gibberish token can clear it — only a real stopword boost can."""
    rows = [(i, f"zqxj{i}gibber") for i in range(50)]
    rows.append((99, "the the the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.lang, r.score)
        for r in T.classify_lang(df, portable_hash=True).collect()
    }
    assert out[99][0] == "en"
    for i in range(50):
        lang, score = out[i]
        # either undetermined, or the token hash-collided into a
        # stopword-boosted bucket (inherent to hashed BoW) — but NEVER
        # labeled off noise alone: noise peaks at 51/1024 < 0.05
        assert lang == "und" or score >= 0.4489, (i, lang, score)
    assert sum(lang == "und" for lang, _ in out.values()) >= 35


def test_keep_best_in_clusters_picks_quality_winner(spark):
    """Keeper = max quality per connected cluster (min-id tie-break);
    docs outside the pair graph are singleton keepers."""
    from pyspark.sql import functions as F

    from infinidb_spark.operators.dedup import keep_best_in_clusters

    # graph: {1-2, 2-3} one cluster of 3; {10-11} a pair; 99 a singleton
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7), (10, 0.4), (11, 0.4), (99, 0.1)],
        "doc_id bigint, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    out = {
        r.id: r
        for r in keep_best_in_clusters(docs, pairs, F.col("q")).collect()
    }
    assert len(out) == 6
    # cluster {1,2,3}: labeled by min id 1; keeper = doc 2 (q 0.9)
    assert out[1].cluster_id == 1 and out[2].cluster_id == 1 and out[3].cluster_id == 1
    assert (out[1].is_keeper, out[2].is_keeper, out[3].is_keeper) == (False, True, False)
    # pair {10,11}: equal quality -> min id wins
    assert out[10].is_keeper and not out[11].is_keeper
    # singleton: own cluster, keeps
    assert out[99].cluster_id == 99 and out[99].is_keeper
    # exactly one keeper per cluster
    keepers = [r for r in out.values() if r.is_keeper]
    assert len({r.cluster_id for r in keepers}) == len(keepers) == 3


def test_ngram_jaccard_prefix_equals_allpairs(spark, sf_dir):
    """The PPJoin prefix-filtered candidate path is EXACT: identical
    pair set to the brute-force within-bucket join at two thresholds
    (the prefix-filter lemma says every J>=t pair shares a
    rarest-first prefix gram)."""
    from infinidb_spark.operators import dedup as D
    from infinidb_spark.session import load_tables

    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    for t in (0.8, 0.3):
        fast = D.ngram_jaccard_pairs(
            docs, n=3, threshold=t, prefilter_col="source", candidate="prefix"
        )
        brute = D.ngram_jaccard_pairs(
            docs, n=3, threshold=t, prefilter_col="source", candidate="allpairs"
        )
        got = {tuple(r) for r in fast.collect()}
        want = {tuple(r) for r in brute.collect()}
        assert got == want and len(want) > 0, (t, got ^ want)


def test_ngram_jaccard_fp_integer_crossing(spark):
    """Threshold 0.56 with |A|=56, |B|=100, A ⊂ B: J = 56/100 = 0.56
    exactly, but 0.56*100 = 56.000000000000007 in doubles — without
    the 1e-9 slack both the size band and the prefix length over-round
    and silently drop the qualifying pair (code-review r08 finding)."""
    from pyspark.sql import functions as F

    from infinidb_spark.operators.dedup import ngram_jaccard_pairs

    words = [f"w{i:03d}" for i in range(102)]
    a_text = " ".join(words[:58])    # 56 distinct 3-grams
    b_text = " ".join(words)         # 100 distinct 3-grams, superset
    docs = spark.createDataFrame(
        [(1, a_text, "s"), (2, b_text, "s")],
        "doc_id bigint, text string, source string",
    )
    for mode in ("prefix", "allpairs"):
        got = ngram_jaccard_pairs(
            docs, n=3, threshold=0.56, prefilter_col="source", candidate=mode
        ).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 0.56)], mode


def test_ngram_jaccard_skewed_hot_gram(spark):
    """r12 salted gram-frequency count: a Zipfian-hot gram (here 100%
    document frequency — shared boilerplate) must not change results.
    The corpus embeds known-jaccard pairs: A's grams ⊂ B's grams with
    |A|=14, |B|=20 → J = 0.7 exactly; the boilerplate suffix makes
    'boiler plate text' (and its join grams) hot across EVERY doc, so
    the two-level salted count aggregates multi-salt partials for the
    hot grams while rare grams take the single-partial path."""
    from infinidb_spark.operators.dedup import ngram_jaccard_pairs

    rows = []
    suffix = " boiler plate text"
    for d in range(40):
        words = " ".join(f"d{d}w{i}" for i in range(10))
        rows.append((d, words + suffix, "s"))
    # known pair: 100 ⊂ 101 — 12+2 common words; shared suffix makes
    # every gram of A also a gram of B
    a_words = [f"p{i}" for i in range(12)]
    rows.append((100, " ".join(a_words) + suffix, "s"))
    rows.append((101, " ".join(a_words + [f"q{i}" for i in range(6)]) + suffix, "s"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    # A: 12 words + 3 suffix = 15 words -> 13 grams + ... compute both
    # paths and require identity instead of hand-counting
    fast = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, prefilter_col="source", candidate="prefix"
    ).collect()
    brute = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, prefilter_col="source", candidate="allpairs"
    ).collect()
    got = {(r.id_a, r.id_b, r.jaccard) for r in fast}
    want = {(r.id_a, r.id_b, r.jaccard) for r in brute}
    assert got == want, got ^ want
    assert (100, 101) in {(a, b) for a, b, _ in got}


def test_salted_two_level_count_matches_flat_count(spark):
    """The identity the r12 freq rewrite rests on: sum of per-(key,
    salt) counts == flat count(*) per key, with the deterministic
    pmod(xxhash64(id), nsalt) salt — exact integer re-association,
    including a hot key owning most rows."""
    from pyspark.sql import functions as F

    df = spark.range(5000).select(
        F.col("id").alias("_id"),
        F.when(F.col("id") % 5 < 4, F.lit("HOT"))
        .otherwise(F.concat(F.lit("g"), F.col("id") % 97))
        .alias("_gram"),
    )
    nsalt = 64
    two_level = (
        df.withColumn("_salt", F.pmod(F.xxhash64("_id"), F.lit(nsalt)))
        .groupBy("_gram", "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_gram")
        .agg(F.sum("_c").alias("_cnt"))
    )
    flat = df.groupBy("_gram").agg(F.count(F.lit(1)).alias("_cnt"))
    a = {r._gram: r._cnt for r in two_level.collect()}
    b = {r._gram: r._cnt for r in flat.collect()}
    assert a == b and a["HOT"] == 4000


def test_classify_lang_accepts_off_grid_weights(spark):
    """r10 review fix: a caller-supplied trained weight table off the
    1/1024 grid used to be quantized (small-magnitude heads collapsed
    to all-zero scores -> every doc 'und'); off-grid tables now score
    in plain doubles."""
    from infinidb_spark.operators.text import classify_lang

    df = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd")], "doc_id long, text string"
    )
    n_b = 64
    tiny = {
        "xx": [0.0001] * n_b,   # off-grid, sub-1/2048 magnitude
        "yy": [0.00005] * n_b,
    }
    out = classify_lang(
        df, weights=tiny, floor=0.00001, portable_hash=True
    ).collect()
    assert out[0]["lang"] == "xx"
    assert out[0]["score"] > 0.0


def test_shingle_array_matches_substring_form(spark):
    """r11 optimization: shingle extraction moved from per-position
    substring (O(len²) per doc on UTF8String) to one regexp_extract_all
    pass.  Pin exact equivalence against the original formulation on
    every edge class: empty, shorter-than-k, exactly-k, multibyte
    (2/3/4-byte UTF-8), NULL, and raw (non-normalized) text containing
    newlines — per position, in order, duplicates preserved."""
    rows = [
        (1, ""),
        (2, "ab"),
        (3, "abcd"),
        (4, "abcde"),
        (5, "abcdef"),
        (6, "héllo wörld"),
        (7, "日本語のテキストです"),
        (8, "aé中\U0001F600xyz"),
        (9, None),
        (10, "line one\nline two\ttabbed"),
        (11, "aaaaaa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (3, 5, 8):
        t = F.coalesce(F.col("text"), F.lit(""))
        n = F.greatest(F.length(t) - (k - 1), F.lit(1))
        old = F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(t, i, F.lit(k)))
        got = df.select("doc_id", D.shingle_array(t, k).alias("new"), old.alias("old")).collect()
        for r in got:
            assert r.new == r.old, f"k={k} doc={r.doc_id}: {r.new} != {r.old}"


def test_shingles_distinct_form(spark):
    df = spark.createDataFrame([(1, "Aa  aa\taa")], "doc_id long, text string")
    (row,) = df.select(D.shingles(F.col("text"), k=2).alias("s")).collect()
    # normalized 'aa aa aa' → 2-grams: aa, 'a ', ' a' (distinct)
    assert sorted(row.s) == [" a", "a ", "aa"]


def test_eval_decontamination_single_pass_matches_two_pass(spark, sf_dir):
    """r11 optimization: n_grams and n_shared come out of ONE aggregation
    over the distinct train grams (LEFT join against the broadcast
    distinct test set), replacing the shared-join-totals form that
    scanned and hashed the train corpus twice.  Pin the rewrite against
    the old two-pass shape recomputed here from the same gram stream."""
    from infinidb_spark.operators.datasets import hash_split
    from infinidb_spark.plans.pipeline import eval_decontamination

    d = docs(spark, sf_dir)
    labeled = hash_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, portable=True
    ).select("doc_id", "split", D.normalize_text(F.col("text")).alias("_t"))
    grams = labeled.select(
        "doc_id", "split", F.explode(D.shingle_array(F.col("_t"), 8)).alias("_g")
    ).select("doc_id", "split", D.md5_hash56(F.col("_g")).alias("h"))
    test_grams = grams.filter(F.col("split") == "test").select("h").distinct()
    train_grams = (
        grams.filter(F.col("split") == "train").select("doc_id", "h").distinct()
    )
    totals = train_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (
        train_grams.join(F.broadcast(test_grams), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    old = {
        r.doc_id: (r.n_shared, r.n_grams, r.overlap)
        for r in shared.join(totals, "doc_id")
        .filter(F.col("n_shared") >= 20)
        .select(
            "doc_id",
            "n_shared",
            "n_grams",
            F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("overlap"),
        )
        .collect()
    }
    new_rows = eval_decontamination(spark, sf_dir).collect()
    new = {r.doc_id: (r.n_shared, r.n_grams, r.overlap) for r in new_rows}
    assert len(new_rows) == len(new)  # one row per doc, so dict compare is total
    assert old == new
    assert new  # non-vacuous: the split must produce flagged docs at this SF
    # ordering contract: overlap desc, doc_id asc
    keys = [(-r.overlap, r.doc_id) for r in new_rows]
    assert keys == sorted(keys)
