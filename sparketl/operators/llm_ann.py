"""Similarity search / ANN / clustering operators (SURVEY.md §2.11
#137 + north-star): brute-force cosine top-k, hyperplane LSH
(+multiprobe), IVF (centroids/search/nprobe), PQ (codes/ADC), k-means
(iterate + train driver), SemDeDup semantic dedup, recall eval and
quantization.  Split out of llm.py in round 8 — registry names and the
``sparketl.operators.llm`` import surface are unchanged."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparketl.operators.llm_common import (  # noqa: F401
    _DOT_D,
    _DOT_S,
    _EMB_PARALLEL_MIN_BYTES,
    _JACCARD_STATS_MIN_BYTES,
    _L2_D,
    _L2_S,
    _NORM2_D,
    _NORM2_S,
    _PAIR_ROWS_PER_PART,
    _PARALLEL_MAX_BYTES,
    _PIN_KEEP,
    _SHINGLES_D,
    _SHINGLES_S,
    _TOKS_D,
    _TOKS_S,
    _h_duck,
    _h_spark,
    _maybe_parallel,
    _parallel,
    _pin,
    _scan_bytes
)
from sparketl.registry import query
from sparketl.session import local_frame, memo
from sparketl.tables import table


def _assign_expr(cens_lit: str) -> str:
    """Nearest-centroid assignment over the literal codebook: argmin
    by squared-L2, ties by label asc (array_sort on (d, label)
    structs ≡ an orderBy) — the single contract shared by
    llm_ivf_search, llm_kmeans_iterate, llm_semantic_dedup and
    kmeans_train, so a tie-break change cannot silently diverge
    between consumers (round-7 review)."""
    l2_in = _L2_S.format(a="embedding", b="cn.cvec")
    return (
        f"array_sort(transform({cens_lit}, cn -> "
        f"struct({l2_in} as d, cn.c_label as l)))[0].l"
    )


@query(
    "llm_embed_cosine_neardup",
    oracle=f"""
        with e as (
            select vec_id, label, embedding,
                   {_NORM2_D.format(a='embedding')} as norm2
            from embeddings
        )
        select a.label as label, a.vec_id as vec_a, b.vec_id as vec_b,
               round({_DOT_D.format(a='a.embedding', b='b.embedding')}
                     / sqrt(a.norm2 * b.norm2), 6) as cos_sim
        from e a join e b
          on a.label = b.label and a.vec_id < b.vec_id
        where round({_DOT_D.format(a='a.embedding', b='b.embedding')}
                    / sqrt(a.norm2 * b.norm2), 6) >= 0.3
    """,
)
def llm_embed_cosine_neardup(spark, sf_dir):
    """North-star embedding near-dup: same-label pairs with cosine
    >= 0.3 (labels are the natural blocking key per FIXTURES.md —
    near-duplicates share class).

    Scale: blocking by label turns an O(n^2) cross join into 10
    independent O((n/10)^2) blocks; at 100 TB the label becomes an
    IVF/k-means cluster id (see llm_similarity_ann_lsh for the
    unlabeled path).  Norms are precomputed pre-join (n, not n^2,
    evaluations).
    """
    emb = table(spark, sf_dir, "embeddings")
    e = _parallel(emb).select(
        "vec_id",
        "label",
        "embedding",
        F.expr(_NORM2_S.format(a="embedding")).alias("norm2"),
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = F.round(
        F.expr(_DOT_S.format(a="a.embedding", b="b.embedding"))
        / F.sqrt(F.col("a.norm2") * F.col("b.norm2")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.3)
    )


@query(
    "llm_similarity_topk",
    oracle=f"""
        with e as (
            select vec_id, embedding,
                   {_NORM2_D.format(a='embedding')} as norm2
            from embeddings
        ),
        scored as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   round({_DOT_D.format(a='q.embedding', b='c.embedding')}
                         / sqrt(q.norm2 * c.norm2), 6) as cos_sim
            from e q join e c on q.vec_id <> c.vec_id
            where q.vec_id % 25 = 0
        )
        select query_id, neighbor_id, cos_sim,
               row_number() over (partition by query_id
                                  order by cos_sim desc, neighbor_id asc) as rnk
        from scored
        qualify rnk <= 5
    """,
)
def llm_similarity_topk(spark, sf_dir):
    """#137 brute-force cosine top-k: for each query vector (vec_id
    divisible by 25), the 5 nearest neighbors by cosine (ties broken
    by neighbor_id — deterministic across engines since the doubles
    are bit-identical).

    Scale: queries x corpus is a broadcast nested-loop with the small
    query set broadcast — corpus streams once, no shuffle of the big
    side; top-k per query is a bounded window.  This is the exact
    baseline; llm_similarity_ann_lsh is the sublinear path.  The
    query-set-sized RESULT frame is memoized per (session, sf_dir)
    (`_eval_component`) so the evaluation face scores it without
    re-running the corpus pass (VERDICT r13 #5).
    """
    return _eval_component(
        spark, sf_dir, "topk", lambda: _topk_build(spark, sf_dir)
    )


def _topk_build(spark, sf_dir):
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    e = _parallel(emb).select(
        "vec_id",
        "embedding",
        F.expr(_NORM2_S.format(a="embedding")).alias("norm2"),
    )
    q = e.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
    )
    cos = F.round(
        F.expr(_DOT_S.format(a="q_emb", b="embedding"))
        / F.sqrt(F.col("q_norm2") * F.col("norm2")),
        6,
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 5
    )


# random-hyperplane LSH: 8 deterministic Rademacher (+1/-1) hyperplanes
# derived from md5 — reproducible without RNG state, same trick as the
# minhash seed family.
def _hyperplanes() -> list[list[float]]:
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{p},{d}".encode()).digest()[0] & 1 else -1.0
            for d in range(64)
        ]
        for p in range(8)
    ]


def _ann_oracle_sql() -> str:
    """DuckDB replay of the ANN-LSH pipeline with the SAME literal
    hyperplanes — bucketing is sign-of-exact-double-dot, so candidate
    sets and scores are bit-identical across engines and the
    'approximate' operator is still hash-gradeable."""
    planes = _hyperplanes()
    planes_sql = (
        "[" + ", ".join(
            "[" + ", ".join(f"{v:.1f}" for v in p) + "]::double[]" for p in planes
        ) + "]"
    )
    dot = _DOT_D.format(a="embedding", b="c.embedding")
    return f"""
        with pl as (select {planes_sql} as planes),
        e as (
            select vec_id, embedding,
                   {_NORM2_D.format(a='embedding')} as norm2,
                   list_sum(list_transform(generate_series(0, 7), p ->
                       case when list_sum(list_transform(generate_series(1, 64),
                                i -> embedding[i]::double * planes[p + 1][i])) > 0
                            then (1 << p) else 0 end)) as bucket
            from embeddings cross join pl
        ),
        scored as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   round({_DOT_D.format(a='q.embedding', b='c.embedding')}
                         / sqrt(q.norm2 * c.norm2), 6) as cos_sim
            from e q join e c
              on q.bucket = c.bucket and q.vec_id <> c.vec_id
            where q.vec_id % 25 = 0
        )
        select query_id, neighbor_id, cos_sim,
               row_number() over (partition by query_id
                                  order by cos_sim desc, neighbor_id asc) as rnk
        from scored
        qualify rnk <= 3
    """


@query("llm_similarity_ann_lsh", oracle=_ann_oracle_sql())
def llm_similarity_ann_lsh(spark, sf_dir):
    """#137 scale path: random-hyperplane LSH ANN.  Each vector gets an
    8-bit bucket (sign of dot with 8 deterministic Rademacher
    hyperplanes); candidates = same-bucket pairs; exact cosine top-3
    within bucket.

    Scale: bucketing is a narrow map; the candidate join is an
    equi-join on bucket (expected bucket population n/256), giving
    ~n^2/256 scored pairs instead of n^2 — and the bucket count grows
    with more planes, so the knob scales to 100 TB (16-20 planes +
    multi-probe).  Although ANN is approximation-defined, the
    approximation itself is deterministic (sign of exact double dots
    against literal hyperplanes), so the oracle replays it exactly and
    this query IS hash-graded.  Result frame memoized like
    llm_similarity_topk's (`_eval_component`, VERDICT r13 #5).
    """
    return _eval_component(
        spark, sf_dir, "ann_lsh", lambda: _ann_lsh_build(spark, sf_dir)
    )


def _lsh_buckets(spark, sf_dir):
    """(vec_id, embedding, norm2, bucket) for every embedding: the
    8-bit bucket is the sign pattern of its dots with the 8
    hyperplanes — shared by the single- and multi-probe LSH queries."""
    emb = table(spark, sf_dir, "embeddings")
    plane_lit = F.array(
        *[F.array(*[F.lit(v) for v in p]) for p in _hyperplanes()]
    )
    return (
        emb.select(
            "vec_id",
            "embedding",
            F.expr(_NORM2_S.format(a="embedding")).alias("norm2"),
            plane_lit.alias("planes"),
        )
        .withColumn(
            "bucket",
            F.expr(
                "aggregate(transform(sequence(0, 7), p -> if("
                + _DOT_S.format(a="element_at(planes, p + 1)", b="embedding")
                + " > 0, shiftleft(1, p), 0)), 0, (s, x) -> s + x)"
            ),
        )
        .drop("planes")
    )


def _ann_lsh_build(spark, sf_dir):
    from pyspark.sql import Window

    e = _lsh_buckets(spark, sf_dir)
    q = e.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
        F.col("bucket").alias("q_bucket"),
    )
    cos = F.round(
        F.expr(_DOT_S.format(a="q_emb", b="embedding"))
        / F.sqrt(F.col("q_norm2") * F.col("norm2")),
        6,
    )
    scored = (
        q.join(
            e,
            (F.col("q_bucket") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 3
    )


def _register_similarity_eval_and_quantize() -> None:
    """Registered via a function so the oracle f-strings can reference
    the ALREADY-registered topk/ann oracles verbatim (composition at
    the SQL level mirrors the DataFrame-level composition below)."""
    from sparketl.registry import ORACLES

    @query(
        "llm_ann_recall_eval",
        oracle=f"""
            with bf as ({ORACLES["llm_similarity_topk"]}),
            ann as ({ORACLES["llm_similarity_ann_lsh"]})
            select bf.query_id,
                   count(ann.neighbor_id) as n_hit,
                   round(count(ann.neighbor_id) / 5.0, 6) as recall_at_5
            from bf
            left join ann on bf.query_id = ann.query_id
                         and bf.neighbor_id = ann.neighbor_id
            group by bf.query_id
        """,
    )
    def llm_ann_recall_eval(spark, sf_dir):
        """#137 evaluation harness: recall@5 of the sign-LSH ANN path
        against the exact brute-force top-5, per query vector — the
        metric that decides LSH band/width tuning before a corpus-wide
        rollout.  Composes the two declared queries (and their oracles)
        verbatim, so the evaluation can never drift from what the
        production paths actually return.

        Scale: both inputs are query-set-sized (queries × k rows), so
        the join is trivially broadcast; the expensive parts are the
        underlying paths being evaluated, not the evaluation.
        """
        bf = llm_similarity_topk(spark, sf_dir).select("query_id", "neighbor_id")
        ann = llm_similarity_ann_lsh(spark, sf_dir).select(
            F.col("query_id").alias("a_query_id"),
            F.col("neighbor_id").alias("a_neighbor_id"),
        )
        hits = bf.join(
            F.broadcast(ann),
            (F.col("query_id") == F.col("a_query_id"))
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        return hits.groupBy("query_id").agg(
            F.count("a_neighbor_id").alias("n_hit"),
            F.round(F.count("a_neighbor_id") / F.lit(5.0), 6).alias(
                "recall_at_5"
            ),
        )

    @query(
        "llm_embed_quantize",
        oracle="""
            with m as (
                select vec_id, label, embedding,
                       list_max(list_transform(embedding, x -> abs(x::double)))
                           as maxabs
                from embeddings
            )
            select vec_id, label,
                   round(127.0 / maxabs, 6) as scale,
                   array_to_string(
                       list_transform(embedding,
                           x -> cast(floor(x::double * (127.0 / maxabs) + 0.5)
                                     as bigint)),
                       ',') as qvec,
                   cast(list_sum(list_transform(embedding,
                           x -> cast(floor(x::double * (127.0 / maxabs) + 0.5)
                                     as bigint))) as bigint) as qsum
            from m
        """,
    )
    def llm_embed_quantize(spark, sf_dir):
        """#137-family int8 symmetric quantization: per-vector scale =
        127 / max|x|, elements mapped through floor(x*scale + 0.5) —
        written as floor(+0.5) rather than round() so both engines run
        the identical IEEE double expression with no engine-specific
        tie-breaking, making the int8 codes bit-reproducible.

        Scale: a pure narrow map (no shuffle); quantization is the
        standard 4× memory/IO reduction before ANN index build, and
        the per-vector scale column is what dequantizes scores later.
        The float32 embeddings are cast to double BEFORE arithmetic on
        both sides (DuckDB's float32 list math diverges otherwise —
        module docstring).
        """
        emb = table(spark, sf_dir, "embeddings")
        m = emb.select(
            "vec_id",
            "label",
            "embedding",
            F.expr(
                "array_max(transform(embedding, x -> abs(double(x))))"
            ).alias("maxabs"),
        )
        qexpr = (
            "transform(embedding,"
            " x -> cast(floor(double(x) * (127.0 / maxabs) + 0.5) as bigint))"
        )
        return m.select(
            "vec_id",
            "label",
            F.round(F.lit(127.0) / F.col("maxabs"), 6).alias("scale"),
            F.expr(
                f"array_join(transform({qexpr}, v -> cast(v as string)), ',')"
            ).alias("qvec"),
            F.expr(f"aggregate({qexpr}, 0L, (acc, v) -> acc + v)").alias(
                "qsum"
            ),
        )


_register_similarity_eval_and_quantize()


@query(
    "llm_ivf_centroids",
    oracle=f"""
        with e as (
            select label, embedding from embeddings
        ),
        sums as (
            select label, i,
                   round(sum(embedding[i]::double), 6) as s,
                   count(*) as n
            from e cross join unnest(generate_series(1, 64)) as u(i)
            group by label, i
        )
        select label, i as dim, round(s / n, 6) as centroid_val, n as n_vecs
        from sums
        where i <= 4
    """,
)
def llm_ivf_centroids(spark, sf_dir):
    """North-star IVF index build step: per-label centroid of the
    embedding vectors (labels stand in for k-means cluster assignments,
    FIXTURES.md).  Emitted long-form (label, dim, value) for the first
    4 dims so the oracle compare stays exact; the full 64-dim centroid
    array is the same aggregation without the dim filter.

    Float note: per-dimension sums cross partitions, so bare double
    sums would be order-dependent — rounded at 6 on BOTH sides, and
    each dimension sums <= n_vecs values of magnitude <= 1 so the
    rounding absorbs reorder noise.

    Scale: explode(64) + map-side-combined groupBy((label, dim)) — the
    canonical distributed centroid step of k-means/IVF training; the
    result (k x 64 rows) broadcasts back for assignment."""
    emb = _parallel(table(spark, sf_dir, "embeddings"))
    e = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "v"),
    ).select("label", (F.col("i0") + 1).alias("dim"), F.col("v"))
    return (
        e.groupBy("label", "dim")
        .agg(
            F.round(F.sum(F.col("v").cast("double")), 6).alias("s"),
            F.count("*").alias("n_vecs"),
        )
        .where(F.col("dim") <= 4)
        .select(
            "label",
            "dim",
            F.round(F.col("s") / F.col("n_vecs"), 6).alias("centroid_val"),
            "n_vecs",
        )
    )


def _eval_component(spark, sf_dir, name: str, build):
    """Spark-cached RESULT frames of the two ANN paths the evaluation
    face scores (round 14, VERDICT r13 #5): `llm_ann_recall_eval`
    composes llm_similarity_topk and llm_similarity_ann_lsh verbatim, so
    without reuse it re-ran both full paths every time (3.4s
    sequential).  The memoized frames are QUERY-SET-sized (|Q| x k rows
    — ~4k at sf0.1), so `.cache()` holds a few hundred KB; the expensive
    corpus work runs once per (session, sf_dir) and every consumer — the
    faces themselves and the evaluation — reads the same
    materialization.  session.reset unpersists and drops them."""
    per = memo(spark, "ann_eval")
    key = (sf_dir.rstrip("/"), name)
    if key not in per:
        per[key] = build().cache()
    return per[key]


def _centroids(spark, sf_dir):
    """The per-label centroid codebook as DRIVER-SIDE values: a sorted
    list of (label, [64 rounded doubles]).

    The IVF/PQ search family (llm_ivf_search, _search_nprobe,
    llm_pq_codes, llm_pq_adc_search) all consume the identical k x 64
    codebook.  Re-deriving it inside each query costs a corpus-scan
    aggregation PLUS a broadcast-exchange build job per consumer — and
    the queries that reference the codebook on both sides of a
    self-join paid it twice (round-5 verdict: 10-12x per-query job
    overhead vs referent).  The codebook is METADATA-sized (k=10
    labels x 64 doubles, rounded at 6 so partition-order noise is
    absorbed — same values the in-plan aggregation produced), so this
    is the one sanctioned driver collect: k x 64 scalars, independent
    of corpus size, computed once per (session, sf_dir) and inlined as
    a literal codebook in every consumer.  At 100 TB the centroid
    aggregation still runs distributed exactly as llm_ivf_centroids
    does; only its k x 64-scalar RESULT ever touches the driver."""
    per = memo(spark, "centroids")
    if sf_dir not in per:
        emb = _parallel(table(spark, sf_dir, "embeddings"))
        cen = (
            emb.select("label", F.posexplode(F.col("embedding")).alias("i0", "v"))
            .groupBy("label", (F.col("i0") + 1).alias("dim"))
            .agg(
                F.round(
                    F.round(F.sum(F.col("v").cast("double")), 6) / F.count("*"), 6
                ).alias("c")
            )
            .groupBy(F.col("label").alias("c_label"))
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
                ).alias("cvec")
            )
        )
        per[sf_dir] = sorted(
            ((int(r.c_label), [float(x) for x in r.cvec]) for r in cen.collect())
        )
    return per[sf_dir]


def _dlit(v: float) -> str:
    """Spark SQL double literal (repr round-trips the exact double)."""
    return f"{v!r}D"


def _cens_expr(cens) -> str:
    """``array<struct<c_label:int, cvec:array<double>>>`` literal SQL —
    the in-expression form of the codebook (replaces the former
    crossJoin(broadcast(one-row-agg)) with a constant)."""
    entries = ", ".join(
        "named_struct('c_label', cast(%d as int), 'cvec', array(%s))"
        % (lbl, ", ".join(_dlit(v) for v in vec))
        for lbl, vec in cens
    )
    return f"array({entries})"


def _cen_frame(spark, cens):
    """The codebook as a (c_label, cvec) local relation built from
    Arrow (``local_frame``) — for consumers that need it as a joinable
    frame (broadcast of a LocalTableScan: no corpus scan, no job)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("c_label", IntegerType(), False),
            StructField("cvec", ArrayType(DoubleType(), False), False),
        ]
    )
    return local_frame(spark, cens, schema)


@query(
    "llm_ivf_search",
    oracle=f"""
        with cen_long as (
            select label, i,
                   round(round(sum(embedding[i]::double), 6) / count(*), 6) as c
            from embeddings cross join unnest(generate_series(1, 64)) as u(i)
            group by label, i
        ),
        cen as (
            select label as c_label, list(c order by i) as cvec
            from cen_long group by label
        ),
        e as (
            select vec_id, embedding,
                   {_NORM2_D.format(a='embedding')} as norm2
            from embeddings
        ),
        assigned as (
            select vec_id, embedding, norm2, c_label,
                   row_number() over (
                       partition by vec_id
                       order by {_L2_D.format(a='embedding', b='cvec')} asc,
                                c_label asc) as rn
            from e cross join cen
            qualify rn = 1
        ),
        scored as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   round({_DOT_D.format(a='q.embedding', b='c.embedding')}
                         / sqrt(q.norm2 * c.norm2), 6) as cos_sim
            from assigned q join assigned c
              on q.c_label = c.c_label and q.vec_id <> c.vec_id
            where q.vec_id % 25 = 0
        )
        select query_id, neighbor_id, cos_sim,
               row_number() over (partition by query_id
                                  order by cos_sim desc, neighbor_id asc) as rnk
        from scored
        qualify rnk <= 3
    """,
)
def llm_ivf_search(spark, sf_dir):
    """#137 second ANN path — IVF assignment + search, consuming the
    centroid build step (llm_ivf_centroids is the long-form view of the
    same aggregation): (1) per-label centroids as 64-dim arrays,
    (2) every vector assigned to its nearest centroid by squared-L2
    (10-row centroid table broadcast; ties broken by label), (3) top-3
    cosine neighbors searched WITHIN the query's cluster only.
    Deterministic end-to-end — centroids are order-noise-rounded, and
    all distances are ordered folds over identical doubles — so this
    'approximate' index is hash-graded exactly, like ANN-LSH.

    Scale: the canonical IVF plan.  Centroids: the _centroids() literal
    codebook (computed distributed, k x 64 scalars collected once per
    session — no per-query broadcast-build job).  Assignment: a local
    argmin over the constant codebook — a narrow map, no shuffle of
    the corpus.  Search: equi-join on assigned cluster ~ n^2/k scored
    pairs instead of n^2; nprobe>1 (probing the next-nearest clusters
    too) generalizes by keeping rn <= nprobe assignments for the QUERY
    side only.  The argmin is an interpreted lambda, ~k x 64
    element-ops per row: fine at the fixture's k=10, the dominant cost
    at k ~ sqrt(n) (SCALING.md 'k ~ sqrt(n)' table).
    """
    from pyspark.sql import Window

    # _maybe_parallel: see the helper for the stress-run rationale.
    emb = _maybe_parallel(table(spark, sf_dir, "embeddings"), sf_dir)
    # assignment is a TRUE narrow map: the codebook is a literal, and
    # each vector picks its nearest centroid with the shared
    # _assign_expr argmin.  The corpus is never shuffled, and because
    # `assigned` feeds BOTH sides of the cluster self-join below, the
    # literal also halves the old per-side centroid-subtree recompute
    # — the exact plan the 100-TB claim requires.
    cens_lit = _cens_expr(_centroids(spark, sf_dir))
    assigned = emb.select(
        "vec_id",
        "embedding",
        F.expr(_NORM2_S.format(a="embedding")).alias("norm2"),
        F.expr(_assign_expr(cens_lit)).alias("c_label"),
    )
    q = assigned.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm2").alias("q_norm2"),
        F.col("c_label").alias("q_label"),
    )
    scored = _ivf_cos_topk(q, assigned)
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w_rank)).where(
        F.col("rnk") <= 3
    )


def _ivf_cos_topk(probes, assigned, k=3):
    """Cogrouped numpy scorer for the IVF search family (round 7).

    The per-pair cosine was a zip_with/aggregate HOF — lambda
    expressions are CodegenFallback, so Spark interprets them at
    ~0.5 ms/pair regardless of the codegen conf (measured both ways at
    sf0.1; the HOF was the best JVM-expression option, but EVERY
    expression option pays interpretation here).  Scoring is a dense
    blocked product, so each (probe-label, cluster) pair scores in
    numpy instead — with the same bit-exactness discipline as the PQ
    ADC kernel:

    * the dot is an explicit 64-step left-to-right loop
      (acc = acc + q_i*m_i), the identical IEEE fold the zip_with/
      aggregate expression evaluates; float32→float64 conversion per
      element matches the expression's cast;
    * norms come through from the JVM-computed frame, and
      dot/sqrt(qn*mn) is the same three-op sequence as the column
      expression;
    * round-half-up at 6 decimals must match Spark's
      BigDecimal.valueOf(double) (shortest-repr decimal, HALF_UP) —
      replicated via Decimal(repr(x)) on the CANDIDATE SET ONLY: the
      kernel takes the k-th largest raw cosine as a cut and keeps
      everything >= cut − 1.1e-6 (no pair outside that band can round
      into the top-k), then orders candidates by (rounded desc,
      neighbor_id asc) — the window's exact tie-break, so
      rounding-collapsed ties (deliberately common in the 0.25-grid
      property corpora) resolve identically.

    Emits cluster-local exact top-k per (query, probed label); the
    caller's window merges probe-local winners (<= nprobe*k rows per
    query).  Measured sf0.1 warm: nprobe 1.1-1.3 s -> ~0.5 s; x10
    scales as the candidate count, numpy-speed."""
    import numpy as np
    import pandas as pd

    def score(key, probes_pdf, members_pdf):
        empty = pd.DataFrame(
            {"query_id": pd.Series(dtype="int64"),
             "neighbor_id": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        if len(probes_pdf) == 0 or len(members_pdf) == 0:
            return empty
        from decimal import ROUND_HALF_UP, Decimal

        q_mat = np.stack(probes_pdf["q_emb"].values).astype(np.float64)
        m_mat = np.stack(members_pdf["embedding"].values).astype(np.float64)
        qn = probes_pdf["q_norm2"].values.astype(np.float64)
        mn = members_pdf["norm2"].values.astype(np.float64)
        acc = np.zeros((len(q_mat), len(m_mat)))
        # dim from the data, not a constant: property corpora use
        # small-dim grid embeddings (the zip_with fold was dim-agnostic)
        for i in range(q_mat.shape[1]):
            acc = acc + q_mat[:, i][:, None] * m_mat[None, :, i]
        cos = acc / np.sqrt(qn[:, None] * mn[None, :])
        qid = probes_pdf["query_id"].values.astype(np.int64)
        vid = members_pdf["vec_id"].values.astype(np.int64)
        rq, rn, rc = [], [], []
        for r in range(len(q_mat)):
            mask = vid != qid[r]
            c, v = cos[r][mask], vid[mask]
            if len(c) == 0:
                continue
            kk = min(k, len(c))
            cut = np.partition(c, len(c) - kk)[len(c) - kk]
            cand = c >= cut - 1.1e-6
            cc, cv = c[cand], v[cand]
            rounded = [
                float(
                    Decimal(repr(x)).quantize(
                        Decimal("0.000001"), ROUND_HALF_UP
                    )
                )
                for x in cc
            ]
            order = sorted(
                range(len(cc)), key=lambda j: (-rounded[j], cv[j])
            )[:kk]
            rq += [int(qid[r])] * len(order)
            rn += [int(cv[j]) for j in order]
            rc += [rounded[j] for j in order]
        if not rq:
            return empty
        return pd.DataFrame(
            {"query_id": rq, "neighbor_id": rn, "cos_sim": rc}
        )

    return (
        probes.groupBy("q_label")
        .cogroup(assigned.groupBy("c_label"))
        .applyInPandas(score, "query_id long, neighbor_id long, cos_sim double")
    )


@query(
    "llm_ivf_search_nprobe",
    oracle=f"""
        with cen_long as (
            select label, i,
                   round(round(sum(embedding[i]::double), 6) / count(*), 6) as c
            from embeddings cross join unnest(generate_series(1, 64)) as u(i)
            group by label, i
        ),
        cen as (
            select label as c_label, list(c order by i) as cvec
            from cen_long group by label
        ),
        e as (
            select vec_id, embedding,
                   {_NORM2_D.format(a='embedding')} as norm2
            from embeddings
        ),
        ranked as (
            select vec_id, embedding, norm2, c_label,
                   row_number() over (
                       partition by vec_id
                       order by {_L2_D.format(a='embedding', b='cvec')} asc,
                                c_label asc) as rn
            from e cross join cen
        ),
        assigned as (
            select vec_id, embedding, norm2, c_label
            from ranked where rn = 1
        ),
        probes as (
            select vec_id, embedding, norm2, c_label
            from ranked where rn <= 2 and vec_id % 25 = 0
        ),
        scored as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   round({_DOT_D.format(a='q.embedding', b='c.embedding')}
                         / sqrt(q.norm2 * c.norm2), 6) as cos_sim
            from probes q join assigned c
              on q.c_label = c.c_label and q.vec_id <> c.vec_id
        )
        select query_id, neighbor_id, cos_sim,
               row_number() over (partition by query_id
                                  order by cos_sim desc, neighbor_id asc) as rnk
        from scored
        qualify rnk <= 3
    """,
)
def llm_ivf_search_nprobe(spark, sf_dir):
    """#137 IVF search with nprobe=2 — the accuracy/cost knob that makes
    IVF usable in production: each QUERY probes its two nearest
    clusters while the corpus stays single-assigned, so candidate
    volume is ~2 n^2/k (vs n^2/k at nprobe=1) and recall recovers the
    neighbors that fall just across a Voronoi boundary.  Same
    deterministic contract as llm_ivf_search (rounded centroids,
    ordered-fold distances, full tie-breaks) so the probe expansion is
    hash-graded exactly.

    Scale: identical to llm_ivf_search plus a 2x fan-out on the QUERY
    side only (queries are the small side by construction); the corpus
    is still never shuffled for assignment and the candidate join stays
    a cluster-key equi-join.
    """
    # _maybe_parallel: see the helper for the stress-run rationale.
    emb = _maybe_parallel(table(spark, sf_dir, "embeddings"), sf_dir)
    e = emb.select(
        "vec_id",
        "embedding",
        F.expr(_NORM2_S.format(a="embedding")).alias("norm2"),
    )
    l2_in = _L2_S.format(a="embedding", b="cn.cvec")
    cens_lit = _cens_expr(_centroids(spark, sf_dir))
    ranked_expr = (
        f"array_sort(transform({cens_lit}, "
        f"cn -> struct({l2_in} as d, cn.c_label as l)))"
    )
    assigned = e.select(
        "vec_id",
        "embedding",
        "norm2",
        F.expr(f"{ranked_expr}[0].l").alias("c_label"),
    )
    probes = (
        e.where(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm2").alias("q_norm2"),
            F.explode(
                F.expr(f"transform(slice({ranked_expr}, 1, 2), s -> s.l)")
            ).alias("q_label"),
        )
    )
    scored = _ivf_cos_topk(probes, assigned)
    from pyspark.sql import Window

    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w_rank)).where(
        F.col("rnk") <= 3
    )


@query(
    "llm_pq_codes",
    oracle=f"""
        with cen_long as (
            select label, i,
                   round(round(sum(embedding[i]::double), 6) / count(*), 6) as c
            from embeddings cross join unnest(generate_series(1, 64)) as u(i)
            group by label, i
        ),
        cen as (
            select label as c_label, list(c order by i) as cvec
            from cen_long group by label
        ),
        d as (
            select e.vec_id, m.m, c.c_label,
                   list_sum(list_transform(generate_series(m.m * 8 + 1,
                                                           m.m * 8 + 8),
                       i -> (e.embedding[i]::double - c.cvec[i])
                            * (e.embedding[i]::double - c.cvec[i]))) as dist
            from embeddings e
            cross join (select unnest(generate_series(0, 7)) as m) m
            cross join cen c
        ),
        best as (
            select vec_id, m, c_label, dist,
                   row_number() over (partition by vec_id, m
                                      order by dist asc, c_label asc) as rn
            from d
            qualify rn = 1
        )
        select vec_id,
               string_agg(c_label::varchar, ',' order by m) as codes,
               cast(sum(cast(round(dist * 1e9) as bigint)) as bigint)
                   as err_nano
        from best
        group by vec_id
    """,
)
def llm_pq_codes(spark, sf_dir):
    """#137-family PRODUCT QUANTIZATION encode: each 64-dim vector is
    split into 8 subvectors of 8 dims; every subvector is replaced by
    the id of its nearest subspace codeword (the per-label centroids
    restricted to that subspace — labels stand in for learned
    codebooks exactly as in IVF), compressing a vector to 8 small
    codes — the memory-bound ANN representation (IVF-PQ) that serves
    billion-vector indexes from RAM.  err_nano is the total squared
    reconstruction distance in exact integer nano-units (the
    exact-cents policy, so the fp-order-sensitive sum of 8 subspace
    distances is order-free and hash-exact).

    Scale: with the _centroids() literal codebook, encoding is a pure
    narrow map — each vector computes 8 local argmins over a constant;
    no shuffle (and no broadcast-build job) at any point.  Distances
    are ordered folds over identical doubles on both engines; code
    ties break by label asc.
    """
    # _maybe_parallel: see the helper for the stress-run rationale.
    emb = _maybe_parallel(table(spark, sf_dir, "embeddings"), sf_dir)
    sub_l2 = (
        "aggregate(zip_with(slice(embedding, m * 8 + 1, 8), "
        "slice(cn.cvec, m * 8 + 1, 8), "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0 as double), (acc, t) -> acc + t)"
    )
    cens_lit = _cens_expr(_centroids(spark, sf_dir))
    pq_expr = (
        f"transform(sequence(0, 7), m -> "
        f"array_sort(transform({cens_lit}, cn -> "
        f"struct({sub_l2} as d, cn.c_label as l)))[0])"
    )
    return (
        emb.select("vec_id", F.expr(pq_expr).alias("pq"))
        .select(
            "vec_id",
            F.expr(
                "array_join(transform(pq, s -> cast(s.l as string)), ',')"
            ).alias("codes"),
            F.expr(
                "aggregate(pq, cast(0 as bigint), "
                "(acc, s) -> acc + cast(round(s.d * 1e9) as bigint))"
            ).alias("err_nano"),
        )
    )


@query(
    "llm_pq_adc_search",
    oracle=f"""
        with cen_long as (
            select label, i,
                   round(round(sum(embedding[i]::double), 6) / count(*), 6) as c
            from embeddings cross join unnest(generate_series(1, 64)) as u(i)
            group by label, i
        ),
        cen as (
            select label as c_label, list(c order by i) as cvec
            from cen_long group by label
        ),
        d as (
            select e.vec_id, m.m, c.c_label,
                   list_sum(list_transform(generate_series(m.m * 8 + 1,
                                                           m.m * 8 + 8),
                       i -> (e.embedding[i]::double - c.cvec[i])
                            * (e.embedding[i]::double - c.cvec[i]))) as dist
            from embeddings e
            cross join (select unnest(generate_series(0, 7)) as m) m
            cross join cen c
        ),
        codes as (
            select vec_id, m, c_label as code
            from d
            qualify row_number() over (partition by vec_id, m
                                       order by dist asc, c_label asc) = 1
        ),
        adc as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   cast(sum(cast(round(list_sum(list_transform(
                       generate_series(c.m * 8 + 1, c.m * 8 + 8),
                       i -> (q.embedding[i]::double - cb.cvec[i])
                            * (q.embedding[i]::double - cb.cvec[i])))
                       * 1e9) as bigint)) as bigint) as adc_nano
            from embeddings q
            join codes c on c.vec_id <> q.vec_id
            join cen cb on cb.c_label = c.code
            where q.vec_id % 25 = 0
            group by q.vec_id, c.vec_id
        )
        select query_id, neighbor_id, adc_nano,
               row_number() over (partition by query_id
                                  order by adc_nano asc, neighbor_id asc)
                   as rnk
        from adc
        qualify rnk <= 3
    """,
)
def llm_pq_adc_search(spark, sf_dir):
    """#137-family IVF-PQ search side — ASYMMETRIC DISTANCE
    COMPUTATION: the full-precision query scores every PQ-coded corpus
    vector as the sum over subspaces of L2(query_subvector,
    codeword[code_m]) — the corpus side is never decompressed, which
    is the entire point of PQ (the index stays 8 bytes/vector).
    Per-subspace distances round to integer nano-units before the
    8-term sum, so ADC scores are exact bigints (order-free) and the
    top-3 per query is hash-graded with full tie-breaks.

    Scale: the true production ADC shape — each query precomputes its
    k x M distance LOOKUP TABLE once, and scoring the corpus is table
    lookups over the 8-small-int code rows.  The LUT is computed
    RELATIONALLY (crossJoin with the codebook frame + the exact
    round-to-nano expression, so the rounding engine is Spark, not
    Python) and collected: it is query-set-sized (|Q| x k x M exact
    bigints — queries are the small side by construction, like the
    _centroids() codebook).  The corpus-side encode + gather runs as
    ONE Arrow-vectorized mapInPandas over the scan: lambda-based
    higher-order functions are CodegenFallback (interpreted per row,
    measured ~0.5s/2k rows locally), while the numpy kernel replays
    the identical left-to-right IEEE fold per element — bit-exact vs
    the oracle — at vector speed.  No shuffle anywhere before the
    query-key top-3; at 100 TB it composes with IVF cluster pruning
    (llm_ivf_search) so each query touches one cluster's codes, not
    the corpus.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    cens = _centroids(spark, sf_dir)
    labels = [l for l, _ in cens]
    cmat = np.array([v for _, v in cens], dtype=np.float64)  # k x 64
    q_sub_l2 = (
        "aggregate(zip_with(slice(q_emb, m * 8 + 1, 8), "
        "slice(cvec, m * 8 + 1, 8), "
        "(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0 as double), (acc, t) -> acc + t)"
    )
    qlut = (
        emb.where(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        .crossJoin(F.broadcast(_cen_frame(spark, cens)))
        .select(
            "query_id",
            "q_emb",
            "c_label",
            "cvec",
            F.explode(F.expr("sequence(0, 7)")).alias("m"),
        )
        .select(
            "query_id",
            "c_label",
            "m",
            F.expr(f"cast(round({q_sub_l2} * 1e9) as bigint)").alias("d_nano"),
        )
    )
    lidx = {l: i for i, l in enumerate(labels)}
    lut_rows = qlut.collect()
    qids = sorted({r.query_id for r in lut_rows})
    qidx = {q: i for i, q in enumerate(qids)}
    lut = np.zeros((len(qids), 8, len(labels)), dtype=np.int64)
    for r in lut_rows:
        lut[qidx[r.query_id], r.m, lidx[r.c_label]] = r.d_nano
    qarr = np.array(qids, dtype=np.int64)

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.stack(pdf["embedding"].values).astype(np.float64)
            # PQ encode: argmin codeword per subspace.  The fold is the
            # same left-to-right acc + (x-y)*(x-y) per element as the
            # Spark/DuckDB expression (elementwise numpy ops preserve
            # per-element order), so distances are bit-identical and
            # np.argmin's first-minimum == label-asc tie-break (the
            # codebook rows are label-sorted).
            pos = np.empty((n, 8), dtype=np.int64)
            for m in range(8):
                acc = np.zeros((n, cmat.shape[0]))
                for i in range(8):
                    d = x[:, m * 8 + i][:, None] - cmat[None, :, m * 8 + i]
                    acc = acc + d * d
                pos[:, m] = np.argmin(acc, axis=1)
            s = np.zeros((len(qarr), n), dtype=np.int64)
            for m in range(8):
                s += lut[:, m, :][:, pos[:, m]]
            vid = pdf["vec_id"].values.astype(np.int64)
            # batch-local EXACT top-3 per query (round-7 scale fix,
            # SCALING.md): emitting all |Q| x n scored rows shipped
            # 16M rows through Arrow into the window sort at the 10x
            # corpus (24-30 s); any global top-3 row is necessarily in
            # its batch's top-3, so emit only those and let the final
            # window merge batch winners.  Exactness under ties: take
            # the 3rd-smallest score as the cut, keep EVERYTHING at or
            # below it, and lexsort those few by (score, neighbor_id)
            # — identical to the window's full tie-break.
            qi_l, nb_l, sc_l = [], [], []
            for qrow in range(len(qarr)):
                srow = s[qrow]
                self_mask = vid != qarr[qrow]
                sv, vv = srow[self_mask], vid[self_mask]
                if len(sv) == 0:
                    continue
                k = min(3, len(sv))
                cut = np.partition(sv, k - 1)[k - 1]
                m2 = sv <= cut
                cs, cv = sv[m2], vv[m2]
                order = np.lexsort((cv, cs))[:k]
                qi_l.append(np.full(k, qarr[qrow]))
                nb_l.append(cv[order])
                sc_l.append(cs[order])
            if not qi_l:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qi_l),
                    "neighbor_id": np.concatenate(nb_l),
                    "adc_nano": np.concatenate(sc_l),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, adc_nano long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_nano").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 3
    )


# ---------------------------------------------------------------------------
# §2.11 #137 — multi-probe LSH (SURVEY.md §8 candidate)
# ---------------------------------------------------------------------------


def _multiprobe_oracle_sql() -> str:
    """DuckDB replay of multi-probe ANN: identical literal hyperplanes,
    query probes its own bucket plus all 8 Hamming-distance-1 buckets."""
    planes = _hyperplanes()
    planes_sql = (
        "[" + ", ".join(
            "[" + ", ".join(f"{v:.1f}" for v in p) + "]::double[]" for p in planes
        ) + "]"
    )
    probes = ", ".join(f"xor(q.bucket, {1 << b})" for b in range(8))
    return f"""
        with pl as (select {planes_sql} as planes),
        e as (
            select vec_id, embedding,
                   {_NORM2_D.format(a='embedding')} as norm2,
                   list_sum(list_transform(generate_series(0, 7), p ->
                       case when list_sum(list_transform(generate_series(1, 64),
                                i -> embedding[i]::double * planes[p + 1][i])) > 0
                            then (1 << p) else 0 end)) as bucket
            from embeddings cross join pl
        ),
        scored as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   round({_DOT_D.format(a='q.embedding', b='c.embedding')}
                         / sqrt(q.norm2 * c.norm2), 6) as cos_sim
            from e q join e c
              on c.bucket in (q.bucket, {probes})
             and q.vec_id <> c.vec_id
            where q.vec_id % 25 = 0
        )
        select query_id, neighbor_id, cos_sim,
               row_number() over (partition by query_id
                                  order by cos_sim desc, neighbor_id asc) as rnk
        from scored
        qualify rnk <= 3
    """


@query("llm_similarity_ann_multiprobe", oracle=_multiprobe_oracle_sql())
def llm_similarity_ann_multiprobe(spark, sf_dir):
    """#137 multi-probe LSH: same 8-hyperplane bucketing as
    llm_similarity_ann_lsh, but each QUERY additionally probes the 8
    buckets at Hamming distance 1 from its own (flip one sign bit) —
    the standard recall repair for sign-LSH (a near neighbor falls on
    the far side of one hyperplane with probability ~theta/pi per
    plane, and one flipped plane is by far the most likely miss).

    Scale: recall is bought with 9 probe keys per QUERY — a 9x
    fan-out of the (small) query side's 8-byte keys, NOT more
    replicas of the corpus (corpus rows still live in exactly one
    bucket; compare index replication, which multiplies the corpus).
    The probe join stays a key-equi-join (explode -> shuffle on
    bucket), so the candidate set is ~9·n/256 per query vs n for
    brute force, and the knob (planes, probe radius) tunes
    recall/cost independently of corpus size.  Deterministic
    (sign-of-exact-double-dot buckets), so hash-graded like the
    single-probe query.

    The 8-plane bucketing is the fixture-scale operating point; the
    production knob is planes ~ log2(n / target-occupancy), keeping
    bucket occupancy (and so per-query candidate volume) constant as
    the corpus grows (SCALING.md 'planes ~ log n' row: the x1->x10
    wall ratio flattened 8.4 -> 3.5 at occupancy-preserving plane
    counts)."""
    from pyspark.sql import Window

    e = _lsh_buckets(spark, sf_dir)
    q = (
        e.where(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm2").alias("q_norm2"),
            # own bucket + the 8 single-bit flips
            F.explode(
                F.expr(
                    "array(bucket, "
                    + ", ".join(f"bucket ^ {1 << b}" for b in range(8))
                    + ")"
                )
            ).alias("probe_bucket"),
        )
    )
    cos = F.round(
        F.expr(_DOT_S.format(a="q_emb", b="embedding"))
        / F.sqrt(F.col("q_norm2") * F.col("norm2")),
        6,
    )
    # each corpus row lives in exactly ONE bucket and probe buckets are
    # distinct per query, so no (query, neighbor) pair can duplicate
    scored = q.join(
        e,
        (F.col("probe_bucket") == F.col("bucket"))
        & (F.col("query_id") != F.col("vec_id")),
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 3
    )


# ---------------------------------------------------------------------------
# north-star extensions (round 7): k-means refinement + SemDeDup
# ---------------------------------------------------------------------------

#: SemDeDup drop threshold — rounded cosine >= this within a cluster
#: marks the higher-id member a semantic duplicate.  0.35 sits between
#: the fixtures' same-label cosine bulk (<= 0.3) and max (~0.48), so
#: the drop set is non-vacuous at every fixture SF (14 / 26 / 391
#: witness pairs at sf0.001 / 0.01 / 0.1) without degenerating to
#: "drop everything".
_SEMDEDUP_TAU = 0.35


@query(
    "llm_kmeans_iterate",
    oracle=f"""
        with cen_long as (
            select label, i,
                   round(round(sum(embedding[i]::double), 6) / count(*), 6) as c
            from embeddings cross join unnest(generate_series(1, 64)) as u(i)
            group by label, i
        ),
        cen as (
            select label as c_label, list(c order by i) as cvec
            from cen_long group by label
        ),
        assigned as (
            select vec_id, label, embedding, c_label,
                   row_number() over (
                       partition by vec_id
                       order by {_L2_D.format(a='embedding', b='cvec')} asc,
                                c_label asc) as rn
            from embeddings cross join cen
            qualify rn = 1
        )
        select c_label as cluster, i as dim,
               round(round(sum(embedding[i]::double), 6) / count(*), 6)
                   as centroid_val,
               count(*) as n_vecs,
               count(*) filter (label <> c_label) as n_moved_in
        from assigned cross join unnest(generate_series(1, 64)) as u(i)
        where i <= 4
        group by c_label, i
    """,
)
def llm_kmeans_iterate(spark, sf_dir):
    """One Lloyd (k-means) refinement step — the iterative-algorithm
    face of the IVF family: every vector re-assigns to its nearest
    current centroid (squared-L2 over the session codebook, ties by
    label asc — identical argmin contract to llm_ivf_search), then
    NEW centroids are recomputed from the re-assignment.  Output is
    the long-form new codebook (first 4 dims, llm_ivf_centroids'
    compare convention) plus per-cluster membership and churn
    (``n_moved_in`` = vectors whose seed label differs from their
    assigned cluster) — the convergence metric a training loop
    monitors per iteration.

    Determinism: the codebook literal is rounded at 6 (order-noise
    absorbed, see _centroids), the argmin is an exact fold over
    identical doubles in both engines, and the new centroid means
    re-apply the round(round(sum,6)/n,6) policy — so an
    "approximate" clustering step is hash-graded exactly.

    Scale: assignment is a narrow map over the constant codebook (no
    corpus shuffle); the recompute is posexplode(64) + map-side-
    combinable groupBy((cluster, dim)) — the canonical distributed
    Lloyd iteration.  Driving k iterations loops this plan with the
    k x 64 result as the next literal codebook: per-iteration driver
    traffic is metadata-sized, exactly like _centroids."""
    emb = _maybe_parallel(table(spark, sf_dir, "embeddings"), sf_dir)
    cens_lit = _cens_expr(_centroids(spark, sf_dir))
    assigned = emb.select(
        "label",
        "embedding",
        F.expr(_assign_expr(cens_lit)).alias("cluster"),
    )
    e = assigned.select(
        "cluster",
        "label",
        F.posexplode("embedding").alias("i0", "v"),
    ).select("cluster", "label", (F.col("i0") + 1).alias("dim"), "v")
    return (
        e.groupBy("cluster", "dim")
        .agg(
            F.round(
                F.round(F.sum(F.col("v").cast("double")), 6) / F.count("*"), 6
            ).alias("centroid_val"),
            F.count("*").alias("n_vecs"),
            F.count_if(F.col("label") != F.col("cluster")).alias("n_moved_in"),
        )
        .where(F.col("dim") <= 4)
        .select("cluster", "dim", "centroid_val", "n_vecs", "n_moved_in")
    )


@query(
    "llm_semantic_dedup",
    oracle=f"""
        with cen_long as (
            select label, i,
                   round(round(sum(embedding[i]::double), 6) / count(*), 6) as c
            from embeddings cross join unnest(generate_series(1, 64)) as u(i)
            group by label, i
        ),
        cen as (
            select label as c_label, list(c order by i) as cvec
            from cen_long group by label
        ),
        e as (
            select vec_id, embedding,
                   {_NORM2_D.format(a='embedding')} as norm2
            from embeddings
        ),
        assigned as (
            select vec_id, embedding, norm2, c_label,
                   row_number() over (
                       partition by vec_id
                       order by {_L2_D.format(a='embedding', b='cvec')} asc,
                                c_label asc) as rn
            from e cross join cen
            qualify rn = 1
        ),
        dropped as (
            select b.vec_id as vec_id, min(a.vec_id) as dup_of
            from assigned a join assigned b
              on a.c_label = b.c_label and a.vec_id < b.vec_id
            where round({_DOT_D.format(a='a.embedding', b='b.embedding')}
                        / sqrt(a.norm2 * b.norm2), 6) >= {_SEMDEDUP_TAU}
            group by b.vec_id
        )
        select s.c_label as cluster, s.vec_id as vec_id,
               (d.vec_id is null) as keep,
               coalesce(d.dup_of, -1) as dup_of
        from assigned s left join dropped d on s.vec_id = d.vec_id
    """,
)
def llm_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then deduplicate ONLY within clusters — a vector
    is dropped when a lower-id member of its own cluster has rounded
    cosine >= tau (0.35); the drop decision records its witness
    (``dup_of`` = smallest such id, -1 for kept rows).  Clusters come
    from the same nearest-centroid assignment as llm_ivf_search, so
    this is the decision layer the pairwise llm_embed_cosine_neardup
    lacks: every vector gets an explicit keep/drop verdict, ready for
    the anti-join application pass (llm_dedup_apply's shape).

    Scale: THE point of SemDeDup — the O(n^2) semantic comparison is
    confined to k independent O((n/k)^2) blocks, and k grows with the
    corpus (the codebook stays metadata-sized).  Assignment is a
    narrow map over the constant codebook; norms are computed once per
    vector (n, not n^2, folds); the drop aggregation is a map-side-
    combinable min per duplicate.  The codebook is the per-label
    one; a k ~ sqrt(n) codebook flattens the block cost but makes the
    interpreted argmin dominate (SCALING.md 'k ~ sqrt(n)' table)."""
    # lo=0: downstream is the per-PAIR kernel — quadratic in the
    # partition's row count — so even the smallest fixture pays for
    # spreading (measured 2.3-3.5 s on the 1-2 partition scan vs
    # 0.7-1.5 s spread, sf0.1); the pinned assigned frame keeps the
    # repartition a one-time cost, and the helper's upper band stops
    # it at real-corpus scale.
    emb = _maybe_parallel(table(spark, sf_dir, "embeddings"), sf_dir, lo=0)
    # assigned feeds BOTH self-join sides AND the final output join;
    # the k x 64-literal argmin is the expensive narrow map (SCALING.md
    # IVF finding: ~1 ms/row), so pin it once instead of recomputing
    # the subtree per consumer (measured 3.3-3.5 s -> ~1 s at sf0.1).
    cens_lit = _cens_expr(_centroids(spark, sf_dir))
    assigned = _pin(
        emb.select(
            "vec_id",
            "embedding",
            F.expr(_NORM2_S.format(a="embedding")).alias("norm2"),
            F.expr(_assign_expr(cens_lit)).alias("cluster"),
        )
    )
    dropped = _semdedup_drops(assigned)
    # the drop list is duplicate-count-sized (hundreds of rows here;
    # at corpus scale it is the semantic-dup fraction, typically a few
    # percent of n x 8 bytes) — broadcast it so the verdict join never
    # shuffles/sorts the corpus-sized assigned frame; if a corpus's
    # dup list outgrows broadcast, dropping the hint degrades to the
    # same co-partitioned join llm_dedup_apply uses.
    s = assigned.alias("s")
    d = F.broadcast(dropped).alias("d")
    return s.join(d, F.col("s.vec_id") == F.col("d.vec_id"), "left").select(
        F.col("s.cluster").alias("cluster"),
        F.col("s.vec_id").alias("vec_id"),
        F.col("d.vec_id").isNull().alias("keep"),
        F.coalesce(F.col("d.dup_of"), F.lit(-1)).alias("dup_of"),
    )


def _semdedup_drops(assigned):
    """Per-cluster numpy drop kernel for llm_semantic_dedup (round 7,
    after the x10 stress run): the JVM HOF cosine is interpreted at
    every pair (CodegenFallback, the _ivf_cos_topk finding), and
    SemDeDup's within-cluster volume grows (n/k)^2 — 13.1x wall for
    10x data with k fixed by the fixtures.  Scoring each cluster as
    one dense numpy product cuts the per-pair constant ~5x and keeps
    rows crossing the Arrow boundary to the DROPPED set only.

    Bit-exactness discipline (identical to _ivf_cos_topk):

    * the dot is a dim-ascending accumulation (acc = acc + a_i*b_i) —
      the same IEEE fold as the zip_with/aggregate expression and the
      DuckDB oracle's list_sum;
    * norms come through from the JVM-computed frame, and
      dot/sqrt(na*nb) is the same three-op sequence;
    * the tau comparison is on round-half-up-at-6 values, replicated
      via Decimal(repr(x)) ONLY on the candidate band
      raw >= tau - 1.1e-6 (no pair below the band can round up to
      tau); witnesses scan a ascending and stop at the first
      confirmed — exactly min(a).

    Scale: one task per cluster, cluster matrices are (n/k)^2 doubles
    — bounded because production k grows with n (the SemDeDup paper
    runs k ~ sqrt(n); the declared query's k is fixture-fixed).  A
    cluster too large for one task splits into tile pairs over the
    same kernel without changing semantics."""
    import numpy as np
    import pandas as pd

    def drops(pdf):
        empty = pd.DataFrame(
            {"vec_id": pd.Series(dtype="int64"),
             "dup_of": pd.Series(dtype="int64")}
        )
        if len(pdf) < 2:
            return empty
        from decimal import ROUND_HALF_UP, Decimal

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        mat = np.stack(pdf["embedding"].values).astype(np.float64)
        nrm = pdf["norm2"].values.astype(np.float64)
        vid = pdf["vec_id"].values.astype(np.int64)
        n = len(pdf)
        acc = np.zeros((n, n))
        for i in range(mat.shape[1]):
            acc = acc + mat[:, i][:, None] * mat[None, :, i]
        cos = acc / np.sqrt(nrm[:, None] * nrm[None, :])
        band = cos >= (_SEMDEDUP_TAU - 1.1e-6)
        out_v, out_d = [], []
        for b in range(1, n):
            cand = np.nonzero(band[:b, b])[0]  # witnesses a < b, asc
            dup = -1
            for a in cand:
                r = float(
                    Decimal(repr(float(cos[a, b]))).quantize(
                        Decimal("0.000001"), ROUND_HALF_UP
                    )
                )
                if r >= _SEMDEDUP_TAU:
                    dup = int(vid[a])
                    break
            if dup >= 0:
                out_v.append(int(vid[b]))
                out_d.append(dup)
        if not out_v:
            return empty
        return pd.DataFrame({"vec_id": out_v, "dup_of": out_d})

    return assigned.groupBy("cluster").applyInPandas(
        drops, "vec_id long, dup_of long"
    )


def kmeans_train(spark, sf_dir, iters: int = 5):
    """Drive Lloyd's algorithm to (at most) ``iters`` iterations —
    the multi-step consumer of the llm_kmeans_iterate plan, showing
    the iterative-algorithm pattern end-to-end: each iteration runs
    ONE distributed job (narrow-map assignment over the literal
    codebook + posexplode/groupBy recompute) and ships only the
    k x dim rounded codebook through the driver (the _centroids
    contract: per-iteration driver traffic is metadata-sized,
    independent of corpus size).  Stops early when the codebook is
    unchanged (exact comparison — centroids are rounded at 6, so
    fixed-point detection is deterministic, no epsilon).

    Returns (codebook, n_iters_run): codebook is the sorted
    [(cluster, [dim doubles])] list in _centroids' format, directly
    inlinable by every IVF/PQ consumer.  Always a FRESH copy — when
    the seed is already a fixed point the naive return value would be
    the memoized list, and a caller mutating it (editing a
    centroid before re-inlining) would silently corrupt the session
    codebook every IVF/PQ declared query inlines from (round-7
    review).  Seeds are the per-label centroids; Lloyd may empty a
    cluster, and the codebook then simply shrinks, which every argmin
    consumer handles."""
    emb = _maybe_parallel(table(spark, sf_dir, "embeddings"), sf_dir)
    cens = [(lbl, list(vec)) for lbl, vec in _centroids(spark, sf_dir)]
    for it in range(1, iters + 1):
        assigned = emb.select(
            "embedding",
            F.expr(_assign_expr(_cens_expr(cens))).alias("cluster"),
        )
        new = (
            assigned.select(
                "cluster", F.posexplode("embedding").alias("i0", "v")
            )
            .groupBy("cluster", (F.col("i0") + 1).alias("dim"))
            .agg(
                F.round(
                    F.round(F.sum(F.col("v").cast("double")), 6)
                    / F.count("*"),
                    6,
                ).alias("c")
            )
            .groupBy(F.col("cluster"))
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, c))), "
                    "s -> s.c)"
                ).alias("cvec")
            )
        )
        new_cens = sorted(
            (int(r.cluster), [float(x) for x in r.cvec])
            for r in new.collect()
        )
        if new_cens == cens:
            return cens, it - 1
        cens = new_cens
    return cens, iters
