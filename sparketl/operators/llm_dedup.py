"""Deduplication operators (SURVEY.md §2.11 #135-136): exact
signature dedup, MinHash-LSH, SimHash, and the exact n-gram Jaccard
family (plain + document-frequency-capped).  Split out of llm.py in
round 8 — registry names and the ``sparketl.operators.llm`` import
surface are unchanged.  Incremental/bloom/survivorship/components/span
faces live in operators/curation.py."""

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
from sparketl.tables import table


# ---------------------------------------------------------------------------
# §2.11 #135 — exact dedup
# ---------------------------------------------------------------------------


@query(
    "llm_dedup_exact",
    oracle="""
        select min(doc_id) as keep_id,
               md5(text)   as text_md5,
               count(*)    as n_copies
        from documents
        group by text
    """,
)
def llm_dedup_exact(spark, sf_dir):
    """#135 exact dedup: one keeper (min doc_id) per distinct text.

    Scale: a single hash-partitioned groupBy on the text hash — the
    canonical 100-TB exact-dedup plan.  Grouping by md5(text) rather
    than the full text keeps shuffle rows ~32 bytes instead of
    document-sized; partial aggregation (min/count) is map-side
    combinable so the shuffle carries one row per distinct doc per
    mapper.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    ).select("keep_id", "text_md5", "n_copies")


# ---------------------------------------------------------------------------
# §2.11 #136 — MinHash + LSH fuzzy dedup
# ---------------------------------------------------------------------------

_MINHASH_K = 8  # signature length


_LSH_BANDS = 4  # bands of R = K/B = 2 rows


# Double-hashing minhash (Broder): two md5-derived base hashes per
# shingle, then sig[k] = min over shingles of (h1 + k*h2) mod 2^60 —
# 2 md5 evaluations per shingle instead of K.  Computed via
# explode -> groupBy(doc).min so each md5 runs EXACTLY once (array
# lambdas re-evaluate inlined subexpressions per signature row); the
# per-doc min aggregation is map-side combinable, which is also the
# right 100 TB shape.  h2 < 2^60, k <= 7 => h1 + k*h2 < 2^63.
_MOD60 = 1 << 60


@query(
    "llm_dedup_minhash_lsh",
    oracle=f"""
        with d as materialized (
            select doc_id, {_SHINGLES_D} as sh
            from documents
            where len({_TOKS_D}) >= 2
        ),
        ex as (
            select doc_id, (('0x' || substr(md5('0' || '|' || s), 1, 15))::bigint) as h1, (('0x' || substr(md5('1' || '|' || s), 1, 15))::bigint) as h2
            from (select doc_id, unnest(sh) as s from d)
        ),
        sg as (select doc_id, min((h1 + 0 * h2) % 1152921504606846976) as s0, min((h1 + 1 * h2) % 1152921504606846976) as s1, min((h1 + 2 * h2) % 1152921504606846976) as s2, min((h1 + 3 * h2) % 1152921504606846976) as s3, min((h1 + 4 * h2) % 1152921504606846976) as s4, min((h1 + 5 * h2) % 1152921504606846976) as s5, min((h1 + 6 * h2) % 1152921504606846976) as s6, min((h1 + 7 * h2) % 1152921504606846976) as s7 from ex group by doc_id),
        bd as (
            select doc_id, unnest([md5('0:' || s0::varchar || ',' || s1::varchar), md5('1:' || s2::varchar || ',' || s3::varchar), md5('2:' || s4::varchar || ',' || s5::varchar), md5('3:' || s6::varchar || ',' || s7::varchar)]) as band_key
            from sg
        ),
        cand as (
            select distinct a.doc_id as doc_a, b.doc_id as doc_b
            from bd a join bd b
              on a.band_key = b.band_key and a.doc_id < b.doc_id
        )
        select c.doc_a, c.doc_b,
               round(len(list_intersect(x.sh, y.sh))
                     / len(list_distinct(x.sh || y.sh)), 6) as jaccard
        from cand c
        join d x on c.doc_a = x.doc_id
        join d y on c.doc_b = y.doc_id
        where round(len(list_intersect(x.sh, y.sh))
                    / len(list_distinct(x.sh || y.sh)), 6) >= 0.5
    """,
)
def llm_dedup_minhash_lsh(spark, sf_dir):
    """#136 fuzzy dedup: MinHash signatures over word-bigram shingles,
    LSH banding (K=8, 4 bands x 2 rows) to generate candidates, exact
    Jaccard >= 0.5 confirmation on candidates only.

    Scale: the self-join is on band_key — an equi-join whose fan-out is
    bounded by bucket size, NOT a quadratic cross join; this is the
    standard web-scale near-dedup plan (one shuffle to bucket, one to
    dedup pairs).  Signature computation is a single narrow map (no
    explode of shingles), so 100 TB of documents stream through
    without intermediate blow-up.  Skewed buckets (boilerplate docs)
    put a hot bucket's all-pairs work on one task, and AQE's skew-join
    relieves that only partly: it detects skew by INPUT bytes, while a
    boilerplate bucket is ~10% of input rows yet ~99.9% of output
    pairs (SCALING.md r11 band-skew table).
    """
    docs = table(spark, sf_dir, "documents")
    d = _parallel(docs.where(F.expr(f"size({_TOKS_S}) >= 2"))).select(
        "doc_id", F.expr(_SHINGLES_S).alias("sh")
    )
    # bands carry ONLY (doc_id, band_key): the pair self-join and its
    # dedup shuffle 16-byte rows, never document-sized shingle arrays
    # (arrays are re-attached per unique pair afterwards) — at 100 TB
    # this is the difference between shuffling keys and shuffling the
    # corpus.
    d = _pin(d)  # reused 3x (bands, both jaccard sides); ~doc-count rows
    ex = d.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id",
        F.expr(_h_spark(repr("0"), "s")).alias("h1"),
        F.expr(_h_spark(repr("1"), "s")).alias("h2"),
    )
    sig = ex.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + F.lit(k) * F.col("h2")) % F.lit(_MOD60)).alias(
                f"s{k}"
            )
            for k in range(_MINHASH_K)
        ]
    )
    band_exprs = [
        F.md5(
            F.concat(
                F.lit(f"{b}:"),
                F.col(f"s{2 * b}").cast("string"),
                F.lit(","),
                F.col(f"s{2 * b + 1}").cast("string"),
            )
        )
        for b in range(_LSH_BANDS)
    ]
    # pinned: the pair generator self-joins this — without it the
    # signature pipeline runs TWICE (once per join side)
    bands = _pin(
        sig.select("doc_id", F.explode(F.array(*band_exprs)).alias("band_key"))
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    x = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jacc = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        6,
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# §2.11 north-star — SimHash signatures
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # our md5-derived hash is 60-bit


_THASH_S = f"transform(array_distinct({_TOKS_S}), t -> {_h_spark('0', 't')})"


_THASH_D = f"list_transform(list_distinct({_TOKS_D}), t -> {_h_duck('0', 't')})"


_SIMHASH_S = (
    f"aggregate(transform(sequence(0, {_SIMHASH_BITS - 1}), "
    "j -> if(size(filter(th, h -> (shiftright(h, j) & 1) = 1)) * 2 > size(th), "
    "shiftleft(cast(1 as bigint), j), cast(0 as bigint))), "
    "cast(0 as bigint), (acc, x) -> acc + x)"
)


_SIMHASH_D = (
    f"cast(list_sum(list_transform(generate_series(0, {_SIMHASH_BITS - 1}), "
    "j -> case when len(list_filter(th, h -> (h >> j) & 1 = 1)) * 2 > len(th) "
    "then (1::bigint << j) else 0::bigint end)) as bigint)"
)


@query(
    "llm_dedup_simhash",
    oracle=f"""
        with t as (select doc_id, {_THASH_D} as th from documents)
        select doc_id, {_SIMHASH_D} as simhash
        from t
    """,
)
def llm_dedup_simhash(spark, sf_dir):
    """North-star SimHash: 60-bit signature per document (majority vote
    per bit over md5-derived token hashes).  Near-duplicates are then
    findable by hamming distance (``bit_count(a ^ b)``) — at scale via
    bit-block banding (split the 60 bits into 4 blocks of 15, equi-join
    on each block: any pair within hamming distance 3 shares >= 1 exact
    block, pigeonhole).  Signature computation is a pure narrow map.
    """
    docs = table(spark, sf_dir, "documents")
    return _parallel(docs).select(
        "doc_id", F.expr(_THASH_S).alias("th")
    ).select("doc_id", F.expr(_SIMHASH_S).alias("simhash"))


def _jaccard_pair_counts(spark, e, cand, max_id):
    """Shared candidate-join + intersection-count core of the exact
    n-gram Jaccard family (llm_dedup_ngram_jaccard / _dfcap).

    ``e`` is the postings frame (doc_id, lang, n_sh, s); ``cand`` the
    EXACT candidate-pair volume sum(df*(df-1)/2) over (lang, s)
    buckets and ``max_id`` the max doc_id, both from the caller's
    single planning-stats job.  Returns (doc_a, doc_b, ssum, n_inter).

    Round-7 scale fix (measured on the 10x stress corpus, SCALING.md):
    the naive groupBy(pair).count() plan let AQE size both the join
    input and the count exchange from INPUT bytes (~100 MB of
    postings), while the join OUTPUT explodes ~260x — everything
    funneled through ~32 tasks, spilling 43 GB and running 199 s.
    Candidate volume is exactly computable BEFORE the join from the
    df table (the same statistics a CBO would collect), so:

    * the postings are repartitioned by (lang, s) to spread the
      join's generate+write work (capped at 512 locally; at cluster
      scale the cap is total cores * 2-3);
    * the pair stream is repartitioned by pair key to
      cand/_PAIR_ROWS_PER_PART partitions before counting —
      explicitly, because AQE can only coalesce DOWN from
      spark.sql.shuffle.partitions, never split UP past it, and the
      pair exchange needs ~30x more partitions than any input-sized
      shuffle at 10x data;
    * shuffled pair rows are ONE packed bigint (doc_a<<32 | doc_b,
      taken only when the caller VERIFIED 0 <= min_id and
      max_id < 2^31 from its planning stats; callers pass max_id=None
      for unverified or negative id domains and the unpacked
      (doc_a, doc_b) key runs instead) plus
      ssum = n_sh_a + n_sh_b riding along in the group key, so the
      J >= 0.5 threshold applies immediately post-count with no
      per-pair rejoin: 3*n_inter >= ssum is EXACTLY round(J,6) >= 0.5
      because the closest rational below 1/2 is n/(2n+1) <= 0.4975
      for set sizes <= 10^5 — rounding cannot bridge the gap.

    Measured x10 (50k docs, 8.96e8 candidate pairs, local[32]):
    199 s / 43 GB spill -> 67.6 s / zero spill; x1 unchanged within
    noise.  Wall now tracks candidate volume ~linearly — the honest
    cost of EXACT all-pairs Jaccard on a near-dup-dense corpus; the
    subquadratic paths are minhash-LSH and the df-cap (see SCALING.md).
    """
    if cand is None:
        # small-corpus fast path (see _JACCARD_STATS_MIN_BYTES): default
        # partitioning, no planning job, no explicit exchanges
        n_parts = None
    else:
        n_parts = max(32, min(4096, int(cand / _PAIR_ROWS_PER_PART) + 1))
        e = e.repartition(min(n_parts, 512), "lang", "s")
    pairs = e.alias("a").join(
        e.alias("b"),
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.n_sh") <= 2 * F.col("b.n_sh"))
        & (F.col("b.n_sh") <= 2 * F.col("a.n_sh")),
    )
    ssum = (F.col("a.n_sh") + F.col("b.n_sh")).alias("ssum")
    if max_id is not None and 0 <= max_id < (1 << 31):
        pk = pairs.select(
            (
                F.shiftleft(F.col("a.doc_id"), 32).bitwiseOR(F.col("b.doc_id"))
            ).alias("pk"),
            ssum,
        )
        if n_parts is not None:
            pk = pk.repartition(n_parts, "pk")
        return (
            pk.groupBy("pk", "ssum")
            .agg(F.count("*").alias("n_inter"))
            .where(3 * F.col("n_inter") >= F.col("ssum"))
            .select(
                F.shiftright("pk", 32).alias("doc_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("doc_b"),
                "ssum",
                "n_inter",
            )
        )
    pk = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        ssum,
    )
    if n_parts is not None:
        pk = pk.repartition(n_parts, "doc_a", "doc_b")
    return (
        pk.groupBy("doc_a", "doc_b", "ssum")
        .agg(F.count("*").alias("n_inter"))
        .where(3 * F.col("n_inter") >= F.col("ssum"))
    )


@query(
    "llm_dedup_ngram_jaccard",
    oracle=f"""
        with d as materialized (
            select doc_id, lang, {_SHINGLES_D} as sh
            from documents
            where len({_TOKS_D}) >= 2
        ),
        e as (select doc_id, lang, unnest(sh) as s from d),
        n as (select doc_id, len(sh) as n_sh from d),
        inter as (
            select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
            from e a join e b
              on a.s = b.s and a.lang = b.lang and a.doc_id < b.doc_id
            group by 1, 2
        )
        select i.doc_a, i.doc_b,
               round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) as jaccard
        from inter i
        join n na on i.doc_a = na.doc_id
        join n nb on i.doc_b = nb.doc_id
        where round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) >= 0.5
    """,
)
def llm_dedup_ngram_jaccard(spark, sf_dir):
    """North-star exact n-gram Jaccard: inverted-index join on shared
    shingles (lossless prefilter — Jaccard > 0 implies >= 1 shared
    shingle), blocked by ``lang`` to bound fan-out, exact
    |A∩B| / (|A|+|B|-|A∩B|) >= 0.5.

    Plan: postings self-join on (lang, shingle) with the lossless
    length filter (J >= 0.5 forces max(|A|,|B|) <= 2*min(|A|,|B|))
    pushed into the join, then ``groupBy(pair).count()`` — the shared-
    shingle count IS |A∩B| because shingle sets are distinct per doc.
    Jaccard falls out arithmetically; no per-pair array materialization
    and the aggregation is map-side combinable.

    Measured round 3 (sf0.1, local[32], warm): 1.5-2.1s vs 11.8s for
    the previous Chaudhuri prefix-filter + array_intersect-verify
    variant.  On this fixture's deliberately hot 31-word vocabulary
    the prefix filter kept 55% of all same-lang pairs as candidates
    (1.38M of 2.5M) while paying a window-rank shuffle, two caches and
    a ~51-element array_intersect per candidate — verification cost
    dwarfed the pruning.  Count-based wins whenever candidate density
    is high; the prefix+verify variant wins on Zipf vocabularies where
    the prefix prunes quadratically.

    Scale: shuffle volume is sum(df^2) over (lang, shingle) buckets —
    hot shingles are the skew risk.  Round-7: the pair join/count core
    moved to :func:`_jaccard_pair_counts`, which sizes BOTH exchanges
    from the exact candidate volume (one planning-stats job over the
    df table — the CBO step a 100 TB run would do anyway) and ships
    packed single-bigint pair keys; see its docstring for the measured
    199 s -> 67.6 s / 43 GB -> 0 spill fix on the 10x stress corpus.
    At 100 TB the df-cap variant (llm_dedup_ngram_dfcap) bounds
    volume against skew; this lossless form stays Θ(sum df^2) by
    definition of exactness.
    """
    docs = table(spark, sf_dir, "documents")
    d = _parallel(docs.where(F.expr(f"size({_TOKS_S}) >= 2"))).select(
        "doc_id", "lang", F.expr(_SHINGLES_S).alias("sh")
    )
    e = d.select(
        "doc_id", "lang", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    if _scan_bytes(sf_dir, "documents") < _JACCARD_STATS_MIN_BYTES:
        # small corpus: no planning job — and therefore no verified
        # id-domain either, so take the UNPACKED pair key (max_id
        # None).  Assuming 32-bit-safe ids here would silently merge
        # distinct pairs on a tiny corpus with snowflake/negative ids
        # (round-7 review); the packed key saves nothing at this size.
        cand, max_id = None, None
    else:
        # planning stats: exact candidate volume + doc-id domain
        # (BOTH ends — a small max does not rule out negative ids), 1 job
        stats = (
            e.groupBy("lang", "s")
            .agg(
                F.count("*").alias("df"),
                F.max("doc_id").alias("m"),
                F.min("doc_id").alias("mn"),
            )
            .agg(
                F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("cand"),
                F.max("m").alias("max_id"),
                F.min("mn").alias("min_id"),
            )
            .collect()[0]
        )
        cand = float(stats.cand or 0.0)
        max_id = (
            stats.max_id
            if stats.min_id is not None and stats.min_id >= 0
            else None
        )
    inter = _jaccard_pair_counts(spark, e, cand, max_id)
    jacc = F.round(
        F.col("n_inter") / (F.col("ssum") - F.col("n_inter")), 6
    )
    return (
        inter.select("doc_a", "doc_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# §2.11 #136 — df-capped n-gram Jaccard (the 100-TB skew mitigation,
# as a first-class graded operator)
# ---------------------------------------------------------------------------


@query(
    "llm_dedup_ngram_dfcap",
    oracle=f"""
        with d as materialized (
            select doc_id, lang, {_SHINGLES_D} as sh
            from documents
            where len({_TOKS_D}) >= 2
        ),
        tot as (select count(*) as n_docs from d),
        e0 as materialized (select doc_id, lang, unnest(sh) as s from d),
        dfreq as (
            select lang, s, count(*) as df
            from e0 group by lang, s
        ),
        e as (
            select e0.doc_id, e0.lang, e0.s
            from e0
            join dfreq on e0.lang = dfreq.lang and e0.s = dfreq.s
            cross join tot
            where dfreq.df <= greatest(2, cast(ceil(0.05 * tot.n_docs) as bigint))
        ),
        n as (select doc_id, count(*) as n_sh from e group by doc_id),
        inter as (
            select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
            from e a join e b
              on a.s = b.s and a.lang = b.lang and a.doc_id < b.doc_id
            group by 1, 2
        )
        select i.doc_a, i.doc_b,
               round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) as jaccard
        from inter i
        join n na on i.doc_a = na.doc_id
        join n nb on i.doc_b = nb.doc_id
        where round(n_inter / (na.n_sh + nb.n_sh - n_inter), 6) >= 0.5
    """,
)
def llm_dedup_ngram_dfcap(spark, sf_dir):
    """#136 df-capped n-gram Jaccard: identical inverted-index plan to
    llm_dedup_ngram_jaccard, but shingles whose document frequency
    exceeds max(2, ceil(5% of corpus)) are dropped from the index and
    the metric — i.e. Jaccard over the LOW-DF shingle universe, the
    standard boilerplate-removal formulation from the dedup
    literature.

    The cap is computed exactly (per-lang df, corpus count via a
    broadcast scalar — no collect), so the operator is deterministic
    and the DuckDB oracle replays it bit-for-bit: the "lossy at 100 TB"
    mitigation is itself hash-graded here.

    Scale: THE fix for the hot-shingle skew called out in
    llm_dedup_ngram_jaccard — posting-join shuffle volume is
    sum(df^2) per shingle, so one boilerplate shingle in 1% of a
    100 TB corpus generates 10^14 pair rows; capping df bounds every
    POSTING LIST, so no single shingle can dominate.  Honesty note
    from the round-7 stress run (SCALING.md): the cap bounds SKEW,
    not total volume — the cap threshold scales with corpus size, so
    a corpus whose every shingle sits just below it (the synthetic
    dense-uniform vocabulary is exactly that worst case) still pays
    Θ(sum df^2) overall.  Total volume is instead made safe by the
    shared :func:`_jaccard_pair_counts` core, which sizes both
    exchanges from the exact candidate count (measured x10: 138.7 s /
    40 GB spill -> ~70 s / zero spill)."""
    docs = table(spark, sf_dir, "documents")
    d = _parallel(docs.where(F.expr(f"size({_TOKS_S}) >= 2"))).select(
        "doc_id", "lang", F.expr(_SHINGLES_S).alias("sh")
    )
    e0 = d.select("doc_id", "lang", F.explode("sh").alias("s"))
    small = _scan_bytes(sf_dir, "documents") < _JACCARD_STATS_MIN_BYTES
    # kept = the sub-cap shingle vocabulary.  It is vocabulary-sized
    # (not postings-sized), so BROADCAST it and the postings stream is
    # never shuffled for the cap — measured 8-11s -> ~2s at sf0.1 vs
    # the previous shuffle join + cache + count join-back plan.  At
    # 100 TB a billion-term vocabulary outgrows a broadcast: drop the
    # hint and the same plan runs as a shuffle semi-join that AQE
    # skew-splits — the downstream pair-join bound is unchanged.
    dfreq = e0.groupBy("lang", "s").agg(F.count("*").alias("df"))
    if small:
        # fast path: ONE scalar planning job (corpus size for the cap +
        # doc-id domain for the packed pair key — BOTH ends, a small
        # max does not rule out negative ids), no repartitions
        nd = d.agg(
            F.count("*").alias("n_docs"),
            F.max("doc_id").alias("max_id"),
            F.min("doc_id").alias("min_id"),
        ).collect()[0]
        cand = None
    else:
        # ONE planning action for BOTH stat sets (optimization round
        # 16, guide §1.2): the corpus/doc-id stats ride in as a
        # broadcast scalar and the capped candidate volume aggregates
        # the df table against the in-plan cap — previously two
        # SEQUENTIAL driver-blocking collects (d-stats, then the
        # cand sum gated on the Python-computed cap).  The in-plan cap
        # `(5*n_docs + 99) div 100` is integer arithmetic, exactly
        # Python's ceil(0.05*n) = -(-5n//100) for n >= 0.  dfreq is
        # additionally PINNED here: the planning job materializes the
        # vocabulary-sized df table once, and the main query's `kept`
        # broadcast build then reads the cache instead of re-running
        # the full scan+explode+groupBy corpus pass (4 -> 3 corpus
        # passes per execution; the cache is ~|vocabulary| rows).
        dfreq = _pin(dfreq)
        ndf = d.agg(
            F.count("*").alias("n_docs"),
            F.max("doc_id").alias("max_id"),
            F.min("doc_id").alias("min_id"),
        )
        nd = (
            dfreq.crossJoin(F.broadcast(ndf))
            .where(
                F.col("df")
                <= F.greatest(
                    F.lit(2).cast("long"),
                    F.expr("(5 * n_docs + 99) div 100"),
                )
            )
            .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("c"))
            .crossJoin(F.broadcast(ndf))
            .collect()[0]
        )
        cand = float(nd.c or 0.0)
    cap = max(2, -(-5 * int(nd.n_docs) // 100))  # ceil(0.05 * n_docs)
    kept = dfreq.where(F.col("df") <= cap).select("lang", "s")
    # e is consumed three times (the n_sh aggregate + both self-join
    # sides); without a cache the scan+explode+semi lineage recomputes
    # per consumer.  Measured at sf0.1 steady-state: 2.88s cached vs
    # 2.97s recomputed — a wash locally, but the cache also removes the
    # 3x recompute landmine (SURVEY.md §8 #4), so keep it.  Pinned via
    # _pin(): a session keeps at most _PIN_KEEP live cache entries, so
    # repeated invocations in a long-lived session (pytest, a notebook)
    # cannot leak blocks even if the caller never clearCache()s.  At 100 TB
    # the capped postings are the smallest corpus-scale intermediate in
    # this query; MEMORY_AND_DISK spills rather than OOMs if a cluster
    # can't hold them.
    e = _pin(e0.join(F.broadcast(kept), ["lang", "s"], "left_semi"))
    # capped per-doc set sizes ride back in as a broadcast (doc-count-
    # sized keys+count; at corpus scale this becomes a co-partitioned
    # sort-merge join on doc_id instead)
    n = e.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    en = e.join(F.broadcast(n), "doc_id").select(
        "doc_id", "lang", "n_sh", "s"
    )
    inter = _jaccard_pair_counts(
        spark,
        en,
        cand,
        nd.max_id if nd.min_id is not None and nd.min_id >= 0 else None,
    )
    jacc = F.round(
        F.col("n_inter") / (F.col("ssum") - F.col("n_inter")), 6
    )
    return (
        inter.select("doc_a", "doc_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )
