"""Text analysis operators (SURVEY.md §2.11 #138-140): quality
scoring, language-ID, token counting, fingerprinting, tf-idf, unigram
NLL, chunking, PII redaction, multimodal binary plumbing.  Split out
of llm.py in round 8 — registry names and the
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
from sparketl.tables import table


# ---------------------------------------------------------------------------
# §2.11 #138 — text analysis
# ---------------------------------------------------------------------------


@query(
    "llm_text_quality",
    oracle=f"""
        with t as (
            select doc_id, text, {_TOKS_D} as toks, len({_TOKS_D}) as n_words
            from documents
        )
        select doc_id, n_words,
               len(list_distinct(toks)) as n_distinct_words,
               round((length(text) - (n_words - 1)) / n_words, 6) as avg_word_len,
               round(len(list_distinct(toks)) / n_words, 6) as ttr,
               round(len(list_filter(toks, x -> x in ('the', 'a'))) / n_words, 6)
                   as stopword_ratio,
               (len(list_distinct(toks)) / n_words) >= 0.4 and n_words >= 15
                   as is_high_quality
        from t
    """,
)
def llm_text_quality(spark, sf_dir):
    """#138 quality scoring: word count, type-token ratio, average word
    length, stopword ratio, and a boolean quality gate — the standard
    pre-training corpus filters (length / repetition / stopword
    heuristics a la C4/Gopher rules).

    Scale: pure narrow map — no shuffle at all; runs at scan speed on
    any corpus size.
    """
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "text",
        F.expr(_TOKS_S).alias("toks"),
        F.expr(f"size({_TOKS_S})").alias("n_words"),
    )
    n_distinct = F.size(F.array_distinct("toks"))
    return t.select(
        "doc_id",
        "n_words",
        n_distinct.alias("n_distinct_words"),
        F.round(
            (F.length("text") - (F.col("n_words") - 1)) / F.col("n_words"), 6
        ).alias("avg_word_len"),
        F.round(n_distinct / F.col("n_words"), 6).alias("ttr"),
        F.round(
            F.expr("size(filter(toks, x -> x in ('the', 'a')))")
            / F.col("n_words"),
            6,
        ).alias("stopword_ratio"),
        (
            (n_distinct / F.col("n_words") >= 0.4) & (F.col("n_words") >= 15)
        ).alias("is_high_quality"),
    )


_LANG_MARKERS = {
    "de": ("der", "die", "das", "und"),
    "en": ("the", "a", "fast", "slow"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "la", "les", "et"),
}


def _lang_score(lang: str, list_fn: str, toks: str) -> str:
    """count of marker-word hits; identical text in both dialects."""
    markers = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
    if list_fn == "spark":
        return f"size(filter({toks}, x -> x in ({markers})))"
    return f"len(list_filter({toks}, x -> x in ({markers})))"


@query(
    "llm_lang_id",
    oracle=f"""
        with s as (
            select doc_id, lang,
                   {_lang_score('de', 'duck', _TOKS_D)} as s_de,
                   {_lang_score('en', 'duck', _TOKS_D)} as s_en,
                   {_lang_score('es', 'duck', _TOKS_D)} as s_es,
                   {_lang_score('fr', 'duck', _TOKS_D)} as s_fr
            from documents
        )
        select doc_id, lang,
               case when s_de >= s_en and s_de >= s_es and s_de >= s_fr and s_de > 0 then 'de'
                    when s_en >= s_es and s_en >= s_fr and s_en > 0 then 'en'
                    when s_es >= s_fr and s_es > 0 then 'es'
                    when s_fr > 0 then 'fr'
                    else 'und' end as lang_pred,
               case when s_de >= s_en and s_de >= s_es and s_de >= s_fr and s_de > 0 then 'de'
                    when s_en >= s_es and s_en >= s_fr and s_en > 0 then 'en'
                    when s_es >= s_fr and s_es > 0 then 'es'
                    when s_fr > 0 then 'fr'
                    else 'und' end = lang as is_match
        from s
    """,
)
def llm_lang_id(spark, sf_dir):
    """#138 language-ID: marker-word (stopword n-gram) scoring with a
    deterministic priority argmax (de > en > es > fr on ties, 'und'
    when nothing matches) — the classic dictionary-based heuristic
    (fastText/CLD fallback tier).  Pure narrow map; no shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        "lang",
        *[
            F.expr(_lang_score(lang, "spark", _TOKS_S)).alias(f"s_{lang}")
            for lang in ("de", "en", "es", "fr")
        ],
    )
    pred = (
        F.when(
            (F.col("s_de") >= F.col("s_en"))
            & (F.col("s_de") >= F.col("s_es"))
            & (F.col("s_de") >= F.col("s_fr"))
            & (F.col("s_de") > 0),
            F.lit("de"),
        )
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") > 0),
            F.lit("en"),
        )
        .when((F.col("s_es") >= F.col("s_fr")) & (F.col("s_es") > 0), F.lit("es"))
        .when(F.col("s_fr") > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return s.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        (pred == F.col("lang")).alias("is_match"),
    )


@query(
    "llm_token_count",
    oracle=f"""
        select doc_id,
               len({_TOKS_D}) as ws_tokens,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) as bpe_ish_tokens,
               length(text) as n_chars_actual,
               round(length(text) / len({_TOKS_D}), 6) as chars_per_token
        from documents
    """,
)
def llm_token_count(spark, sf_dir):
    """#138 token counting: whitespace tokens + a BPE-ish regex
    tokenizer (letter runs / digit runs / single other chars) — the
    cheap proxy used for corpus token budgeting.  Narrow map, no
    shuffle.
    """
    docs = table(spark, sf_dir, "documents")
    ws = F.expr(f"size({_TOKS_S})")
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        F.expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')").alias(
            "bpe_ish_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
        F.round(F.length("text") / ws, 6).alias("chars_per_token"),
    )


@query(
    "llm_doc_fingerprint",
    oracle=f"""
        with t as (
            select doc_id, lower(trim(text)) as norm,
                   list_transform({_TOKS_D}, x -> {_h_duck("'0'", 'x')} % 1048576) as th
            from documents
        )
        select doc_id,
               md5(norm) as content_md5,
               list_reduce(list_prepend(0::bigint, th),
                           (a, x) -> (a * 31 + x) % 1099511627776) as rolling_hash
        from t
    """,
)
def llm_doc_fingerprint(spark, sf_dir):
    """#138 document fingerprinting: content md5 of the normalized text
    plus an order-sensitive polynomial rolling hash over token hashes
    (base 31 mod 2^40 — overflow-safe in 64-bit).  Unlike the md5, the
    rolling hash supports incremental/windowed variants for chunk-level
    dedup.  Narrow map, no shuffle.
    """
    docs = _parallel(table(spark, sf_dir, "documents"))
    th = f"transform({_TOKS_S}, x -> {_h_spark(repr('0'), 'x')} % 1048576)"
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_md5"),
        F.expr(
            f"aggregate({th}, cast(0 as bigint), "
            "(a, x) -> (a * 31 + x) % 1099511627776)"
        ).alias("rolling_hash"),
    )


# ---------------------------------------------------------------------------
# §2.11 #140 — tf-idf / token stats
# ---------------------------------------------------------------------------


@query(
    "llm_tfidf_term_stats",
    oracle=f"""
        with tok as (
            select doc_id, unnest({_TOKS_D}) as term from documents
        ),
        n as (select count(*) as n_docs from documents)
        select term,
               count(distinct doc_id) as df,
               count(*) as tf_total,
               round(ln(n.n_docs / count(distinct doc_id)), 6) as idf
        from tok cross join n
        group by term, n.n_docs
    """,
)
def llm_tfidf_term_stats(spark, sf_dir):
    """#140 corpus term statistics: document frequency, total term
    frequency, idf = ln(N/df) per term.

    Scale: explode + groupBy(term) with map-side partial aggregation;
    the corpus size N joins in as a broadcast scalar (no collect).
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("term"))
    n = docs.agg(F.count("*").alias("n_docs"))
    # single-pass rollup: groupBy(doc_id, term) first, then per-term —
    # df is a plain count over per-doc-term rows and tf_total a sum, so
    # both stages are map-side combinable (no count-distinct expansion)
    per_doc_term = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return (
        per_doc_term.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("tf_total"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "df",
            "tf_total",
            F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"),
        )
    )


@query(
    "llm_tfidf_top_term",
    oracle=f"""
        with tok as (
            select doc_id, unnest({_TOKS_D}) as term from documents
        ),
        n as (select count(*) as n_docs from documents),
        tf as (
            select doc_id, term, count(*) as tf
            from tok group by doc_id, term
        ),
        idf as (
            select term, ln(n.n_docs / count(distinct doc_id)) as idf
            from tok cross join n
            group by term, n.n_docs
        )
        select doc_id, term as top_term, round(tf.tf * idf.idf, 6) as tfidf
        from tf join idf using (term)
        qualify row_number() over (partition by doc_id
                                   order by tf.tf * idf.idf desc, term asc) = 1
    """,
)
def llm_tfidf_top_term(spark, sf_dir):
    """#140 tf-idf join-back: the highest-tf-idf term per document
    (ties by term asc; doubles are bit-identical across engines so the
    ordering is deterministic).

    Scale: both tf and idf derive from the same groupBy(doc_id, term)
    rollup — df is a skew-immune two-level count (map-side combinable),
    not a count-distinct expansion over the raw token stream.  The
    rollup lineage appears in both branches (Catalyst prunes the idf
    branch's aggregate so ReuseExchange can't canonicalize them equal);
    that second pass is map-parallel scan+explode with no extra
    shuffle, which beats materializing a corpus-scale intermediate.
    idf rides back in as a broadcast of the term-idf table
    (vocabulary << corpus), then a bounded top-1 window per doc.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("term"))
    n = docs.agg(F.count("*").alias("n_docs"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n))
        .select("term", F.log(F.col("n_docs") / F.col("df")).alias("idf"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.col("idf")).desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("term").alias("top_term"),
            F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
        )
    )


@query(
    "llm_unigram_nll",
    oracle=f"""
        with tok as (
            select doc_id, unnest({_TOKS_D}) as w from documents
        ),
        cw as (select w, count(*) as cw from tok group by w),
        tot as (select sum(cw) as n_corpus from cw),
        scored as (
            select t.doc_id,
                   count(*) as n_tok,
                   sum(cast(round(
                       -ln(cw / cast(n_corpus as double)) * 1e9
                   ) as bigint)) as nano
            from tok t
            join cw using (w)
            cross join tot
            group by t.doc_id
        )
        select doc_id,
               cast(n_tok as bigint) as n_tok,
               round(nano / n_tok / 1e9, 6) as nll_nats,
               cast(least(9, floor(nano / n_tok / 1e9)) as int) as ppl_bucket
        from scored
    """,
)
def llm_unigram_nll(spark, sf_dir):
    """CCNet-style unigram language-model scoring: each document's
    mean negative log-likelihood under the corpus's own unigram
    distribution — the perplexity-proxy quality signal used to bucket
    web text against a reference distribution (docs full of rare
    tokens score high; templated/common text scores low).  The bucket
    column is the coarse filter knob (keep buckets 0-N).

    Determinism: per-token contributions are rounded to integer
    nano-nats and summed as bigint (the llm_word_entropy policy —
    order-free, so partitioning/AQE cannot flip the hash); the final
    mean divides two exact integers in IEEE double, identical in both
    engines.

    Scale: the unigram table is one map-side-combinable groupBy of the
    token stream; its grand total joins back as a broadcast one-row
    frame (never a driver-side collect).  The token→prob join is on
    the word — at 100 TB the real deployment truncates to a top-V
    vocabulary + OOV smoothing mass, making the prob table a
    megabyte-scale broadcast exactly like the idf table above; the
    full-vocab equi-join here is the same plan with V unbounded."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_TOKS_S)).alias("w"))
    cw = tok.groupBy("w").agg(F.count("*").alias("cw"))
    tot = cw.agg(F.sum("cw").alias("n_corpus"))
    contrib = F.round(
        -F.log(F.col("cw") / F.col("n_corpus").cast("double")) * 1e9
    ).cast("bigint")
    scored = (
        tok.join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(contrib).alias("nano"),
        )
    )
    mean_nll = F.col("nano") / F.col("n_tok") / F.lit(1e9)
    return scored.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.round(mean_nll, 6).alias("nll_nats"),
        F.least(F.lit(9).cast("bigint"), F.floor(mean_nll))
        .cast("int")
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# §2.11 #139 — multimodal binary columns
# ---------------------------------------------------------------------------


@query(
    "llm_multimodal_binary",
    oracle="""
        select doc_id,
               octet_length(encode(text)) as n_bytes,
               sha256(text) as digest,
               substr(md5(text), 1, 8) as chunk_key
        from documents
        where n_chars >= 100
    """,
)
def llm_multimodal_binary(spark, sf_dir):
    """#139 multimodal columns: payloads ride through the pipeline as
    opaque BinaryType with typed metadata (byte length, content digest,
    a routing key) — the text column stands in for an image/audio blob
    here; the decode/feature stage is the Pandas-UDF path in
    sparketl.operators.multimodal (the actual image libs are stubbed
    per the brief; the Spark-side schema/partitioning/batching is real).

    Scale: binary payloads are never exploded or shuffled by value —
    only their metadata moves; routing uses the digest-derived
    chunk_key so re-partitioning is by 8-byte keys, not megabyte blobs.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("n_chars") >= 100)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"), "text")
        .select(
            "doc_id",
            F.length("payload").alias("n_bytes"),
            F.sha2("text", 256).alias("digest"),
            F.substring(F.md5("text"), 1, 8).alias("chunk_key"),
        )
    )


# ---------------------------------------------------------------------------
# §2.11 north-star extensions: chunking, redaction, IVF centroids
# ---------------------------------------------------------------------------


@query(
    "llm_doc_chunking",
    oracle=f"""
        with t as (
            select doc_id, {_TOKS_D} as toks, len({_TOKS_D}) as n
            from documents
        ),
        c as (
            select doc_id, n, unnest(generate_series(0,
                       cast(greatest(ceil((n - 8) / 8.0), 0) as bigint))) as ci
            from t
        )
        select c.doc_id, ci as chunk_id,
               ci * 8 + 1 as start_tok,
               least(ci * 8 + 16, t.n) as end_tok,
               array_to_string(list_slice(t.toks, ci * 8 + 1,
                                          least(ci * 8 + 16, t.n)), ' ') as chunk_text
        from c join t using (doc_id)
    """,
)
def llm_doc_chunking(spark, sf_dir):
    """North-star document chunking: overlapping 16-token windows with
    stride 8 (the standard context-window prep for embedding/training
    pipelines).  Chunk count per doc = ceil((n-8)/8) [+1 for ci=0],
    computed arithmetically so the explode is bounded and predictable.

    Scale: narrow map + explode with ~n/8 fan-out — shuffle-free; chunk
    ids are (doc_id, chunk_id) so downstream dedup/embedding stages
    key on 16 bytes.  NB Spark ``slice`` takes (start, LENGTH) while
    DuckDB ``list_slice`` takes (start, STOP) — SURVEY.md §2.9 #108
    trap, resolved here on both sides."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr(_TOKS_S).alias("toks"),
        F.expr(f"size({_TOKS_S})").alias("n"),
    )
    c = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.expr(
                "sequence(cast(0 as bigint), "
                "cast(greatest(ceil((n - 8) / 8.0), 0) as bigint))"
            )
        ).alias("ci"),
    )
    return c.select(
        "doc_id",
        F.col("ci").alias("chunk_id"),
        (F.col("ci") * 8 + 1).alias("start_tok"),
        F.least(F.col("ci") * 8 + 16, F.col("n")).alias("end_tok"),
        F.array_join(
            F.expr(
                "slice(toks, cast(ci * 8 + 1 as int), "
                "cast(least(ci * 8 + 16, n) - (ci * 8 + 1) + 1 as int))"
            ),
            " ",
        ).alias("chunk_text"),
    )


@query(
    "llm_pii_redaction",
    oracle="""
        select doc_id,
               regexp_replace(
                   regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<ID>', 'g') as redacted,
               len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) as n_emails,
               length(text) as orig_len
        from documents
        where doc_id < 200
    """,
)
def llm_pii_redaction(spark, sf_dir):
    """North-star PII scrubbing: regex redaction of email/ID patterns +
    a hit count — the pre-training compliance pass.  (Fixture text has
    no PII; the operator is the point.)  Narrow map, no shuffle; Spark
    regexp_replace is global by default, DuckDB needs the 'g' flag —
    pinned equal here."""
    docs = table(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") < 200).select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"
            ),
            r"\b\d{3}-\d{2}-\d{4}\b",
            "<ID>",
        ).alias("redacted"),
        F.expr("size(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+', 0))").alias(
            "n_emails"
        ),
        F.length("text").alias("orig_len"),
    )
