"""Shared infrastructure for the LLM-pipeline operator family
(split out of the former 2.9k-line llm.py in round 8; public import
surface unchanged — ``sparketl.operators.llm`` re-exports everything).

Holds the cross-family helpers: the bounded _pin persist registry, the
fixture-scan parallelism gates (_parallel/_maybe_parallel/_scan_bytes),
and the engine-parity expression fragments (hash family, token/shingle
SQL, dot/norm/L2 folds — Spark expr ≡ DuckDB SQL, kept visibly parallel
so divergence is reviewable line-by-line; see the llm.py module
docstring for the parity strategy)."""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import functions as F

from sparketl.session import memo


_PIN_KEEP = 4


def _pin(df):
    """persist(MEMORY_AND_DISK) with a bounded per-session registry: at
    most _PIN_KEEP of a session's frames stay pinned; older ones are
    unpersisted.  The registry is a session memo, so session.reset
    unpersists them all and a new session never touches an old one's."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    # keyed by id(df): the entry holds the frame, so its id stays unique
    pins = memo(df.sparkSession, "pins")
    pins[id(df)] = df
    while len(pins) > _PIN_KEEP:
        # pop(..., None): a concurrent _pin may evict the same oldest entry
        oldest = pins.pop(list(pins)[0], None)
        if oldest is not None:
            oldest.unpersist()
    return df


# ---------------------------------------------------------------------------
# shared expression fragments (Spark SQL expr ≡ DuckDB SQL, kept visibly
# parallel so divergence is reviewable line-by-line)
# ---------------------------------------------------------------------------

# whitespace tokens
_TOKS_S = "split(text, ' ')"


_TOKS_D = "string_split(text, ' ')"


# distinct word-bigram shingles (docs are >= 10 words; guard anyway).
# Built as zip_with over two slices — NOT element_at(split(..), i) in a
# transform lambda, which re-evaluates the split per element (O(n^2)
# per document; measured 4.5s -> 0.3s at sf0.1 for the scan alone).
_SHINGLES_S = (
    "array_distinct(zip_with("
    "slice(split(text,' '), 1, size(split(text,' ')) - 1), "
    "slice(split(text,' '), 2, size(split(text,' ')) - 1), "
    "(a, b) -> concat(a, ' ', b)))"
)


_SHINGLES_D = (
    "list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))"
)


def _h_spark(key: str, val: str) -> str:
    """60-bit md5-derived hash, Spark side; ``key``/``val`` are SQL exprs."""
    return (
        f"cast(conv(substr(md5(concat(cast({key} as string), '|', {val})), 1, 15), "
        f"16, 10) as bigint)"
    )


def _h_duck(key: str, val: str) -> str:
    return f"(('0x' || substr(md5({key}::varchar || '|' || {val}), 1, 15))::bigint)"


def _parallel(df):
    """Spread a small single-file scan across all cores before a
    CPU-dense map (md5 sketching, dot products).  The local fixtures
    arrive as one parquet row-group => a ONE-partition scan that would
    serialize the hash work on a 32-core machine (measured 4-10x on the
    sketch queries).  On a real 100 TB corpus the scan is already
    thousands of splits and this repartition collapses to a no-op cost
    relative to the compute it parallelizes."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# §2.11 north-star — exact n-gram Jaccard near-dup (blocked)
# ---------------------------------------------------------------------------

#: target joined pair rows per aggregation partition for the inverted-
#: index Jaccard family; sized so a partition's count hash table stays
#: well inside executor memory (~1M keys * ~40B).
_PAIR_ROWS_PER_PART = 1_000_000


#: below this many bytes of documents parquet, the Jaccard family skips
#: its planning-stats job and explicit repartitions: the default 32
#: partitions handle the pair volume (sf0.1 = 2.9e7 candidates runs
#: clean), and the extra planning job + two exchanges cost more than
#: they save (measured +1.3-1.8 s per query at sf0.1).  Calibrated to
#: the MEASURED compressed sizes (small-vocab text compresses ~5x):
#: sf0.1 documents = 0.59 MB (fast path), the 10x stress corpus =
#: 5.98 MB (stats path — an 8 MB first guess silently sent it down
#: the fast path and reproduced the 43 GB-spill plan, caught by
#: re-timing).  Any corpus a scale problem could hide in is far above
#: this gate, so the 100 TB path ALWAYS takes the stats-sized plan.
_JACCARD_STATS_MIN_BYTES = 2 << 20


#: below this many bytes of embeddings parquet, the IVF/PQ family skips
#: the pre-assignment repartition (same tradeoff as the Jaccard gate:
#: at sf0.1 the shuffle costs more than 2k rows of argmin; at the 10x
#: corpus the repartition is a 10x wall win).
_EMB_PARALLEL_MIN_BYTES = 2 << 20


def _scan_bytes(sf_dir: str, name: str) -> int:
    """Driver-side metadata: on-disk bytes of one fixture table (no
    Spark job).  Directories (partitioned sinks) sum their files."""
    import os

    p = os.path.join(sf_dir.rstrip("/"), f"{name}.parquet")
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
        )
    try:
        return os.path.getsize(p)
    except OSError:
        return 1 << 40  # unknown => assume large, take the stats path


#: above this many bytes, a scan arrives in enough native splits
#: (maxPartitionBytes-sized) that the fixture-artifact repartition is
#: pure cost: at petabyte scale it would funnel the corpus through one
#: exchange AND collapse thousands of splits to core count (round-7
#: review, the agg_checksum finding generalized).
_PARALLEL_MAX_BYTES = 1 << 30


def _maybe_parallel(df, sf_dir: str, name: str = "embeddings", lo=None):
    """Banded size-gated :func:`_parallel` — THE shared gate for every
    CPU-dense map over a fixture-small scan (round-7 review: the
    2-line gate was copy-pasted at five sites; one helper keeps the
    thresholds and rationale in one place).

    Spread only inside [lo, _PARALLEL_MAX_BYTES): below ``lo`` the
    exchange costs more than the compute it parallelizes (measured
    +0.8 s at sf0.1 for the IVF argmin — callers whose downstream is
    pair-quadratic pass lo=0 because even tiny scans pay there); above
    the upper bound the scan already arrives in plenty of native
    splits and the repartition is pure cost."""
    lo = _EMB_PARALLEL_MIN_BYTES if lo is None else lo
    if lo <= _scan_bytes(sf_dir, name) < _PARALLEL_MAX_BYTES:
        return _parallel(df)
    return df


# ---------------------------------------------------------------------------
# §2.11 #137 — similarity search over embeddings
# ---------------------------------------------------------------------------

# double-precision dot product with identical summation order (verified
# bit-exact across engines; see module docstring).
#
# Measured round 3 (local[32], sf0.1, warm session, interleaved trials):
# this HOF fold beats a statically-unrolled 64-term
# ``element_at(a,1)*element_at(b,1) + ...`` expression by 2-4x
# (topk 0.76s vs 1.32s; pairwise micro 0.38s vs 0.91s).  The unroll
# emits 128 ANSI ElementAt ops whose generated method falls out of
# JIT-friendly codegen, while zip_with/aggregate runs one tight
# specialized loop over the array.  Keep the HOF form; the recorded
# 71-84s round-2 bench numbers were 4-way submission contention, not
# expression cost.
_DOT_S = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0 as double), (s, x) -> s + x)"
)


_NORM2_S = (
    "aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
    "cast(0 as double), (s, x) -> s + x)"
)


_DOT_D = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> {a}[i]::double * {b}[i]::double))"
)


_NORM2_D = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> {a}[i]::double * {a}[i]::double))"
)


# squared-L2 distance to a centroid vector, same ordered-fold contract
# as _DOT_S/_DOT_D (bit-exact across engines given identical inputs)
_L2_S = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "(cast(x as double) - y) * (cast(x as double) - y)), "
    "cast(0 as double), (s, x) -> s + x)"
)


_L2_D = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> ({a}[i]::double - {b}[i]) * ({a}[i]::double - {b}[i])))"
)
