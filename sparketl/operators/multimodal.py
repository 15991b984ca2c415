"""Multimodal column processing (SURVEY.md §2.11 #139, north-star).

Images/audio/video ride the pipeline as opaque ``BinaryType`` payloads
with typed metadata; decode / feature-extract / resize / frame-sample
run as Arrow-batched Pandas UDFs over ``mapInPandas``.  There is no
codec step (no image/audio decoder is a dependency): the pipeline runs
the deterministic :func:`fake_features` extractor in its place — so the
Spark-side plumbing (schema, batching, partitioning, UDF signatures)
is real and oracle-tested, and a real decoder would replace only that
function (``PIL.Image.open`` / ``soundfile``), not the Spark plan.

Scale: payload bytes never enter a shuffle — featurization is a narrow
map directly over the scan, and only small typed features flow
downstream.  Batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of
large blobs cannot OOM the Python worker.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from sparketl.registry import query
from sparketl.tables import table

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, fake_width int, fake_height int, n_frames int"
)


def fake_features(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode+measure: pseudo width/height/
    frame-count derived from the payload's sha256 — stable across
    engines, so the whole UDF path stays oracle-checkable."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    n_frames = 1 + digest[2] % 8
    return width, height, n_frames


def _extract_features(batches):
    """mapInPandas body: batch-iterate (payload, doc_id) -> features."""
    for pdf in batches:
        feats = [fake_features(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) for p in pdf["payload"]],
                "fake_width": [f[0] for f in feats],
                "fake_height": [f[1] for f in feats],
                "n_frames": [f[2] for f in feats],
            }
        )


@query(
    "llm_multimodal_features",
    oracle="""
        select doc_id,
               octet_length(encode(text)) as n_bytes,
               (64 + ('0x' || substr(sha256(text), 1, 2))::int % 192) as fake_width,
               (64 + ('0x' || substr(sha256(text), 3, 2))::int % 192) as fake_height,
               (1 + ('0x' || substr(sha256(text), 5, 2))::int % 8) as n_frames
        from documents
    """,
)
def llm_multimodal_features(spark, sf_dir):
    """#139 decode/feature-extract plumbing: binary payloads stream
    through mapInPandas in Arrow batches; the (stubbed) decoder yields
    typed features.  The oracle replays the fake decoder's hash
    arithmetic in SQL — proving the UDF path end-to-end (schema, batch
    shape, byte round-trip) without real codecs."""
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return payloads.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)


_TARGET_SIDE = 224
_MAX_SAMPLED_FRAMES = 4


@query(
    "llm_multimodal_framesample",
    oracle=f"""
        with feats as (
            select doc_id,
                   (64 + ('0x' || substr(sha256(text), 1, 2))::int % 192) as w,
                   (64 + ('0x' || substr(sha256(text), 3, 2))::int % 192) as h,
                   (1 + ('0x' || substr(sha256(text), 5, 2))::int % 8) as n_frames
            from documents
        ),
        planned as (
            select doc_id, n_frames,
                   cast((w * {_TARGET_SIDE}) // greatest(w, h) as int) as out_w,
                   cast((h * {_TARGET_SIDE}) // greatest(w, h) as int) as out_h,
                   greatest(1, cast(ceil(n_frames / {_MAX_SAMPLED_FRAMES}.0) as int))
                       as step
            from feats
        )
        select doc_id, out_w, out_h,
               cast(unnest(range(0, n_frames, step)) as int) as frame_idx
        from planned
    """,
)
def llm_multimodal_framesample(spark, sf_dir):
    """#139 resize + frame-sample plumbing: from the decoded metadata
    (stubbed decoder, same hash arithmetic as ``llm_multimodal_features``)
    plan an aspect-preserving resize (longest side → 224, truncating
    integer math so both engines agree bit-for-bit) and an every-k-th
    frame sample capped at 4 frames.

    Scale: the plan stage is a narrow map over the feature stream —
    the real pixel work (resize, frame decode) happens inside the SAME
    mapInPandas pass as the decoder once codecs are swapped in, so
    payload bytes still never shuffle; what flows downstream is one
    (doc_id, frame_idx, dims) row per sampled frame.
    """
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    feats = payloads.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)
    planned = feats.select(
        "doc_id",
        "n_frames",
        F.expr(f"cast((fake_width * {_TARGET_SIDE}) div"
               f" greatest(fake_width, fake_height) as int)").alias("out_w"),
        F.expr(f"cast((fake_height * {_TARGET_SIDE}) div"
               f" greatest(fake_width, fake_height) as int)").alias("out_h"),
        F.greatest(
            F.lit(1), F.ceil(F.col("n_frames") / F.lit(_MAX_SAMPLED_FRAMES))
        ).cast("int").alias("step"),
    )
    return planned.select(
        "doc_id",
        "out_w",
        "out_h",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.col("step"))
        ).alias("frame_idx"),
    )
