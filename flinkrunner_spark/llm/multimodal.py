"""Multimodal column plumbing: opaque ``binary`` payloads with typed
metadata, processed in Arrow batches via ``mapInPandas``.

The container has no image/audio codecs, so the decode step is a
clearly-marked deterministic fake (`_fake_decode`) — the Spark-side
contract (binary column, schema, batched UDF signature, partitioning) is
real and is what matters at 100 TB: payload bytes never leave the
executor, metadata extraction is a parallel scan, and downstream joins
use only the small typed metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrunner_spark.tables import load_table

MM_SCHEMA = "doc_id long, n_bytes int, mime string, width int, height int"


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a real image/audio decoder.

    A real deployment would replace this with PIL/ffmpeg/etc.; everything
    else in the pipeline is production-shaped.
    """
    n = len(payload)
    mime = ["image/png", "audio/wav", "video/mp4"][n % 3]
    return {
        "n_bytes": n,
        "mime": mime,
        "width": n % 640,
        "height": (n * 7) % 480,
    }


def attach_payload(docs: DataFrame) -> DataFrame:
    """Materialize an opaque binary column (here: utf-8 of text — in a real
    pipeline this is the raw media blob read from object storage)."""
    return docs.withColumn("payload", F.col("text").cast("binary"))


def extract_metadata(with_payload: DataFrame) -> DataFrame:
    def run(iterator):
        import pandas as pd

        for pdf in iterator:
            metas = [_fake_decode(p) for p in pdf["payload"]]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return with_payload.select("doc_id", "payload").mapInPandas(
        run, schema=MM_SCHEMA
    )


def mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_metadata(attach_payload(docs))


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"
FRAME_STRIDE = 10  # sample every 10th frame


def _fake_frame_count(payload: bytes) -> int:
    """Deterministic stand-in for container demux (frame count)."""
    return len(payload) % 120 + 1


def sample_frames(with_payload: DataFrame) -> DataFrame:
    """Frame sampling for video payloads: one output row per sampled frame
    — the 1→N batch shape a real decode-and-sample stage has. The frame
    'content' is a deterministic fingerprint of (payload, index) standing
    in for decoded frame bytes; a real deployment swaps only the two
    _fake_* functions for ffmpeg calls.

    Scale notes: runs inside mapInPandas, so payload bytes stream through
    Arrow batches executor-side and never shuffle — the output carries
    only (id, idx, fingerprint). Row explosion happens after the scan,
    inside the same stage."""

    def run(iterator):
        import hashlib

        import pandas as pd

        for pdf in iterator:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = _fake_decode(payload)
                if meta["mime"] != "video/mp4":
                    continue
                for idx in range(0, _fake_frame_count(payload), FRAME_STRIDE):
                    digest = hashlib.md5(
                        payload + b":" + str(idx).encode()
                    ).hexdigest()
                    rows.append((doc_id, idx, digest))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_md5"]
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        run, schema=FRAME_SCHEMA
    )


def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_payload(docs))
