"""Multimodal TRANSFORM stages — feature extraction and resize — over
the opaque binary payloads of ``llm/multimodal.py``, completing the
decode / feature-extract / resize / frame-sample quartet the build
brief names.

Same honesty contract as the rest of the mm family: the container has
no image/audio codecs, so the media math is a clearly-marked
deterministic fake, while everything Spark-side is production-shaped
and REAL — Arrow-batched ``mapInPandas`` over the binary column,
payload bytes never shuffle, outputs are small typed scalars, and the
fakes are md5-derived so the DuckDB oracle reproduces them bit-for-bit
(per-row EXACT correctness of the plumbing, not just row counts).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from flinkrunner_spark.llm.multimodal import _fake_decode, attach_payload
from flinkrunner_spark.tables import load_table

MM_FEATURE_DIM = 16
MM_RESIZE_TARGET = 224  # fit-within-224 (the torchvision default-ish)


def _fake_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for an embedding model: component i is a
    rational in [0, 1) derived from md5(payload ‖ ':feat:i'). A real
    deployment swaps this for CLIP/wav2vec; the Arrow batching, schema
    and shuffle profile stay identical."""
    out = []
    for i in range(dim):
        h = hashlib.md5(payload + f":feat:{i}".encode()).hexdigest()
        out.append((int(h[:8], 16) % 10_000) / 10_000.0)
    return out


def mm_features(
    spark: SparkSession, sf_dir: str, dim: int = MM_FEATURE_DIM
) -> DataFrame:
    """Per-payload feature EXTRACTION, exploded to (doc_id, pos,
    feature) scalar rows so the oracle checks every component exactly.

    100 TB shape: one Arrow-batched map over the payload partition —
    zero shuffle (the explode happens inside the batch), features leave
    the executor as scalars, the blob never does."""
    with_payload = attach_payload(load_table(spark, sf_dir, "documents"))

    def run(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for pos, f in enumerate(_fake_features(bytes(payload), dim)):
                    rows.append((doc_id, pos, f))
            yield pd.DataFrame(
                rows, columns=["doc_id", "pos", "feature"]
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        run, schema="doc_id long, pos int, feature double"
    )


def mm_resize(
    spark: SparkSession, sf_dir: str, target: int = MM_RESIZE_TARGET
) -> DataFrame:
    """Stub RESIZE stage: fit the fake-decoded (width, height) inside
    ``target``×``target`` with exact integer arithmetic, and fingerprint
    the would-be resized output (md5 over payload + new dims — the
    determinism hook a real resizer would provide via pixel hashes).
    Zero-dimension payloads pass through unresized (flagged), matching
    what a production pipeline does with undecodable media."""
    with_payload = attach_payload(load_table(spark, sf_dir, "documents"))

    def run(iterator):
        import pandas as pd

        for pdf in iterator:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                meta = _fake_decode(payload)
                w, h = meta["width"], meta["height"]
                m = max(w, h)
                nw = (w * target) // m if m > 0 else 0
                nh = (h * target) // m if m > 0 else 0
                fp = hashlib.md5(
                    payload + f":resize:{nw}x{nh}".encode()
                ).hexdigest()
                rows.append((doc_id, w, h, nw, nh, m > 0, fp))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "new_width",
                    "new_height", "decoded", "resize_fingerprint",
                ],
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, new_width int, "
            "new_height int, decoded boolean, resize_fingerprint string"
        ),
    )
