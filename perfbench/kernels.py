"""The engine's numpy/codec kernels timed alone, without Spark.

The payloads are a fixed sample of the generated ``documents`` text as
raw bytes, encoded the way the multimodal operators encode them, and the
generated ``embeddings``. Only the decode or kernel call is timed; each
kernel runs several rounds and reports the median.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

SAMPLE_DOCS = 200
ROUNDS = 5


def _median_s(fn) -> float:
    times = []
    for _ in range(ROUNDS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class _Capture:
    """Stands in for a DataFrame so ``arrow_sign_bands`` hands back its
    Arrow kernel instead of planning a ``mapInArrow``."""

    def __init__(self, schema) -> None:
        self.schema = schema
        self.kernel = None

    def mapInArrow(self, fn, _schema):
        self.kernel = fn
        return self


def measure(data_dir: str) -> dict:
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from p4_mapreduce_spark.operators import codecs, multimodal, similarity

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas()
    raws = [t.encode() for t in docs["text"].head(SAMPLE_DOCS)]
    raw_mb = sum(len(r) for r in raws) / 1e6
    width = multimodal._IMG_WIDTH

    jpegs = [codecs.jpeg_encode_gray(r, width) for r in raws]
    pngs = [codecs.png_encode_gray(r, width) for r in raws]
    wavs = [codecs.wav_encode_pcm16(r, sample_rate=16000, channels=1) for r in raws]
    batch = docs.head(SAMPLE_DOCS)[["doc_id"]].assign(payload=raws)

    def decode_all(decode, payloads):
        return lambda: [decode(p) for p in payloads]

    out = {
        "kernel.jpeg_decode_ms_per_mb": _median_s(decode_all(codecs.jpeg_decode, jpegs)),
        "kernel.png_decode_ms_per_mb": _median_s(decode_all(codecs.png_decode, pngs)),
        "kernel.wav_decode_ms_per_mb": _median_s(decode_all(codecs.wav_decode, wavs)),
        "kernel.decode_hash_ms_per_mb": _median_s(
            lambda: list(multimodal._decode_hash(iter([batch])))
        ),
    }
    out = {k: v * 1e3 / raw_mb for k, v in out.items()}

    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    emb = emb.select(["vec_id", "embedding"]).combine_chunks()
    rows = emb.num_rows
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    planes = np.random.default_rng(0).standard_normal((32, 64)).tolist()
    cap = _Capture(schema)
    similarity.arrow_sign_bands(cap, "embedding", planes, 8, [f"b{i}" for i in range(4)])
    batches = emb.to_batches()
    sec = _median_s(lambda: list(cap.kernel(iter(batches))))
    out["kernel.sign_bands_ms_per_mrow"] = sec * 1e3 / (rows / 1e6)
    return out
