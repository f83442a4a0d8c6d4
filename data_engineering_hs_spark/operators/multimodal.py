"""Multimodal (image/audio/video) column plumbing.

Media are opaque `binary` columns with a typed metadata struct; all
Spark-side mechanics (schema, partition sizing, Arrow batch shape,
UDF signatures) are real and tested. The actual codec work (JPEG
decode, resampling, frame extraction) requires libraries absent from
this container — those steps are STUBS: `deterministic_fake_decode`
produces seeded, shape-correct fake features so pipelines are
end-to-end testable, and `decode_image` raises NotImplementedError
until a codec backend (pillow/ffmpeg/torchaudio) is injected.

Scale design: media rows are large and skew partition sizes —
`repartition_for_media` targets rows-per-task by byte budget, and
feature extraction runs in mapInPandas so one Arrow batch holds
batch_size blobs, never the whole partition.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def load_binary_dir(spark, path: str, kind: str) -> DataFrame:
    """Ingest a directory of media files as (media_id, kind, content,
    meta) — binaryFile scan, id from the path hash, byte-size meta."""
    raw = spark.read.format("binaryFile").load(path)
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("content"),
        F.struct(
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.col("length").alias("n_bytes"),
        ).alias("meta"),
    )


def repartition_for_media(
    df: DataFrame, total_bytes: int, target_bytes_per_task: int = 256 << 20
) -> DataFrame:
    """Size partitions by byte budget, not row count — a 4 KB thumbnail
    and a 400 MB video must not land in the same fixed-row task."""
    n = max(1, total_bytes // target_bytes_per_task)
    return df.repartition(n)


class CodecRegistry:
    """Pluggable codec backends per (kind, operation).

    The Spark-side plumbing (schema, batching, partition sizing) is
    fixed; what varies by environment is the per-blob codec. Backends
    register callables under (kind, op) — e.g. ("image", "decode") →
    bytes -> list[float] — and operators resolve at call time, so a
    cluster with pillow/ffmpeg installed picks up real codecs with no
    operator changes while this container runs the deterministic
    fakes.
    """

    def __init__(self) -> None:
        self._codecs: dict[tuple[str, str], Callable] = {}
        self._backend: dict[tuple[str, str], str] = {}

    def register(self, kind: str, op: str, fn: Callable, backend: str = "custom") -> None:
        self._codecs[(kind, op)] = fn
        self._backend[(kind, op)] = backend

    def available(self, kind: str, op: str) -> bool:
        return (kind, op) in self._codecs

    def backend(self, kind: str, op: str) -> str | None:
        return self._backend.get((kind, op))

    def resolve(self, kind: str, op: str) -> Callable:
        try:
            return self._codecs[(kind, op)]
        except KeyError:
            raise NotImplementedError(
                f"no codec registered for ({kind!r}, {op!r}); "
                f"registered: {sorted(self._codecs)} — install a backend "
                "(pillow/ffmpeg) and call autodetect_codecs(), or "
                "CODECS.register() your own"
            ) from None


CODECS = CodecRegistry()


def _pil_decode(content: bytes) -> list[float]:
    """Real image decode → FEATURE_DIM block-luma features (pillow)."""
    import io

    import numpy as np
    from PIL import Image

    img = Image.open(io.BytesIO(content)).convert("L").resize((4, 4))
    arr = np.asarray(img, dtype="float32") / 255.0
    return [float(v) for v in arr.reshape(-1)]  # 4×4 = FEATURE_DIM


def _pil_resize(content: bytes, width: int, height: int) -> bytes:
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(content)).resize((width, height))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    return buf.getvalue()


def autodetect_codecs() -> list[str]:
    """Probe the environment and register every available real
    backend; returns the backend names registered. Safe to call
    anywhere — absence of a library is not an error."""
    found: list[str] = []
    try:
        import PIL  # noqa: F401

        CODECS.register("image", "decode", _pil_decode, backend="pillow")
        CODECS.register("image", "resize", _pil_resize, backend="pillow")
        found.append("pillow")
    except ImportError:
        pass
    return found


def decode_image(df: DataFrame) -> DataFrame:
    """Decode images to feature vectors via the registered backend.

    Resolves ("image", "decode") from CODECS — real codec when a
    backend registered (autodetect_codecs() / CODECS.register()),
    NotImplementedError otherwise; tests exercise the plumbing with
    deterministic_fake_decode explicitly.
    """
    return extract_features(df, CODECS.resolve("image", "decode"))


def deterministic_fake_decode(content: bytes) -> list[float]:
    """Seeded shape-correct fake feature vector: FEATURE_DIM floats
    derived from content bytes — stable across runs/executors."""
    import hashlib

    h = hashlib.sha256(content).digest()
    return [
        int.from_bytes(h[2 * i : 2 * i + 2], "big") / 65535.0
        for i in range(FEATURE_DIM)
    ]


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize plumbing: (media_id, content) → (media_id, width, height,
    content). The codec step is injectable; without a backend the
    deterministic fake (sha256-stretched bytes of the requested size)
    keeps the pipeline end-to-end testable — batch shape, schema and
    partitioning are the real contract."""
    if resizer is None:
        resizer = deterministic_fake_resize

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": width,
                    "height": height,
                    "content": [resizer(bytes(b), width, height) for b in pdf["content"]],
                }
            )

    return df.select("media_id", "content").mapInPandas(run, schema=RESIZED_SCHEMA)


def deterministic_fake_resize(content: bytes, width: int, height: int) -> bytes:
    """Shape-correct fake: width*height bytes derived from the content
    hash (a real backend would decode, resample, re-encode)."""
    import hashlib

    seed = hashlib.sha256(content).digest()
    out = bytearray()
    counter = 0
    while len(out) < width * height:
        out += hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    return bytes(out[: width * height])


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    sampler: Callable[[bytes, int], list[bytes]] | None = None,
) -> DataFrame:
    """Frame sampling plumbing: one video row → n_frames frame rows
    (cardinality-changing mapInPandas). The decoder is injectable;
    the deterministic fake slices the blob into n_frames chunks."""
    if sampler is None:
        sampler = deterministic_fake_frames

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, nos, frames = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for i, fr in enumerate(sampler(bytes(content), n_frames)):
                    ids.append(mid)
                    nos.append(i)
                    frames.append(fr)
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": nos, "frame": frames}
            )

    return df.select("media_id", "content").mapInPandas(run, schema=FRAMES_SCHEMA)


def deterministic_fake_frames(content: bytes, n_frames: int) -> list[bytes]:
    step = max(1, len(content) // n_frames)
    return [content[i * step : (i + 1) * step] or b"\x00" for i in range(n_frames)]


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], list[float]],
    batch_size: int = 64,
) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches of `batch_size`
    blobs → (media_id, features). The decoder runs per blob inside the
    batch loop — swap deterministic_fake_decode for a real model."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "features": [
                            decoder(bytes(b)) for b in chunk["content"]
                        ],
                    }
                )

    # the inner loop re-chunks every Arrow batch to batch_size, so no
    # session conf change is needed — mutating the session-global
    # arrow.maxRecordsPerBatch here would silently shrink every later
    # Arrow operation's batches for the rest of the session
    return df.select("media_id", "content").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )
