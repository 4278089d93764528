"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
mapInPandas stages. The actual codec step is STUBBED (media libraries
are not in this container): `decoder=None` uses a deterministic fake so
the Spark-side plumbing — schema, batch shape, partitioning — is real
and tested; pass a real decoder callable in production.

Scale: mapInPandas streams Arrow batches (no per-row Python), binary
payloads never hit the driver, and feature extraction is a narrow
map — no shuffle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.StructType(
            [
                T.StructField("mime", T.StringType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
                T.StructField("duration_ms", T.LongType()),
            ]
        )),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("feat_dim", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


# ---------------------------------------------------------------------------
# codec plug-in registry: a real decoder/resizer drops in WITHOUT
# editing the operators. Keyed by (kind, mime_prefix); operators
# snapshot the registry at PLAN-BUILD time (driver side) and cloudpickle
# ships the snapshot by value into the worker closure — so registered
# callables must be self-contained (no module-global references),
# exactly like the operators' own closures.
#
# Resolution order inside an operator:
#   explicit callable argument > longest registered mime-prefix match
#   for the row's meta.mime > the deterministic stub.
# ---------------------------------------------------------------------------
_CODECS: dict[tuple[str, str], Callable] = {}

DECODER = "decode"   # Callable[[bytes], list[float]]
RESIZER = "resize"   # Callable[[bytes, int, int], bytes]


def register_codec(kind: str, mime_prefix: str, fn: Callable) -> None:
    """Register a codec for all payloads whose meta.mime starts with
    `mime_prefix` (e.g. ("decode", "image/", pil_decode)). Longest
    prefix wins when several match; "" matches everything."""
    if kind not in (DECODER, RESIZER):
        raise ValueError(f"kind must be {DECODER!r} or {RESIZER!r}, got {kind!r}")
    _CODECS[(kind, mime_prefix)] = fn


def unregister_codec(kind: str, mime_prefix: str) -> None:
    _CODECS.pop((kind, mime_prefix), None)


def _codec_snapshot(kind: str) -> dict[str, Callable]:
    """Driver-side snapshot for capture-by-value into worker closures."""
    return {m: f for (k, m), f in _CODECS.items() if k == kind}


def attach_binary_column(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Synthesize a media table from a text table (test plumbing):
    payload = utf-8 bytes, metadata struct populated. `carry_cols`
    names source columns to keep on the media rows (e.g. lang) so
    downstream accounting needs no join back to the source table."""
    clash = [c for c in (carry_cols or []) if c in ("media_id", "payload", "meta")]
    if clash:
        raise ValueError(
            f"carry_cols collide with synthesized media columns: {clash}"
        )
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
        *[F.col(c) for c in (carry_cols or [])],
    )


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], list[float]] | None = None,
    feat_dim: int = 8,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Decoder resolution: explicit `decoder` argument > registered codec
    (register_codec(DECODER, mime_prefix, fn), matched per row against
    meta.mime) > deterministic stub.

    `carry_cols` names media columns to pass through the Arrow boundary
    unchanged (r12, guide §2.4/§8: carry small metadata WITH the heavy
    pass instead of joining it back afterwards — a lang/source tag per
    row costs a few bytes across the boundary and saves the downstream
    accounting a second scan of the source table plus a join)."""
    decode = decoder
    dim = feat_dim
    carry = list(carry_cols or [])
    registered = _codec_snapshot(DECODER)  # captured by value, driver-side
    has_meta = "meta" in media.columns
    missing = [c for c in carry if c not in media.columns]
    if missing:
        raise ValueError(f"carry_cols not in media frame: {missing}")
    clash = [c for c in carry if c in FEATURE_SCHEMA.fieldNames()]
    if clash:
        # without this plan-time check the duplicate output field only
        # surfaces as an opaque worker-side Arrow column-count error
        raise ValueError(f"carry_cols collide with feature output columns: {clash}")

    # NOTE: this closure executes on Python workers, which may not have
    # this package importable (driver-owned sessions started outside the
    # repo). Keep it self-contained: stdlib/pandas imports inside, no
    # module-global references (the mime picker is INLINED — a module
    # function would pickle by import path and fail on the worker) —
    # cloudpickle then ships it by value, registry snapshot included.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as pd

        def fake_decode(payload: bytes) -> list[float]:
            d = hashlib.sha256(payload or b"").digest()
            return [d[i] / 255.0 for i in range(dim)]

        def pick(snapshot, mime):
            best, best_len = None, -1
            m = mime or ""
            for prefix, fn in snapshot.items():
                if m.startswith(prefix) and len(prefix) > best_len:
                    best, best_len = fn, len(prefix)
            return best

        for pdf in batches:
            payloads = pdf["payload"]
            if decode is not None:
                fns = [decode] * len(pdf)
            elif registered and has_meta:
                mimes = [(m or {}).get("mime") for m in pdf["meta"]]
                fns = [pick(registered, m) or fake_decode for m in mimes]
            elif registered:
                fns = [pick(registered, None) or fake_decode] * len(pdf)
            else:
                fns = [fake_decode] * len(pdf)
            # ONE sha256 per payload (r12, guide §4): the digest column
            # and the stub decoder both need it — hash once, reuse the
            # digest bytes for the stub's features instead of hashing
            # every payload a second time inside fake_decode.
            raw = [bytes(p) if p is not None else b"" for p in payloads]
            digests = [hashlib.sha256(p).digest() for p in raw]
            feats = [
                [d[i] / 255.0 for i in range(dim)] if fn is fake_decode else fn(p)
                for fn, p, d in zip(fns, raw, digests)
            ]
            out = {
                "media_id": pdf["media_id"],
                "byte_len": [len(p) for p in raw],
                "digest": [d.hex() for d in digests],
                "feat_dim": dim,
                "features": feats,
            }
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = T.StructType(
        list(FEATURE_SCHEMA.fields)
        + [media.schema[c] for c in carry]
    )
    return media.mapInPandas(run, schema=schema)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_SCHEMA["meta"].dataType),
    ]
)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Arrow-batched image resize over the binary column.

    `resizer(payload, w, h) -> payload` is the real codec hook
    (PIL/opencv — not in this container). Resolution: explicit argument
    > registered codec (register_codec(RESIZER, mime_prefix, fn)) >
    pass-through. Without a codec the payload passes through unchanged
    and only the metadata is rewritten, which keeps the plumbing
    (schema, batch shape, narrow no-shuffle map) real and testable.
    """
    registered = _codec_snapshot(RESIZER)  # captured by value, driver-side

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # worker-side closure: self-contained imports, inlined picker
        # (see extract_features for why it can't reference the module)
        import pandas as pd

        def pick(snapshot, mime):
            best, best_len = None, -1
            m = mime or ""
            for prefix, fn in snapshot.items():
                if m.startswith(prefix) and len(prefix) > best_len:
                    best, best_len = fn, len(prefix)
            return best

        for pdf in batches:
            payloads = pdf["payload"]
            if resizer is not None:
                payloads = payloads.map(
                    lambda p: resizer(bytes(p) if p is not None else b"", width, height)
                )
            elif registered:
                mimes = [(m or {}).get("mime") for m in pdf["meta"]]
                payloads = pd.Series(
                    [
                        fn(bytes(p) if p is not None else b"", width, height)
                        if (fn := pick(registered, m)) is not None
                        else p
                        for p, m in zip(payloads, mimes)
                    ],
                    index=payloads.index,
                )
            meta = pdf["meta"].map(
                lambda m: {**(m or {}), "width": width, "height": height}
            )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads, "meta": meta}
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits (media_id,
    frame_ts) rows from duration metadata; the actual frame decode is
    the stubbed decoder's job. Pure relational — sequence + explode."""
    return media.where(F.col("meta.duration_ms").isNotNull()).select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(every_ms))
        ).alias("frame_ts"),
    )
