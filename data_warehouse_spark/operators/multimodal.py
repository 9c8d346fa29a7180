"""Multimodal column plumbing ([ext] north-star mandate): image/audio/
video payloads as opaque `binary` columns with typed metadata, processed
by Arrow-batched `mapInPandas` stages.

Design for 100 TB of media:
  - payloads never pass the driver; each mapInPandas task decodes its
    Arrow batch only, and Spark's default
    spark.sql.execution.arrow.maxBytesPerBatch (64 MiB) caps each
    batch by bytes, so KB- or MB-scale media never builds a multi-GB
    batch under the session's 65,536-record cap;
  - metadata (format, dims, duration) lives in plain columns so
    filters/joins on it stay codegen'd and pushdown-able — only the
    decode itself pays the Python boundary;
  - every stage is DataFrame -> DataFrame, so decode / resize / frame-
    sample compose with relational operators (join frames to labels,
    aggregate features, dedup by content hash).

Decode kernels: `decode_images(codec="png")` does REAL header decode
through the vendored pure-stdlib PNG codec (functions/png.py — public
W3C spec, no Pillow needed); `codec="pil"` uses Pillow when present
(guarded import, executor-side); `codec="stub"` computes a
deterministic result from the payload byte-size for non-image blobs.
The schemas, batching, partitioning, and composition are identical
across kernels — swapping the codec moves nothing else. mm2 runs the
real png path end-to-end: attach_png_blob encodes genuine PNG
payloads whose dims are a deterministic function of the text, so the
real decode is still DuckDB-oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def attach_blob(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Turn a text column into an opaque binary payload + typed metadata
    — the storage shape for any media column: (id, blob, media_type,
    n_bytes). Real pipelines land here straight from ingestion.

    The payload is CAST(text AS BINARY), not encode(text, 'UTF-8'):
    Spark strings are UTF-8 bytes internally, so the cast yields the
    identical payload (fixture-verified byte-equal, NULL-identical)
    without the charset encoder's per-row copy — measured 0.25 s of
    the 1.075 s mm4 pipeline at 1024x (ddece72:.r15/mm4_decomp.py, SCALE.md
    r15)."""
    blob = F.col(text_col).cast("binary")
    return df.select(
        F.col(id_col),
        blob.alias("blob"),
        F.lit("image/png").alias("media_type"),
        F.octet_length(blob).alias("n_bytes"),
    )


def attach_png_blob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    mod_w: int = 64, mod_h: int = 48) -> DataFrame:
    """Encode each row as a GENUINE PNG payload (vendored codec) whose
    dimensions are a deterministic function of the text length:
    w = len % mod_w + 8, h = len % mod_h + 8. Downstream real decodes
    recover exactly those dims, so the end-to-end real-codec pipeline
    stays DuckDB-oracle-checkable. Arrow-batched; pixel buffers are
    generated per task and never pass the driver."""
    import numpy as np
    import pandas as pd

    from data_warehouse_spark.functions.png import encode_png
    from data_warehouse_spark.io import spread_for_compute

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            blobs = []
            for text in pdf[text_col]:
                if text is None:
                    # degrade per row, like the decode side's ok=false
                    # (per-unit error isolation): an empty payload that
                    # decode_images reports as ok=false, never a task
                    # kill
                    blobs.append(b"")
                    continue
                n = len(text.encode("utf-8"))  # bytes, = DuckDB strlen()
                w, h = n % mod_w + 8, n % mod_h + 8
                # cheap deterministic pixels: a byte ramp seeded by n
                px = (np.arange(w * h * 3, dtype=np.int64) + n) % 256
                blobs.append(encode_png(w, h, px.astype(np.uint8)
                                        .tobytes(), color_type=2))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "blob": blobs,
                "media_type": "image/png",
                "n_bytes": [len(b) for b in blobs],
            })

    id_type = dict(df.dtypes)[id_col]
    # encode is CPU-heavy per row; a small fixture table arrives as one
    # file split and would serialize on one core without the spread
    return (spread_for_compute(df.select(F.col(id_col), F.col(text_col)))
            .mapInPandas(encode, schema=f"{id_col} {id_type}, blob binary, "
                                        "media_type string, n_bytes long"))


# Version of png_blob_table's landed columns; bump it whenever they
# change. v2 added `hdr` (r17).
PNG_BLOB_LAYOUT = 2


def png_blob_table(spark, sf_dir: str,
                   base: str | None = None) -> DataFrame:
    """Process-persistent PNG payload side table: attach_png_blob's
    output materialized to parquet ONCE per (sf_dir, fixture mtime),
    then scanned.

    A real media pipeline lands payloads at ingest; only this fixture
    synthesizes them from text. Materializing the synthesis as a
    one-off write (exactly like operators/bucketing.bucketed_view's
    ingest-time layout) means queries downstream — and the benchmark —
    measure the actual pipeline shape, scan -> decode -> plan, instead
    of re-paying the per-row PNG *encode* on every run.

    The default path is PROCESS-unique and the cache key includes the
    source file's mtime (the same two hazards bucketed_view and s8
    guard): a shared fixed path let two concurrent sessions overwrite
    each other mid-scan, and a path-only key served stale blobs after
    an in-place fixture regeneration — a persistent false FAIL against
    the oracle recomputed over the new documents.

    The landed table carries `hdr` — the payload's first 33 bytes —
    as its OWN column next to the full blob (r17, guide §6: layout
    decides what readers can skip). decode_images' png path only ever
    inspects bytes [0, 33), so a header-only consumer (mm2's decode ->
    resize plan) scans 33 B/row instead of the KB-scale payloads: the
    parquet scan's ReadSchema drops `blob` entirely. Storing codec
    metadata beside an opaque payload at ingest is the standard media-
    table layout; the bytes are identical to substring(blob, 1, 33)
    computed at read time, so results are unchanged by construction.

    The cache key also folds in PNG_BLOB_LAYOUT, so a persistent
    `base` never serves a table landed under an older column layout
    (one from before `hdr` existed would fail every header-only
    reader)."""
    import hashlib
    import os

    from data_warehouse_spark.io import load_table

    if base is None:
        from data_warehouse_spark.scratch import process_dir
        base = process_dir("dw_spark_png")
    mtime = int(os.path.getmtime(f"{sf_dir}/documents.parquet"))
    digest = hashlib.md5(
        f"{sf_dir}|{mtime}|{PNG_BLOB_LAYOUT}".encode()).hexdigest()[:8]
    path = f"{base}/{digest}/png_blobs.parquet"
    if not os.path.exists(f"{path}/_SUCCESS"):
        attach_png_blob(load_table(spark, sf_dir, "documents")) \
            .withColumn("hdr", F.substring(F.col("blob"), 1, 33)) \
            .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _stub_dims(n_bytes: "pd.Series") -> tuple["pd.Series", "pd.Series"]:
    """Deterministic stand-in for image header decode: derive (w, h)
    from payload size. A real decoder reads them from the codec."""
    w = (n_bytes % 1920) + 16
    h = (n_bytes % 1080) + 16
    return w, h


def _pil_available() -> bool:
    try:
        from PIL import Image  # noqa: F401
        return True
    except ImportError:
        return False


def decode_images(df: DataFrame, codec: str = "stub",
                  hdr_col: str | None = None,
                  n_bytes_col: str | None = None) -> DataFrame:
    """Decode stage: blob -> (width, height, ok). Arrow-batched; one
    task decodes one batch; malformed payloads yield ok=false rows
    instead of failing the task (per-unit error isolation, the
    reference's per-city try/except pattern weather_lambda.py:147-149).

    codec: "png" (REAL header decode via the vendored pure-stdlib PNG
    codec semantics, functions/png.py — O(1) per payload, never
    inflates pixels), "pil" (real decode via Pillow, imported inside
    the executor task; raises at plan time if Pillow is absent),
    "stub" (deterministic arithmetic from payload size — for non-image
    stand-in blobs), or "auto" (pil when importable, else png). Output
    schema, batching and partitioning are identical across codecs;
    what differs (r16) is how many bytes cross the Python boundary:

      "png":  read_header only ever inspects bytes [0, 33) of the
              payload (signature + IHDR length/tag/fields; CRCs are
              NOT verified — functions/png.py scope), so the blob is
              projected to substring(blob, 1, 33) JVM-SIDE and the
              kernel is a vectorized mapInArrow parse over fixed
              offsets — 33 B/row cross the boundary instead of whole
              payloads, and no per-row Python bytes objects exist
              (guide §4.1/§4.2: ship only the bytes the function
              needs, compute on whole batches). ok/width/height are
              equivalent to functions/png.read_header case for case
              (proved in test_sources.py: the property test feeds
              both paths the same corpus).
      "stub": dims are a pure function of the payload LENGTH, so
              octet_length(blob) is computed JVM-side and one long
              per row crosses.
      "pil":  a real pixel decoder needs the full payload; unchanged
              full-blob mapInPandas.

    `hdr_col` / `n_bytes_col` (r17, guide §6): when the source TABLE
    already lands the 33-byte header prefix (png_blob_table's `hdr`)
    or the payload length (attach_blob's `n_bytes`) as its own
    column, naming it here lets the parquet scan prune `blob` from
    ReadSchema entirely — the substring/octet_length projections
    above are computed post-scan, so without these the scan still
    reads every payload byte off storage. Values are identical by
    construction (the ingest write computes the same expression).
    """
    import pandas as pd

    if codec == "auto":
        codec = "pil" if _pil_available() else "png"
    if codec == "pil" and not _pil_available():
        raise ImportError("codec='pil' requires Pillow on the executors")
    if codec not in ("stub", "pil", "png"):
        raise ValueError(f"unknown codec: {codec!r}")

    def run_stub(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            # NULL blobs degrade per-row (ok=false) like the png/pil
            # kernels; octet_length(NULL) arrives as pandas NA
            n_raw = pdf["__nb"]
            ok = n_raw.notna()
            n = n_raw.fillna(0).astype("int64")
            w, h = _stub_dims(n)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": w.where(ok, 0).astype("int32"),
                "height": h.where(ok, 0).astype("int32"),
                "ok": ok,
            })

    def run_png(batches):
        # Vectorized IHDR parse over 33-byte prefixes (mapInArrow).
        # Case-for-case equivalent to functions/png.read_header over
        # the FULL payload: every condition read_header checks before
        # returning involves only bytes [0, 33) plus the requirement
        # len >= 33 (signature 8 B, chunk length+tag 8 B, IHDR body
        # 13 B, and _iter_chunks' pos+12+length <= n structural check
        # with length pinned to 13 — CRC values are never verified).
        import numpy as np
        import pyarrow as pa

        sig = np.frombuffer(b"\x89PNG\r\n\x1a\n", np.uint8)
        tag = np.frombuffer(b"IHDR", np.uint8)
        for batch in batches:
            ids = batch.column(0)
            arr = batch.column(1)
            n = len(arr)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.nulls(0, pa.int32()), pa.nulls(0, pa.int32()),
                     pa.array([], pa.bool_())],
                    ["doc_id", "width", "height", "ok"])
                continue
            if arr.null_count:
                valid = np.invert(arr.is_null().to_numpy(
                    zero_copy_only=False))
            else:
                valid = np.ones(n, bool)
            owidth = np.int64 if pa.types.is_large_binary(arr.type) \
                else np.int32
            offs = np.frombuffer(arr.buffers()[1], dtype=owidth)[
                arr.offset:arr.offset + n + 1].astype(np.int64)
            dbuf = arr.buffers()[2]
            data = (np.frombuffer(dbuf, np.uint8)
                    if dbuf is not None else np.zeros(0, np.uint8))
            lens = np.diff(offs)
            # fixed-offset gather, padded so short rows index safely
            # (they are masked out by lens >= 33 below)
            d = np.concatenate([data, np.zeros(33, np.uint8)])
            win = d[np.minimum(offs[:-1, None] + np.arange(33),
                               len(d) - 1)]
            w = ((win[:, 16].astype(np.int64) << 24)
                 | (win[:, 17].astype(np.int64) << 16)
                 | (win[:, 18].astype(np.int64) << 8)
                 | win[:, 19])
            h = ((win[:, 20].astype(np.int64) << 24)
                 | (win[:, 21].astype(np.int64) << 16)
                 | (win[:, 22].astype(np.int64) << 8)
                 | win[:, 23])
            ok = (valid & (lens >= 33)
                  & (win[:, :8] == sig).all(axis=1)          # signature
                  & (win[:, 8] == 0) & (win[:, 9] == 0)      # IHDR len
                  & (win[:, 10] == 0) & (win[:, 11] == 13)   #   == 13
                  & (win[:, 12:16] == tag).all(axis=1)       # IHDR tag
                  & (w != 0) & (h != 0)                      # zero dim
                  & (win[:, 26] == 0) & (win[:, 27] == 0)    # comp/filt
                  & (win[:, 28] == 0))                       # interlace
            mask = np.invert(ok)
            yield pa.RecordBatch.from_arrays(
                [ids,
                 pa.array(np.where(ok, w, 0), mask=mask).cast(pa.int32()),
                 pa.array(np.where(ok, h, 0), mask=mask).cast(pa.int32()),
                 pa.array(ok)],
                ["doc_id", "width", "height", "ok"])

    def run_pil(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io

        from PIL import Image

        for pdf in batches:
            ws, hs, oks = [], [], []
            for blob in pdf["blob"]:
                try:
                    with Image.open(io.BytesIO(blob)) as img:
                        ws.append(img.width)
                        hs.append(img.height)
                        oks.append(True)
                except Exception:
                    ws.append(None)
                    hs.append(None)
                    oks.append(False)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": pd.array(ws, dtype="Int32"),
                "height": pd.array(hs, dtype="Int32"),
                "ok": oks,
            })

    schema = "doc_id long, width int, height int, ok boolean"
    if codec == "png":
        # substring over an already-33-byte hdr column is an identity
        # (and a guard if a wider prefix was ever landed)
        hdr = df.select(F.col("doc_id"),
                        F.substring(F.col(hdr_col or "blob"), 1, 33)
                        .alias("blob"))
        return hdr.mapInArrow(run_png, schema=schema)
    if codec == "stub":
        nb = (F.col(n_bytes_col) if n_bytes_col
              else F.octet_length(F.col("blob")))
        meta = df.select(F.col("doc_id"), nb.alias("__nb"))
        return meta.mapInPandas(run_stub, schema=schema)
    return df.mapInPandas(run_pil, schema=schema)


def resize_plan(decoded: DataFrame, max_side: int = 512) -> DataFrame:
    """Resize stage, metadata part: compute aspect-preserving output
    dims entirely in column expressions (integer math — exactly what a
    resize kernel would be handed). The pixel transform itself would be
    a second mapInPandas over (blob, out_w, out_h); the planning stays
    JVM-side so it can be filtered/joined without touching payloads."""
    scale_num = F.lit(max_side)
    longest = F.greatest("width", "height")
    need = longest > max_side
    out_w = F.when(need, (F.col("width") * scale_num) / longest).otherwise(F.col("width"))
    out_h = F.when(need, (F.col("height") * scale_num) / longest).otherwise(F.col("height"))
    return decoded.select(
        "doc_id", "width", "height",
        F.floor(out_w).cast("int").alias("out_w"),
        F.floor(out_h).cast("int").alias("out_h"),
    )


def sample_frames(df: DataFrame, frame_every_bytes: int = 1024) -> DataFrame:
    """Frame-sampling stage (video/audio analogue): one output row per
    sampled frame — a UDTF-shaped explode driven by metadata. The frame
    index table is rows-per-KiB here; a real video pipeline derives it
    from duration x fps, then a mapInPandas stage extracts each frame's
    pixels from the blob. Output is (doc_id, frame_idx, byte_offset).

    Frame count is ceil(n_bytes / frame_every_bytes): every offset is
    strictly inside the payload (floor(n/every)+1 would emit an
    offset == n_bytes on exact multiples — a read past the end), and
    empty payloads yield zero frames, not one."""
    n_frames = F.ceil(F.col("n_bytes")
                      / F.lit(float(frame_every_bytes))).cast("int")
    return (df.filter(F.col("n_bytes") > 0)
            .select("doc_id", "n_bytes",
                    F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"))
            .select("doc_id", "frame_idx",
                    (F.col("frame_idx") * frame_every_bytes).alias("byte_offset")))
