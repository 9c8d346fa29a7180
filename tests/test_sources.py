"""Sources library + multimodal plumbing tests (SURVEY §2.1 S2/S3,
[ext] multimodal mandate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehouse_spark.operators.multimodal import (
    attach_blob, decode_images, resize_plan, sample_frames,
)
from data_warehouse_spark.sources.jdbc import (
    connection_options, partitioned_read_options,
)
from data_warehouse_spark.sources.rest_json import (
    fetch_air_quality, gbfs_sample_frame, parse_gbfs,
)

SF = "/root/testdata/sf0.001"


def test_parse_gbfs_shreds_nested_payload(spark):
    out = parse_gbfs(gbfs_sample_frame(spark)).collect()
    assert len(out) == 3
    byid = {r.bike_id: r for r in out}
    assert byid["b2"].is_reserved is True
    assert byid["b3"].is_disabled is True
    assert byid["b1"].lat == 47.37
    # observation-time stamping (bike_lambda.py:62)
    assert all(r.observed_at is not None for r in out)


def test_fetch_air_quality_per_unit_error_isolation(spark):
    cities = spark.createDataFrame(
        [("Zurich",), ("BAD",), ("Bern",)], ["city"])

    def fetch(city):
        if city == "BAD":
            raise RuntimeError("api down")
        return {"aqi": 1, "iaqi": {"t": {"v": 2.0}, "h": {"v": 3},
                                   "pm25": {"v": 4}}}

    rows = fetch_air_quality(cities, fetch=fetch).collect()
    # the failed key is skipped, the batch survives (air_lambda.py:62-64)
    assert sorted(r.city for r in rows) == ["Bern", "Zurich"]


def test_fetch_air_quality_fanout_scales_with_cluster(spark):
    """S3 de-cap: default fan-out is min(n_keys, defaultParallelism) —
    one fetch task per key up to the cluster's slots — not the
    reference's fixed ThreadPool(3) (air_lambda.py:79), which stays
    available as an explicit argument for rate-limited APIs."""
    cities = spark.createDataFrame([(f"c{i}",) for i in range(40)], ["city"])
    dp = spark.sparkContext.defaultParallelism
    out = fetch_air_quality(cities)
    assert out.rdd.getNumPartitions() == min(40, dp)
    capped = fetch_air_quality(cities, parallelism=3)
    assert capped.rdd.getNumPartitions() == 3


def test_jdbc_partitioned_read_options():
    conn = connection_options("db.example", "warehouse", "u", "p")
    assert conn["url"].startswith("jdbc:postgresql://db.example:5432/warehouse")
    assert "connectTimeout=300" in conn["url"]  # trips_lambda.py:22
    opts = partitioned_read_options(
        conn, "bike_status", "timestamp",
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", num_partitions=16)
    assert opts["numPartitions"] == "16"
    assert opts["partitionColumn"] == "timestamp"
    assert opts["dbtable"] == "bike_status"


def test_resize_plan_preserves_aspect_and_bounds(spark):
    from data_warehouse_spark.io import load_table
    docs = load_table(spark, SF, "documents")
    planned = resize_plan(decode_images(attach_blob(docs)), max_side=512)
    bad_bounds = planned.filter(
        (F.col("out_w") > 512) | (F.col("out_h") > 512)
        | (F.col("out_w") < 1) | (F.col("out_h") < 1)).count()
    assert bad_bounds == 0
    # aspect ratio preserved within 1-pixel floor error
    drift = planned.filter(
        (F.greatest("width", "height") > 512)
        & (F.abs(F.col("out_w") / F.col("out_h")
                 - F.col("width") / F.col("height")) > 0.05)).count()
    assert drift == 0


def test_sample_frames_count_matches_metadata(spark):
    from data_warehouse_spark.io import load_table
    docs = load_table(spark, SF, "documents")
    blobs = attach_blob(docs)
    frames = sample_frames(blobs, frame_every_bytes=1024)
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("byte_offset").alias("max_off"))
    joined = per_doc.join(blobs.select("doc_id", "n_bytes"), "doc_id")
    wrong = joined.filter(
        (F.col("n_frames") != (F.col("n_bytes") / 1024).cast("int") + 1)
        | (F.col("max_off") >= F.col("n_bytes") + 1024)).count()
    assert wrong == 0


def test_png_codec_roundtrip_and_filters():
    """Vendored pure-stdlib PNG codec (functions/png.py): encode ->
    header parse -> full decode round-trips pixels exactly, and the
    decoder reverses every scanline filter type (synthetic filtered
    streams built per the public spec)."""
    import struct
    import zlib

    import pytest

    from data_warehouse_spark.functions import png

    pixels = bytes((x * 7 + 3) % 256 for x in range(13 * 9 * 3))
    blob = png.encode_png(13, 9, pixels, color_type=2)
    assert png.read_header(blob) == (13, 9, 8, 2)
    w, h, ch, raw = png.decode_png(blob)
    assert (w, h, ch) == (13, 9, 3)
    assert raw == pixels

    # greyscale + RGBA paths
    grey = bytes(range(6 * 4))
    assert png.decode_png(png.encode_png(6, 4, grey, color_type=0))[3] == grey
    rgba = bytes((x * 5) % 256 for x in range(3 * 2 * 4))
    assert png.decode_png(png.encode_png(3, 2, rgba, color_type=6))[3] == rgba

    # hand-build a stream exercising filters Sub/Up/Average/Paeth: take
    # the filter-0 stream and re-filter each line per the spec, then
    # check the decoder recovers the same pixels.
    stride = 13 * 3
    lines = [pixels[y * stride:(y + 1) * stride] for y in range(9)]
    refiltered = bytearray()
    prev = bytes(stride)
    for y, line in enumerate(lines):
        ftype = (y % 4) + 1
        refiltered.append(ftype)
        for i in range(stride):
            left = line[i - 3] if i >= 3 else 0
            up = prev[i]
            ul = prev[i - 3] if i >= 3 else 0
            if ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                pred = png._paeth(left, up, ul)
            refiltered.append((line[i] - pred) & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", 13, 9, 8, 2, 0, 0, 0)
    blob2 = (b"\x89PNG\r\n\x1a\n" + png._chunk(b"IHDR", ihdr)
             + png._chunk(b"IDAT", zlib.compress(bytes(refiltered)))
             + png._chunk(b"IEND", b""))
    assert png.decode_png(blob2)[3] == pixels

    with pytest.raises(png.PngError):
        png.read_header(b"not an image")
    with pytest.raises(png.PngError):
        png.decode_png(blob[:20])


def test_decode_images_real_codec_header(spark):
    """Real-codec path IN SPARK: a genuine PNG payload decodes to its
    true header dims and a malformed payload degrades to ok=false
    (never a task failure). Runs the vendored codec everywhere; the
    Pillow kernel additionally runs when the library is present."""
    import pytest

    from data_warehouse_spark.functions.png import encode_png
    from data_warehouse_spark.operators.multimodal import (
        _pil_available, decode_images,
    )

    blob = encode_png(37, 21, bytes(37 * 21 * 3))
    rows = [(1, bytearray(blob)), (2, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    codecs = ["png", "auto"] + (["pil"] if _pil_available() else [])
    for codec in codecs:
        got = {r.doc_id: r for r in decode_images(df, codec=codec).collect()}
        assert (got[1].width, got[1].height, got[1].ok) == (37, 21, True), codec
        assert got[2].ok is False and got[2].width is None, codec
    if not _pil_available():
        with pytest.raises(ImportError):
            decode_images(df, codec="pil")


def test_attach_png_blob_real_roundtrip(spark):
    """mm2's pipeline shape: attach_png_blob writes genuine PNGs whose
    dims are the documented function of the text byte-length, and the
    real decoder reads those dims back from the payload headers."""
    from pyspark.sql import functions as F

    from data_warehouse_spark.operators.multimodal import (
        attach_png_blob, decode_images,
    )

    rows = [(1, "a" * 10), (2, "b" * 100), (3, "é" * 30)]  # 2-byte char
    df = spark.createDataFrame(rows, "doc_id long, text string")
    blobs = attach_png_blob(df)
    decoded = {r.doc_id: r for r in
               decode_images(blobs, codec="png").collect()}
    for doc_id, text in rows:
        n = len(text.encode("utf-8"))
        assert (decoded[doc_id].width, decoded[doc_id].height) == \
            (n % 64 + 8, n % 48 + 8)
        assert decoded[doc_id].ok is True
    # payloads are genuine PNGs byte-for-byte: signature check in SQL
    sigs = blobs.select(
        F.hex(F.substring("blob", 1, 8)).alias("sig")).distinct().collect()
    assert [r.sig for r in sigs] == ["89504E470D0A1A0A"]


def test_mm2_scan_prunes_blob_column(spark):
    """r17 (VERDICT r16 ask #6): png_blob_table lands the 33-byte
    header prefix as its own `hdr` column, and mm2's decode reads ONLY
    it — the parquet scan's ReadSchema must not contain the KB-scale
    `blob` payload column. Decoded values are pinned identical to the
    full-payload read by the oracle (dims formula) and by the
    hdr-vs-blob equality below."""
    from data_warehouse_spark.plans import read_schema
    from data_warehouse_spark.queries.registry import load_all

    df = load_all()["mm2_image_resize"].fn(spark, SF)
    schema = read_schema(df)
    assert "hdr:" in schema            # column entries print as name:type
    assert "blob:" not in schema       # (the PATH contains 'blob' either way)
    # the landed prefix is byte-identical to substring(blob, 1, 33)
    from data_warehouse_spark.operators.multimodal import png_blob_table
    tbl = png_blob_table(spark, SF)
    bad = tbl.filter(
        ~F.col("hdr").eqNullSafe(F.substring("blob", 1, 33))).count()
    assert bad == 0


def test_png_blob_table_never_serves_a_pre_hdr_cache(spark, tmp_path):
    """A persistent base may still hold a table landed before the `hdr`
    column existed, under the old (sf_dir, mtime) digest: the layout
    version in the cache key must route around it, not serve it."""
    import hashlib
    import os

    from data_warehouse_spark.operators.multimodal import png_blob_table

    mtime = int(os.path.getmtime(f"{SF}/documents.parquet"))
    old = hashlib.md5(f"{SF}|{mtime}".encode()).hexdigest()[:8]
    stale = spark.createDataFrame([(1, b"x", "image/png", 1)],
                                  "doc_id long, blob binary, "
                                  "media_type string, n_bytes long")
    stale.write.parquet(str(tmp_path / old / "png_blobs.parquet"))

    tbl = png_blob_table(spark, SF, base=str(tmp_path))
    assert "hdr" in tbl.columns and tbl.count() > 1


def test_decode_images_stub_prunes_blob_via_n_bytes_col(spark):
    """The stub codec's dims are a pure function of payload length;
    when the source table already carries n_bytes (attach_blob /
    png_blob_table layout), naming it prunes `blob` from the scan's
    ReadSchema while producing identical rows."""
    from data_warehouse_spark.operators.multimodal import png_blob_table
    from data_warehouse_spark.plans import read_schema

    tbl = png_blob_table(spark, SF)
    pruned = decode_images(tbl, codec="stub", n_bytes_col="n_bytes")
    schema = read_schema(pruned)
    assert "n_bytes:" in schema and "blob:" not in schema
    full = decode_images(tbl.select("doc_id", "blob"), codec="stub")
    a = {r.doc_id: (r.width, r.height, r.ok) for r in pruned.collect()}
    b = {r.doc_id: (r.width, r.height, r.ok) for r in full.collect()}
    assert a == b and len(a) > 0


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """End-to-end JDBC roundtrip against EMBEDDED Apache Derby
    (VERDICT r13 ask #7): the one reference data path (PostgreSQL
    read/write, trips_lambda.py:226-227,35-47) that previously had no
    live test. No database server exists in the container, but Spark
    ships Derby's embedded engine in its own jars/, so the builders
    run against a real database: append_jdbc CREATEs + batch-writes,
    read_jdbc pulls the table back whole, partitioned_read_options
    splits the scan into genuinely parallel range queries (partition
    count checked on the result RDD), and a second append really
    appends."""
    from data_warehouse_spark.sources.jdbc import (
        append_jdbc, derby_embedded_options, read_jdbc,
    )

    # Derby writes derby.log to user.dir unless told otherwise; keep
    # the repo clean (read once at engine boot, so set before first use)
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log"))
    opts = derby_embedded_options(str(tmp_path / "smokedb"))
    src = spark.range(1000).selectExpr(
        "id AS event_id",
        "CAST(id % 5 AS STRING) AS event_type",
        "CAST(id % 97 AS DOUBLE) / 10.0 AS value")
    append_jdbc(src, opts, "EVENTS_SMOKE", batch_size=200)

    back = read_jdbc(spark, {**opts, "dbtable": "EVENTS_SMOKE"})
    assert sorted(tuple(r) for r in back.collect()) == \
        sorted(tuple(r) for r in src.collect())

    popts = partitioned_read_options(opts, "EVENTS_SMOKE", "event_id",
                                     "0", "1000", num_partitions=8)
    pback = read_jdbc(spark, popts)
    assert pback.rdd.getNumPartitions() == 8
    assert sorted(tuple(r) for r in pback.collect()) == \
        sorted(tuple(r) for r in src.collect())

    append_jdbc(src, opts, "EVENTS_SMOKE", batch_size=200)
    n = read_jdbc(spark, {**opts, "dbtable": "EVENTS_SMOKE"}).count()
    assert n == 2000
