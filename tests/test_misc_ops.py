"""Remaining SURVEY §2 operator helpers: observed metrics (A3), colors
document pipeline (B5), multimodal feature plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakeflow.catalog import load_table
from lakeflow.functions.telemetry import with_observed_count
from lakeflow.operators.multimodal import (
    decode_features,
    extract_metadata,
    with_binary_payload,
)
from lakeflow.pipelines.json_document import import_colors
from tests import fixtures

SF = "/root/testdata/sf0.001"


def test_observed_count_single_pass(spark):
    df = load_table(spark, SF, "orders").filter(F.col("o_orderstatus") == "F")
    observed, obs = with_observed_count(df, "f_orders")
    n = observed.count()
    assert obs.get["n_rows"] == n > 0


def test_import_colors(spark, tmp_path):
    path = fixtures.build_colors(str(tmp_path))
    out = import_colors(spark, path)
    rows = {r["color"]: r for r in out.collect()}
    assert set(out.columns) == {"color", "category", "type", "code_rgba", "hex"}
    assert rows["red"]["code_rgba"] == [255, 0, 0, 1]
    assert rows["white"]["type"] is None


def test_multimodal_metadata_roundtrip(spark):
    d = load_table(spark, SF, "documents").limit(20)
    meta = extract_metadata(with_binary_payload(d, "text", "doc_id"))
    joined = meta.join(
        d.select(F.col("doc_id").alias("id"), F.md5("text").alias("expect_md5")),
        "id",
    )
    bad = joined.filter(F.col("content_md5") != F.col("expect_md5")).count()
    assert bad == 0 and meta.count() == 20


def test_multimodal_fake_features_deterministic(spark):
    d = with_binary_payload(
        load_table(spark, SF, "documents").limit(10), "text", "doc_id"
    )
    a = {r["id"]: r["feature"] for r in decode_features(d, fake=True).collect()}
    b = {r["id"]: r["feature"] for r in decode_features(d, fake=True).collect()}
    assert a == b and all(len(v) == 4 for v in a.values())


def test_multimodal_resize_stub_plumbing(spark):
    import pytest as _pytest

    from lakeflow.operators.multimodal import resize_images

    d = with_binary_payload(
        load_table(spark, SF, "documents").limit(10), "text", "doc_id"
    )
    out = resize_images(d, 8, 6, fake=True).collect()
    assert len(out) == 10
    # output size tracks target dims, not input payload size
    assert all(len(r["resized"]) == 8 * 6 for r in out)
    assert all(r["width"] == 8 and r["height"] == 6 for r in out)
    # determinism
    again = resize_images(d, 8, 6, fake=True).collect()
    assert sorted(r["resized"] for r in out) == sorted(r["resized"] for r in again)
    # real path declares itself unimplemented instead of faking silently
    with _pytest.raises(Exception, match="NotImplementedError|resize requires"):
        resize_images(d, 8, 6, fake=False).collect()


def test_multimodal_frame_sampling_fanout(spark):
    from lakeflow.operators.multimodal import sample_frames

    d = with_binary_payload(
        load_table(spark, SF, "documents").limit(10), "text", "doc_id"
    )
    out = sample_frames(d, every_ms=500, max_frames=4, fake=True).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    # 1:N fan-out: every doc produces 1..max_frames rows, contiguously indexed
    assert set(by_id) == {r["id"] for r in d.select("id").collect()}
    for rows in by_id.values():
        idxs = sorted(r["frame_idx"] for r in rows)
        assert 1 <= len(idxs) <= 4 and idxs == list(range(len(idxs)))
        for r in rows:
            assert r["frame_ts_ms"] == r["frame_idx"] * 500
            assert len(r["frame"]) == 16


def test_ivf_ann_candidates_subset_and_recall(spark):
    from lakeflow.operators.similarity import brute_force_topk, ivf_ann_topk

    emb = load_table(spark, SF, "embeddings")
    pred = F.col("vec_id") < 10
    ann = ivf_ann_topk(emb, pred, k=5, n_cells=16, n_probe=8)
    rows = ann.collect()
    # top-k contract: <= k rows per query, ranks contiguous from 1
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r["rnk"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    # recall contract vs exact truth
    ex = brute_force_topk(emb, pred, k=5)
    hits = ann.join(ex.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi").count()
    n_q = ex.select("q_id").distinct().count()
    assert hits >= 3 * n_q  # recall@5 >= 0.6
    # fit/serve split (VERDICT r7 task #3): serving against prebuilt
    # centroids returns the identical result to the in-query pick
    from lakeflow.operators.similarity import ivf_centroids

    cents = ivf_centroids(emb, 16)
    served = ivf_ann_topk(emb, pred, k=5, n_cells=16, n_probe=8, centroids=cents)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, rows))
    # wrong-size centroid list fails loudly, never silently re-cells
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_cells"):
        ivf_ann_topk(emb, pred, n_cells=16, centroids=cents[:4])


def test_analyze_table_records_cbo_stats(spark, tmp_path):
    from lakeflow.sinks.tables import analyze_table, drop_table, save_table

    df = spark.range(1000).selectExpr("id", "id % 7 AS grp")
    save_table(df, "t_stats", path=str(tmp_path / "t_stats"))
    try:
        info = analyze_table(spark, "t_stats", columns=("id", "grp"))
        # table-level stats recorded (bytes, and rowCount after ANALYZE)
        assert "Statistics" in info and "rows" in info["Statistics"]
        # column-level NDV visible to the optimizer
        desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql("DESCRIBE EXTENDED t_stats grp").collect()
        }
        assert desc.get("distinct_count") not in (None, "NULL")
        import pytest as _pytest
        with _pytest.raises(ValueError):
            analyze_table(spark, "t_stats; DROP TABLE x")
    finally:
        drop_table(spark, "t_stats")


def test_expectations_annotate_and_split(spark):
    from pyspark.sql import Row

    from lakeflow.operators.expectations import (
        check_expectations,
        duplicate_keys,
        split_expectations,
    )

    df = spark.createDataFrame(
        [
            Row(id=1, price=10.0, status="O"),
            Row(id=2, price=-5.0, status="O"),
            Row(id=3, price=3.0, status="X"),
            Row(id=4, price=None, status="F"),
            Row(id=4, price=2.0, status="F"),
        ]
    )
    rules = {
        "price_positive": F.col("price") > 0,
        "status_known": F.col("status").isin("O", "F"),
    }
    marked = {
        (r["id"], r["price"]): set(r["failed_rules"])
        for r in check_expectations(df, rules).collect()
    }
    assert marked[(1, 10.0)] == set()
    assert marked[(2, -5.0)] == {"price_positive"}
    assert marked[(3, 3.0)] == {"status_known"}
    # NULL predicate counts as a violation (coalesce to false), never silently passes
    assert marked[(4, None)] == {"price_positive"}
    assert marked[(4, 2.0)] == set()

    good, bad = split_expectations(df, rules)
    good_ids = sorted(r["id"] for r in good.collect())
    assert good_ids == [1, 4]  # the (4, price=2.0) row is clean
    assert "failed_rules" not in good.columns
    assert {tuple(sorted(r["failed_rules"])) for r in bad.collect()} == {
        ("price_positive",),
        ("status_known",),
    }

    dups = duplicate_keys(df, ["id"]).collect()
    assert [(r["id"], r["n_rows"]) for r in dups] == [(4, 2)]


def _png_bytes(w, h):
    import struct
    import zlib

    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk))
    )


def _gif_bytes(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def _jpeg_bytes(w, h):
    import struct

    # SOI + APP0(JFIF) + SOF0 carrying the dims + EOI
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\x08" + struct.pack(">HH", h, w) + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"
    )


def test_image_dims_real_headers(spark):
    from pyspark.sql import Row

    from lakeflow.operators.multimodal import image_dims, jpeg_dims

    df = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(_png_bytes(640, 480))),
            Row(id=2, payload=bytearray(_gif_bytes(320, 200))),
            Row(id=3, payload=bytearray(_jpeg_bytes(1920, 1080))),
            Row(id=4, payload=bytearray(b"not an image at all")),
        ]
    )
    fixed = {r["id"]: (r["format"], r["width"], r["height"]) for r in image_dims(df).collect()}
    # PNG/GIF: dims via pure built-ins; JPEG recognized but dims deferred
    assert fixed[1] == ("png", 640, 480)
    assert fixed[2] == ("gif", 320, 200)
    assert fixed[3] == ("jpeg", None, None)
    assert fixed[4] == ("unknown", None, None)

    jp = {r["id"]: (r["format"], r["width"], r["height"]) for r in jpeg_dims(df).collect()}
    assert jp[3] == ("jpeg", 1920, 1080)  # real marker scan
    assert jp[1][1] is None and jp[4] == ("unknown", None, None)


def _wav_bytes(channels, rate, bits):
    import struct

    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
                      channels * bits // 8, bits)
    data = b"\x00" * 8
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
           + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mp4_bytes(timescale, duration, version=0):
    import struct

    if version == 0:
        mvhd_body = b"\x00\x00\x00\x00" + b"\x00" * 8 + struct.pack(
            ">II", timescale, duration
        ) + b"\x00" * 80
    else:
        mvhd_body = b"\x01\x00\x00\x00" + b"\x00" * 16 + struct.pack(
            ">IQ", timescale, duration
        ) + b"\x00" * 80
    mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    return ftyp + moov


def test_wav_and_mp4_meta_real_headers(spark):
    from pyspark.sql import Row

    from lakeflow.operators.multimodal import mp4_duration, wav_meta

    df = spark.createDataFrame(
        [
            Row(id=1, payload=bytearray(_wav_bytes(2, 44100, 16))),
            Row(id=2, payload=bytearray(_mp4_bytes(1000, 95_500))),
            Row(id=3, payload=bytearray(_mp4_bytes(90_000, 90_000 * 61, version=1))),
            Row(id=4, payload=bytearray(b"garbage bytes, not media")),
        ]
    )
    wav = {r["id"]: (r["format"], r["n_channels"], r["sample_rate"], r["bits_per_sample"])
           for r in wav_meta(df).collect()}
    assert wav[1] == ("wav", 2, 44100, 16)
    assert wav[2][0] == "unknown" and wav[4][0] == "unknown"

    mp4 = {r["id"]: (r["format"], r["duration_ms"]) for r in mp4_duration(df).collect()}
    assert mp4[2] == ("mp4", 95_500)       # v0 mvhd: 95.5s at timescale 1000
    assert mp4[3] == ("mp4", 61_000)       # v1 mvhd: 61s at timescale 90000
    assert mp4[1] == ("unknown", None) and mp4[4] == ("unknown", None)


def test_jpeg_dims_fill_bytes_and_eoi(spark):
    import struct

    from pyspark.sql import Row

    from lakeflow.operators.multimodal import jpeg_dims

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\x08" + struct.pack(">HH", 240, 320) + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    # spec-legal 0xFF fill bytes padding before the SOF marker
    padded = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xff\xff"  # fill bytes
        + b"\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"
    )
    # EOI before any SOF: terminates cleanly with null dims
    eoi_only = b"\xff\xd8" + b"\xff\xd9"
    df = spark.createDataFrame(
        [Row(id=1, payload=bytearray(padded)), Row(id=2, payload=bytearray(eoi_only))]
    )
    out = {r["id"]: (r["width"], r["height"]) for r in jpeg_dims(df).collect()}
    assert out[1] == (320, 240)
    assert out[2] == (None, None)


def _encode_png(rows, w, h, ctype, filters):
    """Reference PNG encoder for the baseline-decoder tests: raw pixel
    rows + an explicit per-row filter-type cycle -> a well-formed PNG
    (IHDR/IDAT/IEND with CRCs). Encoding applies the exact inverse of
    each filter, so a decode that reproduces the input pixels proves
    every unfilter path (None/Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    stride = w * channels
    raw = bytearray()
    prev = bytearray(stride)
    for y, row in enumerate(rows):
        line = bytearray(row)
        assert len(line) == stride
        f = filters[y % len(filters)]
        raw.append(f)
        if f == 0:
            enc = line
        elif f == 1:
            enc = bytearray(
                (line[x] - (line[x - channels] if x >= channels else 0)) & 0xFF
                for x in range(stride)
            )
        elif f == 2:
            enc = bytearray((line[x] - prev[x]) & 0xFF for x in range(stride))
        elif f == 3:
            enc = bytearray(
                (
                    line[x]
                    - (((line[x - channels] if x >= channels else 0) + prev[x]) >> 1)
                )
                & 0xFF
                for x in range(stride)
            )
        else:  # Paeth
            enc = bytearray()
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                c = prev[x - channels] if x >= channels else 0
                up = prev[x]
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                enc.append((line[x] - pr) & 0xFF)
        raw += enc
        prev = line

    def chunk(typ, data):
        c = typ + data
        return struct.pack(">I", len(data)) + c + struct.pack(">I", zlib.crc32(c))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _gradient_rows(w, h, channels):
    """Deterministic full-range pixel rows (position-derived bytes)."""
    return [
        bytes((x * 7 + y * 13 + c * 29) % 256 for x in range(w) for c in range(channels))
        for y in range(h)
    ]


def test_png_baseline_decoder_all_filters_roundtrip():
    # pure-Python stdlib decoder (VERDICT r6 task #4): encode with every
    # filter type cycling across rows, decode, get the exact pixels back
    from lakeflow.operators.multimodal import png_decode_rgb

    w, h = 9, 10  # odd width so Sub/Average/Paeth cross channel strides
    for ctype, channels in ((2, 3), (0, 1), (6, 4), (4, 2)):
        rows = _gradient_rows(w, h, channels)
        payload = _encode_png(rows, w, h, ctype, filters=[0, 1, 2, 3, 4])
        dw, dh, rgb = png_decode_rgb(payload)
        assert (dw, dh) == (w, h)
        for y in range(h):
            got = rgb[y]
            for x in range(w):
                px = rows[y][x * channels : (x + 1) * channels]
                if channels >= 3:
                    expect = (px[0], px[1], px[2])
                else:
                    expect = (px[0], px[0], px[0])  # gray replicated
                assert tuple(got[3 * x : 3 * x + 3]) == expect, (ctype, x, y)


def test_png_baseline_rejects_out_of_scope():
    import pytest as _pytest

    from lakeflow.operators.multimodal import png_decode_rgb

    with _pytest.raises(ValueError, match="not a PNG"):
        png_decode_rgb(b"GIF89a______")
    # 16-bit depth is outside the baseline: honest NotImplementedError
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    c = b"IHDR" + ihdr
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + c + struct.pack(">I", zlib.crc32(c))
    )
    with _pytest.raises(NotImplementedError, match="baseline"):
        png_decode_rgb(payload)


def test_multimodal_real_png_decode_without_pil(spark):
    # the REAL (non-fake) branch now runs in this sandbox for PNG
    # payloads via the stdlib baseline — decode_features reports true
    # dims + mean-color features, resize_images emits the exact
    # luminance bitmap, sample_frames yields the single still frame
    import pytest as _pytest

    from lakeflow.operators.multimodal import (
        _nearest_grid,
        has_real_decode,
        resize_images,
        sample_frames,
    )

    if has_real_decode():
        _pytest.skip("PIL installed; this exercises the stdlib baseline")

    w, h = 32, 16
    red = [bytes([255, 0, 0] * w) for _ in range(h)]
    grad = _gradient_rows(w, h, 3)
    rows_data = [
        (1, _encode_png(red, w, h, 2, filters=[0])),
        (2, _encode_png(grad, w, h, 2, filters=[4, 2, 1, 3, 0])),
    ]
    d = spark.createDataFrame(rows_data, "id long, payload binary").withColumn(
        "media_type", F.lit("image/png")
    )
    feats = {r["id"]: r for r in decode_features(d, fake=False).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (w, h)
    assert feats[1]["feature"][0] == 1.0 and feats[1]["feature"][1] == 0.0
    rs = {r["id"]: r for r in resize_images(d, 4, 4, fake=False).collect()}
    assert all(b == 76 for b in rs[1]["resized"])  # luma(255,0,0) = 76
    # independent expectation for the gradient: nearest-neighbor grid +
    # ITU-R 601-2 luma, computed here from the raw rows
    xs, ys = _nearest_grid(w, 4), _nearest_grid(h, 4)
    expect = bytes(
        (
            299 * grad[y][3 * x]
            + 587 * grad[y][3 * x + 1]
            + 114 * grad[y][3 * x + 2]
        )
        // 1000
        for y in ys
        for x in xs
    )
    assert bytes(rs[2]["resized"]) == expect
    fr = sample_frames(d, every_ms=1000, max_frames=2, fake=False).collect()
    assert sorted((r["id"], r["frame_idx"]) for r in fr) == [(1, 0), (2, 0)]
    assert all(len(r["frame"]) == 256 for r in fr)
    # non-PNG payloads still declare themselves unimplemented
    t = with_binary_payload(
        load_table(spark, SF, "documents").limit(2), "text", "doc_id"
    )
    with _pytest.raises(Exception, match="NotImplementedError|not a PNG"):
        decode_features(t, fake=False).collect()


def test_multimodal_real_decode_when_pil_present(spark):
    # the real-decode escape hatch (VERDICT r5 task #4): when a
    # PIL-class library is importable, fake=False runs true decode;
    # skipped in environments (like this sandbox) without one — the
    # NotImplementedError contract for that case is asserted in
    # test_multimodal_resize_stub_plumbing
    import pytest as _pytest

    from lakeflow.operators.multimodal import (
        has_real_decode,
        resize_images,
        sample_frames,
    )

    if not has_real_decode():
        _pytest.skip("PIL not installed; real decode branch unavailable")
    import io as _io

    from PIL import Image

    def png_bytes(w, h, color):
        buf = _io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [(1, png_bytes(32, 16, (255, 0, 0))), (2, png_bytes(8, 8, (0, 0, 0)))]
    d = spark.createDataFrame(rows, "id long, payload binary").withColumn(
        "media_type", F.lit("image/png")
    )
    feats = {r["id"]: r for r in decode_features(d, fake=False).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (32, 16)
    assert feats[1]["feature"][0] > 0.9 and feats[1]["feature"][1] < 0.1  # red
    assert all(v < 0.05 for v in feats[2]["feature"])  # black
    rs = {r["id"]: r for r in resize_images(d, 4, 4, fake=False).collect()}
    assert len(rs[1]["resized"]) == 16
    assert all(b == 0 for b in rs[2]["resized"])  # black stays black
    fr = sample_frames(d, every_ms=1000, max_frames=2, fake=False).collect()
    # single-frame stills emit exactly one 16x16 gray frame each
    assert sorted((r["id"], r["frame_idx"]) for r in fr) == [(1, 0), (2, 0)]
    assert all(len(r["frame"]) == 256 for r in fr)


@pytest.mark.parametrize("fmt", ["png", "jpeg", "gif"])
def test_real_decode_format_matrix(spark, fmt):
    # VERDICT r7 task #9: the real-decode coverage claim as a test
    # MATRIX, so the pytest report names each format's status instead
    # of prose — PNG decodes for REAL in this sandbox (stdlib baseline,
    # no PIL needed); JPEG/GIF pixel decode is PIL-gated and SKIPS with
    # the format named. Run with -rs to see the skip reasons.
    from lakeflow.operators.multimodal import decode_features, has_real_decode

    if fmt != "png" and not has_real_decode():
        pytest.skip(
            f"{fmt.upper()} real pixel decode requires a PIL-class "
            "library on the executors (not installed in this sandbox); "
            "PNG decodes for real via the stdlib baseline"
        )
    if fmt == "png":
        rows = [
            bytes(v for _ in range(8) for v in (0, 255, 0)) for _ in range(4)
        ]
        payload = _encode_png(rows, 8, 4, 2, filters=[0])
    else:
        import io as _io

        from PIL import Image

        buf = _io.BytesIO()
        Image.new("RGB", (8, 4), (0, 255, 0)).save(buf, format=fmt.upper())
        payload = buf.getvalue()
    d = spark.createDataFrame(
        [(1, payload)], "id long, payload binary"
    ).withColumn("media_type", F.lit(f"image/{fmt}"))
    row = decode_features(d, fake=False).collect()[0]
    assert (row["width"], row["height"]) == (8, 4)
    assert row["feature"][1] > 0.9  # green channel dominates


def test_corpus_cache_key_tracks_content(tmp_path):
    # ADVICE r7: per-corpus /tmp artifact caches must key on CONTENT,
    # not path — regenerating the corpus at the same path must change
    # the key (no Spark needed; the key is pure os.stat)
    import os
    import time as _time

    from lakeflow.plans.llm_ops import _corpus_cache_key

    sf = str(tmp_path)
    t = tmp_path / "embeddings.parquet"
    t.write_bytes(b"v1")
    k1 = _corpus_cache_key(sf)
    assert k1 == _corpus_cache_key(sf)  # stable while untouched
    _time.sleep(0.01)
    t.write_bytes(b"v2-bigger")  # size + mtime change
    k2 = _corpus_cache_key(sf)
    assert k2 != k1
    # same size, newer mtime still invalidates
    _time.sleep(0.01)
    t.write_bytes(b"v3-bigger")
    os.utime(t)
    assert _corpus_cache_key(sf) != k2
    # directory-shaped tables fingerprint their part files
    d = tmp_path / "sub"
    d.mkdir()
    (d / "embeddings.parquet").mkdir()
    (d / "embeddings.parquet" / "part-0.parquet").write_bytes(b"a")
    kd1 = _corpus_cache_key(str(d))
    (d / "embeddings.parquet" / "part-1.parquet").write_bytes(b"b")
    assert _corpus_cache_key(str(d)) != kd1


def test_corpus_cache_key_is_the_catalog_files_digest(tmp_path):
    # one content fingerprint: the artifact key is catalog.files_digest
    # of the table path, the same digest read_parquet's schema memo
    # keys on — equal while the files are unchanged, different once
    # one part file under embeddings.parquet is rewritten
    import os

    from lakeflow.catalog import files_digest
    from lakeflow.plans.llm_ops import _corpus_cache_key

    t = tmp_path / "embeddings.parquet"
    t.mkdir()
    (t / "part-0.parquet").write_bytes(b"a")
    (t / "part-1.parquet").write_bytes(b"b")
    k1 = _corpus_cache_key(str(tmp_path))
    assert k1 == _corpus_cache_key(str(tmp_path))
    assert k1 == files_digest(str(t)).hex()[:16]
    part = t / "part-1.parquet"
    part.write_bytes(b"c")  # same size: only the mtime moves
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _corpus_cache_key(str(tmp_path)) != k1


def test_ivf_serving_dedups_replay_duplicated_assignments(spark):
    # ADVICE r9 (medium): stream_ivf_assign replays append duplicate
    # (id, cell) rows; the serving join must distinct() them or a
    # duplicated vec_id occupies two of the k ranks and displaces a
    # genuinely distinct k-th neighbor. Duplicated relation must serve
    # the IDENTICAL top-k as the clean one, with no repeated vec_id
    # per query.
    from lakeflow.operators.similarity import (
        ivf_ann_topk,
        ivf_assign,
        ivf_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    pred = F.col("vec_id") < 6
    cents = ivf_centroids(emb, 16)
    asg = ivf_assign(emb, cents)
    clean = ivf_ann_topk(
        emb, pred, k=5, n_cells=16, n_probe=4, centroids=cents, assignments=asg
    )
    dup = ivf_ann_topk(
        emb, pred, k=5, n_cells=16, n_probe=4, centroids=cents,
        assignments=asg.unionByName(asg),
    )
    a = sorted(map(tuple, clean.collect()))
    b = sorted(map(tuple, dup.collect()))
    assert a == b
    seen = set()
    for q, v, *_ in b:
        assert (q, v) not in seen
        seen.add((q, v))


def test_quantiles_from_value_counts_multi_group(spark):
    # r10: multi-column fleet-monitor grouping (struct-packed key) —
    # per-(g1, g2) percentile_disc must equal the single-group answer
    # computed per slice, and unpack the group columns flat.
    from lakeflow.operators.profile import quantiles_from_value_counts

    rows = [
        (g1, g2, v, n)
        for g1 in ("a", "b")
        for g2 in (0, 1)
        for v, n in [(1, 3), (5, 2), (9, 1 + (g1 == "b") * 4)]
    ]
    per_v = spark.createDataFrame(rows, "g1 string, g2 long, v long, n long")
    multi = quantiles_from_value_counts(per_v, "v", "n", [0.5, 0.9], ["g1", "g2"])
    assert multi.columns == ["g1", "g2", "p_micros", "value", "n_total"]
    got = {
        (r["g1"], r["g2"], r["p_micros"]): (r["value"], r["n_total"])
        for r in multi.collect()
    }
    for g1 in ("a", "b"):
        for g2 in (0, 1):
            single = quantiles_from_value_counts(
                per_v.filter((F.col("g1") == g1) & (F.col("g2") == g2)),
                "v", "n", [0.5, 0.9],
            )
            for r in single.collect():
                assert got[(g1, g2, r["p_micros"])] == (r["value"], r["n_total"])
