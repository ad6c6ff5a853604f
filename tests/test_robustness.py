"""Robustness: the books path degrades gracefully on malformed input
(the reference's JSON-decode guard, reference scripts/extract.py:45-50,
generalized — bad input yields empty/partial results, never a crashed
job)."""

from __future__ import annotations

import pytest

from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.transforms import (
    read_raw_books,
    transform_books,
)


def _run(spark, tmp_path, content: str):
    p = tmp_path / "raw.json"
    p.write_text(content)
    return transform_books(read_raw_books(spark, str(p)))


def test_invalid_json_yields_empty(spark, tmp_path):
    out = _run(spark, tmp_path, "this is not json {]")
    assert out.count() == 0


def test_empty_array_yields_empty(spark, tmp_path):
    assert _run(spark, tmp_path, "[]").count() == 0


def test_empty_wrapper_rows_are_dropped(spark, tmp_path):
    # the reference's `[][0]` would raise; we drop the empty wrapper
    content = '[[], [{"id": "1", "title": "ok", "genres": ["g"], "authors": [], "rating": {"average": "0.5"}}]]'
    out = _run(spark, tmp_path, content)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["id"] == 1 and rows[0]["rating"] == 50.0


def test_partial_garbage_fields_null_not_crash(spark, tmp_path):
    # garbage id and rating null out (try_cast), row survives
    content = '[[{"id": "garbage", "title": "t", "genres": [], "authors": [{"id": 7, "name": "a"}], "rating": {"average": "oops"}}]]'
    rows = _run(spark, tmp_path, content).collect()
    assert len(rows) == 1
    assert rows[0]["id"] is None and rows[0]["rating"] is None
    assert rows[0]["author_id"] == ["7"]


def test_bare_book_objects_beside_wrappers(spark, tmp_path):
    """FIXTURES.md §F1 and the reference (``book[0] if isinstance(book,
    (list, tuple)) else book``) accept bare book objects beside the
    one-element wrappers: [[b1], b2, [], [b3]] keeps all three books,
    read in one task."""
    import json

    def book(i):
        return {"id": i, "title": f"t{i}", "genres": ["g"], "rating": {"average": 0.5}}

    p = tmp_path / "raw.json"
    p.write_text(json.dumps([[book(1)], book(2), [], [book(3)]]))
    raw = read_raw_books(spark, str(p))
    assert raw.rdd.getNumPartitions() == 1
    rows = transform_books(raw).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3]
    assert {r["rating"] for r in rows} == {50.0}


def test_float_string_id_truncates(spark, tmp_path):
    # T5 parity: int(float("3.9")) == 3
    content = '[[{"id": "3.9", "title": "t", "genres": [], "authors": [], "rating": {"average": "1"}}]]'
    rows = _run(spark, tmp_path, content).collect()
    assert rows[0]["id"] == 3 and rows[0]["rating"] == 100.0


# ---------------------------------------------------------------------------
# Codec quarantine fuzzing: image_stats/audio_stats promise that a bad
# blob NEVER fails the job — so every decoder must raise ValueError (and
# only ValueError) on arbitrary garbage, including near-valid payloads
# with flipped bits. Any other exception type would escape the
# quarantine's `except ValueError` and kill a 100 TB job.
# ---------------------------------------------------------------------------


def _decoders():
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import multimodal as M

    return [
        ("image", M.decode_image),
        ("wav", lambda b: M.decode_wav(b)),
        ("avi", M.demux_avi_frames),
    ]


def test_decoders_raise_only_valueerror_on_garbage():
    import hashlib

    def pseudo_random_bytes(seed: int, n: int) -> bytes:
        out = b""
        i = 0
        while len(out) < n:
            out += hashlib.sha256(f"{seed}:{i}".encode()).digest()
            i += 1
        return out[:n]

    magics = [
        b"", b"BM", b"P6", b"P5", b"\x89PNG\r\n\x1a\n", b"\xff\xd8",
        b"GIF87a", b"GIF89a", b"RIFF", b"RIFF????WAVE", b"RIFF????AVI ",
    ]
    for name, dec in _decoders():
        for seed in range(40):
            for magic in magics:
                payload = magic + pseudo_random_bytes(seed, 64 + seed * 17)
                try:
                    dec(payload)
                except ValueError:
                    pass  # the quarantine contract
                # anything else (IndexError, struct.error, zlib.error,
                # KeyError...) propagates and fails the test


def test_decoders_survive_bitflips_of_valid_payloads():
    import hashlib

    import numpy as np

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import multimodal as M
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.gifcodec import encode_gif
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.jpegcodec import encode_jpeg

    rng = np.random.default_rng(21)
    gray = rng.integers(0, 256, (6, 5, 1), dtype=np.uint8)
    rgb = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    samples = (rng.random((32, 1)) - 0.5).astype(np.float64)
    payloads = [
        ("png", M.encode_png(rgb), M.decode_image),
        ("jpeg", encode_jpeg(rgb), M.decode_image),
        ("gif", encode_gif(gray), M.decode_image),
        ("ppm", M.encode_ppm(rgb), M.decode_image),
        ("wav", M.encode_wav(samples, 8000), lambda b: M.decode_wav(b)),
        ("avi", M.mux_avi([b"xx", b"yyy"], 2, 2), M.demux_avi_frames),
    ]
    for name, good, dec in payloads:
        dec(good)  # sanity: the pristine payload decodes
        h = int(hashlib.sha256(good).hexdigest(), 16)
        for t in range(60):
            bad = bytearray(good)
            pos = (h >> (t % 48)) % len(bad)
            bad[pos] ^= 1 << (t % 8)
            try:
                dec(bytes(bad))
            except ValueError:
                pass
            # corrupt decodes that "succeed" are fine (bit flip hit
            # pixel data) — only non-ValueError exceptions fail


def test_hostile_dimensions_bounded_not_oom():
    """A hostile header declaring a giant raster (or a zlib bomb) must
    raise ValueError at header-parse time — never reach a multi-GiB
    allocation that MemoryError (uncaught by design) would turn into a
    dead worker."""
    import struct
    import zlib

    import numpy as np

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import multimodal as M
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.jpegcodec import encode_jpeg

    # PNG declaring 60000x60000 RGBA with a tiny IDAT
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 6, 0, 0, 0)
    idat = zlib.compress(b"\x00" * 64)
    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="decode cap"):
        M.decode_png(png)

    # zlib bomb: a small PNG whose stream inflates past the declared raster
    good = M.encode_png(np.zeros((4, 4, 3), np.uint8))
    bomb_raw = b"\x00" * (1 << 16)
    bomb = zlib.compress(bomb_raw)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflates past"):
        M.decode_png(png)
    M.decode_png(good)  # the honest payload still decodes

    # GIF frame descriptor declaring 65535x65535
    gif = (
        b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0x80, 0, 0) + bytes(6)  # 2-entry palette
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
        + b"\x02" + b"\x01\x00" + b"\x00" + b"\x3b"
    )
    with pytest.raises(ValueError, match="decode cap"):
        M.decode_image(gif)

    # JPEG SOF0 declaring 65500x65500: patch a real payload's dimensions
    jp = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    sof = jp.find(b"\xff\xc0")
    assert sof > 0
    struct.pack_into(">HH", jp, sof + 5, 65500, 65500)
    with pytest.raises(ValueError, match="decode cap"):
        M.decode_image(bytes(jp))


def test_progressive_decodes_and_arithmetic_classified(spark):
    """Progressive (SOF2) now DECODES for real through the distributed
    path; arithmetic-coded JPEG (SOF9/10/11) must quarantine with a
    CLASSIFIED reason so corpus triage can split 'needs an arithmetic
    decoder' from 'junk bytes' — and the reason column rides
    image_stats opt-in without changing the default schema."""
    import numpy as np

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import multimodal as M
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.jpegcodec import encode_jpeg
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.jpegprog import (
        encode_jpeg_progressive,
    )

    good = encode_jpeg(np.full((8, 8, 3), 100, np.uint8))
    prog = encode_jpeg_progressive(np.full((8, 8, 3), 100, np.uint8))
    arith = bytearray(good)
    sof = arith.find(b"\xff\xc0")
    arith[sof + 1] = 0xCA  # rewrite SOF0 -> SOF10 (progressive arithmetic)
    with pytest.raises(ValueError, match="unsupported_arithmetic"):
        M.decode_image(bytes(arith))
    rows = [
        (1, bytearray(good)),
        (2, bytearray(prog)),
        (3, bytearray(arith)),
        (4, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "img_id long, payload binary")
    got = {
        r["img_id"]: r
        for r in M.image_stats(df, "payload", "img_id", reason_col="reason").collect()
    }
    assert got[1]["width"] == 8 and got[1]["reason"] is None
    # progressive decodes — same stats as the baseline encoding
    assert got[2]["width"] == 8 and got[2]["reason"] is None
    assert got[2]["mean_pixel"] == got[1]["mean_pixel"]
    assert got[3]["width"] is None and "unsupported_arithmetic" in got[3]["reason"]
    assert got[4]["width"] is None and "unsupported_arithmetic" not in got[4]["reason"]
    # default call: schema unchanged (the oracle entries depend on it)
    assert M.image_stats(df, "payload", "img_id").columns == [
        "img_id", "width", "height", "channels", "mean_pixel",
    ]
