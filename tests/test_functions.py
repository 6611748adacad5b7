"""Unit tests for normalize tiers, multimodal plumbing, time windows and
the composition operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bucketizers_spark.functions.normalize import (
    normalize_subject_col,
    normalize_substring_col,
)
from bucketizers_spark.functions.multimodal import (
    audio_features,
    image_features,
    sample_frames,
)
from bucketizers_spark.operators.multi import paged_within_parent
from bucketizers_spark.operators.time_window import (
    session_bucketizer,
    tumbling_bucketizer,
)
from bucketizers_spark.oracle import normalize_subject, normalize_substring


class TestNormalizeTiers:
    def test_pandas_udf_matches_oracle_on_unicode(self, spark):
        vals = ["  Foo-Bar, 'x' ", "ñ", "̃ȷ", "wgs84_pos#Point", "ABC"]
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        got = df.select(
            normalize_substring_col(F.col("v"), ascii_fast=False).alias("a"),
            normalize_subject_col(F.col("v"), ascii_fast=False).alias("b"),
        ).collect()
        for row, v in zip(got, vals):
            assert row.a == normalize_substring(v)
            assert row.b == normalize_subject(v)

    def test_native_matches_oracle_on_ascii(self, spark):
        vals = ["  Foo-Bar, 'x' ", "wgs84_pos#Point", "a/b/c", "USER_42"]
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        got = df.select(
            normalize_substring_col(F.col("v"), ascii_fast=True).alias("a"),
            normalize_subject_col(F.col("v"), ascii_fast=True).alias("b"),
        ).collect()
        for row, v in zip(got, vals):
            assert row.a == normalize_substring(v)
            assert row.b == normalize_subject(v)


class TestResizeImage:
    """resize_image: exact box-average resampling pinned against an
    independent per-pixel overlap replay, plus end-to-end composability
    (PPM/PNG in → P6 out → image_features)."""

    @staticmethod
    def _naive_box(px, out_w, out_h):
        import numpy as np

        h, w, c = px.shape
        out = np.zeros((out_h, out_w, c))
        for o in range(out_h):
            for p in range(out_w):
                lo_y, hi_y = o * h / out_h, (o + 1) * h / out_h
                lo_x, hi_x = p * w / out_w, (p + 1) * w / out_w
                acc, tot = np.zeros(c), 0.0
                for i in range(int(np.floor(lo_y)), min(int(np.ceil(hi_y)), h)):
                    for j in range(
                        int(np.floor(lo_x)), min(int(np.ceil(hi_x)), w)
                    ):
                        wy = min(hi_y, i + 1.0) - max(lo_y, float(i))
                        wx = min(hi_x, j + 1.0) - max(lo_x, float(j))
                        acc += px[i, j] * wy * wx
                        tot += wy * wx
                out[o, p] = acc / tot
        return out

    def test_resize_matches_naive_replay(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _resize_pixels

        rng = np.random.default_rng(7)
        for (h, w), (oh, ow) in [
            ((12, 8), (4, 6)),     # integer down / non-integer down
            ((7, 5), (3, 11)),     # non-integer down / upscale
            ((4, 4), (9, 2)),      # upscale / integer down
        ]:
            px = rng.random((h, w, 3))
            got = _resize_pixels(px, ow, oh)
            np.testing.assert_allclose(
                got, self._naive_box(px, ow, oh), atol=1e-12
            )

    def test_integer_factor_is_block_mean(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _resize_pixels

        rng = np.random.default_rng(3)
        px = rng.random((12, 8, 3))
        got = _resize_pixels(px, 4, 6)  # 2x2 blocks
        expected = px.reshape(6, 2, 4, 2, 3).mean(axis=(1, 3))
        np.testing.assert_allclose(got, expected, atol=1e-12)

    def test_spark_end_to_end_ppm_and_png(self, spark):
        import numpy as np

        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            _parse_ppm,
            _resize_pixels,
            image_features,
            resize_image,
        )

        # 12x8 gradient P6 + an 8x8 RGB PNG (reuse the test encoder)
        raster = bytes(
            (x * 7 + y * 13 + c * 29) % 256
            for y in range(8)
            for x in range(12)
            for c in range(3)
        )
        ppm = b"P6\n12 8\n255\n" + raster
        rgb = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3) % 251
        png = TestMultimodal._png(rgb, filters=[0, 1, 2, 3, 4, 0, 1, 2])
        df = spark.createDataFrame(
            [
                ("ppm", "image", ppm, "image/x-portable-pixmap", 12, 8, None),
                ("png", "image", png, "image/png", 8, 8, None),
            ],
            MEDIA_SCHEMA,
        )
        out = {r.media_id: r for r in resize_image(df, out_w=6, out_h=4).collect()}
        assert set(out) == {"ppm", "png"}
        for r in out.values():
            assert (r.width, r.height) == (6, 4)
            assert bytes(r.payload)[:2] == b"P6"
        # pin the ppm raster bytes against a direct numpy resample+quantize
        want = np.floor(
            np.clip(_resize_pixels(_parse_ppm(ppm), 6, 4), 0, 1) * 255.0 + 0.5
        ).astype(np.uint8)
        got = (
            (_parse_ppm(bytes(out["ppm"].payload)) * 255.0).round().astype(np.uint8)
        )
        np.testing.assert_array_equal(got, want)
        # composability: the resized frame feeds image_features non-fake
        feats = {
            r.media_id: r
            for r in image_features(
                resize_image(df, out_w=6, out_h=4), fake=False
            ).collect()
        }
        assert feats["ppm"].width == 6 and feats["ppm"].height == 4

    def test_fake_path_emits_valid_p6(self, spark):
        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            image_features,
            resize_image,
        )

        rows = [
            (f"m{i}", "image", bytes([i]) * 64, "image/fake", None, None, None)
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        resized = resize_image(df, out_w=5, out_h=3, fake=True)
        a = {r.media_id: bytes(r.payload) for r in resized.collect()}
        b = {r.media_id: bytes(r.payload) for r in resized.collect()}
        assert a == b  # deterministic fake
        # fake output is a REAL decodable P6 at the target dims
        feats = {
            r.media_id: r for r in image_features(resized, fake=False).collect()
        }
        assert all(
            (feats[m].width, feats[m].height) == (5, 3) for m in feats
        )


class TestMultimodal:
    @pytest.fixture()
    def media(self, spark):
        rows = [
            (f"m{i}", "image", bytes([i]) * 64, "image/fake", None, None, None)
            for i in range(10)
        ]
        from bucketizers_spark.functions.multimodal import MEDIA_SCHEMA

        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_image_features_deterministic(self, spark, media):
        a = {r.media_id: (r.width, r.phash) for r in image_features(media, fake=True).collect()}
        b = {r.media_id: (r.width, r.phash) for r in image_features(media, fake=True).collect()}
        assert a == b and len(a) == 10

    def test_audio_and_frames(self, spark, media):
        assert audio_features(media, fake=True).count() == 10
        frames = sample_frames(media, every_ms=1000, fake=True)
        assert frames.count() >= 10  # every video expands to >=1 frame
        assert frames.columns == ["media_id", "frame_idx", "frame_phash"]

    def test_real_codec_stub_raises(self, spark, media):
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            image_features(media, fake=False).collect()

    @staticmethod
    def _ppm_p6(w, h):
        """Deterministic gradient P6 with a header comment."""
        raster = bytes(
            (x * 7 + y * 13 + c * 29) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        return b"P6\n# test fixture\n%d %d\n255\n" % (w, h) + raster

    @staticmethod
    def _wav(freq_frames, rate=8000, nch=1):
        import io
        import math
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(nch)
            wv.setsampwidth(2)
            wv.setframerate(rate)
            frames = b"".join(
                int(
                    32000 * math.sin(2 * math.pi * 440 * i / rate)
                ).to_bytes(2, "little", signed=True)
                * nch
                for i in range(freq_frames)
            )
            wv.writeframes(frames)
        return buf.getvalue()

    def test_real_wav_24bit(self, spark):
        """24-bit PCM WAV: little-endian byte triples sign-extended;
        rms / zero-crossings pinned against a direct numpy replay."""
        import io
        import wave

        import numpy as np

        from bucketizers_spark.functions.multimodal import MEDIA_SCHEMA

        rng = np.random.default_rng(59)
        vals = rng.integers(-(1 << 23), 1 << 23, size=64, dtype=np.int64)
        frames = b"".join(
            int(v).to_bytes(3, "little", signed=True) for v in vals
        )
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(3)
            wv.setframerate(8000)
            wv.writeframes(frames)
        df = spark.createDataFrame(
            [("a24", "audio", buf.getvalue(), "audio/wav", None, None, None)],
            MEDIA_SCHEMA,
        )
        r = audio_features(df, fake=False).collect()[0]
        x = vals.astype(np.float64) / float(1 << 23)
        assert r.duration_ms == 8  # 64 frames at 8 kHz
        assert abs(r.rms - float(np.sqrt(np.mean(x * x)))) < 1e-12
        assert r.zero_crossings == int(
            np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1]))
        )

    def test_real_ppm_image_decode(self, spark):
        """The non-fake image path end-to-end on stdlib-parsable PPM
        (VERDICT r3 #7): mean luma and dimensions match a direct numpy
        computation; P3 ascii and P6 binary of the same raster agree."""
        import numpy as np

        w, h = 20, 12
        p6 = self._ppm_p6(w, h)
        # equivalent P3 (ascii) image
        raster = p6.split(b"255\n", 1)[1]
        p3 = (
            b"P3\n%d %d\n255\n" % (w, h)
            + " ".join(str(b) for b in raster).encode()
        )
        rows = [
            ("p6", "image", p6, "image/x-portable-pixmap", w, h, None),
            ("p3", "image", p3, "image/x-portable-pixmap", w, h, None),
        ]
        from bucketizers_spark.functions.multimodal import MEDIA_SCHEMA

        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {
            r.media_id: r for r in image_features(df, fake=False).collect()
        }
        arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3) / 255.0
        luma = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
        for mid in ("p6", "p3"):
            r = got[mid]
            assert (r.width, r.height, r.n_channels) == (w, h, 3)
            assert abs(r.mean_luma - float(luma.mean())) < 1e-9
        assert got["p6"].phash == got["p3"].phash
        assert len(got["p6"].phash) == 16

    @staticmethod
    def _png(arr, filters, palette=None):
        """Minimal PNG encoder for the test: 8-bit, non-interlaced,
        ``filters[y]`` chooses each scanline's filter type (0-4) so the
        decoder's whole unfilter matrix is exercised — the inverse of
        multimodal._parse_png's per-type reconstruction. With
        ``palette`` (an (n, 3) uint8 array), ``arr`` is an (h, w, 1)
        index plane and the file is written as color type 3 + PLTE."""
        import struct
        import zlib

        import numpy as np

        h, w, nch = arr.shape
        ctype = 3 if palette is not None else {1: 0, 2: 4, 3: 2, 4: 6}[nch]
        bpp = nch

        def chunk(typ, payload):
            return (
                struct.pack(">I", len(payload))
                + typ
                + payload
                + struct.pack(">I", zlib.crc32(typ + payload))
            )

        raw = bytearray()
        prev = np.zeros(w * nch, dtype=np.int32)
        for y in range(h):
            row = arr[y].reshape(-1).astype(np.int32)
            ft = filters[y % len(filters)]
            enc = row.copy()
            for i in range(len(row)):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    enc[i] = row[i] - a
                elif ft == 2:
                    enc[i] = row[i] - b
                elif ft == 3:
                    enc[i] = row[i] - (a + b) // 2
                elif ft == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    enc[i] = row[i] - pred
            raw.append(ft)
            raw += bytes((enc % 256).astype(np.uint8))
            prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        plte = (
            b"" if palette is None else chunk(b"PLTE", bytes(palette.reshape(-1)))
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + plte
            + chunk(b"tEXt", b"comment\x00ancillary chunk skipped")
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    def test_real_png_image_decode(self, spark):
        """The non-fake PNG path end-to-end (VERDICT r4 #5): stdlib-zlib
        decode of 8-bit RGB/RGBA/grayscale with ALL five scanline filter
        types; features match a direct numpy computation on the source
        raster; alpha is ignored for luma."""
        import numpy as np

        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            _parse_png,
        )

        rng = np.random.default_rng(7)
        w, h = 23, 17  # odd sizes catch stride bugs
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        rgba = np.dstack(
            [rgb, rng.integers(0, 256, (h, w), dtype=np.uint8)]
        )
        gray = rng.integers(0, 256, (h, w, 1), dtype=np.uint8)
        # every filter type appears on several rows
        png_rgb = self._png(rgb, filters=[0, 1, 2, 3, 4])
        png_rgba = self._png(rgba, filters=[4, 3, 2, 1, 0])
        png_gray = self._png(gray, filters=[2, 4])
        # decoder inverts the filters exactly
        assert np.array_equal(
            (_parse_png(png_rgb) * 255).round().astype(np.uint8), rgb
        )
        assert np.array_equal(
            (_parse_png(png_rgba) * 255).round().astype(np.uint8), rgba
        )
        df = spark.createDataFrame(
            [
                ("rgb", "image", png_rgb, "image/png", w, h, None),
                ("rgba", "image", png_rgba, "image/png", w, h, None),
                ("gray", "image", png_gray, "image/png", w, h, None),
            ],
            MEDIA_SCHEMA,
        )
        got = {
            r.media_id: r for r in image_features(df, fake=False).collect()
        }
        a = rgb / 255.0
        luma = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
        assert (got["rgb"].width, got["rgb"].height, got["rgb"].n_channels) == (w, h, 3)
        assert abs(got["rgb"].mean_luma - float(luma.mean())) < 1e-9
        # RGBA luma ignores alpha → same phash as RGB of the same raster
        assert got["rgba"].n_channels == 4
        assert got["rgba"].phash == got["rgb"].phash
        assert got["gray"].n_channels == 1
        assert abs(got["gray"].mean_luma - float(gray.mean() / 255.0)) < 1e-9

    def test_real_png_palette_decode(self, spark):
        """Color type 3: the index plane unfilters like grayscale, then
        maps through PLTE to RGB — decoded raster equals pal[idx]
        exactly, and features match an equivalent truecolor PNG of the
        same pixels. Malformed palettes fail loudly."""
        import numpy as np
        import pytest

        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            _parse_png,
        )

        rng = np.random.default_rng(11)
        w, h = 19, 13
        pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, (h, w, 1), dtype=np.uint8)
        png_pal = self._png(idx, filters=[0, 1, 2, 3, 4], palette=pal)
        rgb = pal[idx.reshape(h, w)]
        assert np.array_equal(
            (_parse_png(png_pal) * 255).round().astype(np.uint8), rgb
        )
        # same pixels as truecolor → identical features through Spark
        png_rgb = self._png(rgb, filters=[4, 2, 0])
        df = spark.createDataFrame(
            [
                ("pal", "image", png_pal, "image/png", w, h, None),
                ("tru", "image", png_rgb, "image/png", w, h, None),
            ],
            MEDIA_SCHEMA,
        )
        got = {
            r.media_id: r for r in image_features(df, fake=False).collect()
        }
        assert got["pal"].n_channels == 3
        assert got["pal"].phash == got["tru"].phash
        assert abs(got["pal"].mean_luma - got["tru"].mean_luma) < 1e-12
        # index beyond PLTE and missing PLTE both raise, not garbage
        bad_idx = np.full((4, 4, 1), 200, dtype=np.uint8)
        with pytest.raises(ValueError, match="palette index"):
            _parse_png(self._png(bad_idx, filters=[0], palette=pal))
        no_plte = self._png(idx, filters=[0], palette=pal).replace(
            b"PLTE", b"pLTe", 1
        )
        with pytest.raises(ValueError, match="PLTE"):
            _parse_png(no_plte)

    def test_real_wav_audio_decode(self, spark):
        """Non-fake audio path on stdlib PCM WAV: duration from the
        frame count, RMS of a 440 Hz sine ~ 1/sqrt(2), zero crossings ~
        2 * 440 * duration."""
        from bucketizers_spark.functions.multimodal import MEDIA_SCHEMA

        wav = self._wav(8000)  # 1 s at 8 kHz
        stereo = self._wav(4000, nch=2)  # 0.5 s stereo
        df = spark.createDataFrame(
            [
                ("a1", "audio", wav, "audio/wav", None, None, None),
                ("a2", "audio", stereo, "audio/wav", None, None, None),
            ],
            MEDIA_SCHEMA,
        )
        got = {
            r.media_id: r for r in audio_features(df, fake=False).collect()
        }
        assert got["a1"].duration_ms == 1000
        assert got["a2"].duration_ms == 500
        assert abs(got["a1"].rms - 32000 / 32768 / 2**0.5) < 0.01
        assert abs(got["a1"].zero_crossings - 880) <= 2
        assert abs(got["a2"].zero_crossings - 440) <= 2


class TestPng16:
    """16-bit PNG decode: the filter kernels are byte-defined with the
    pixel distance in bytes (PNG spec §9), so a 16-bit row reuses the
    8-bit unfilter with bpp doubled; samples then read big-endian over
    65535. Encoder here is the byte-level inverse."""

    @staticmethod
    def _png16(arr, filters):
        import struct
        import zlib

        import numpy as np

        h, w, nch = arr.shape
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
        bpp = nch * 2
        stride = w * nch * 2

        def chunk(typ, payload):
            return (
                struct.pack(">I", len(payload))
                + typ
                + payload
                + struct.pack(">I", zlib.crc32(typ + payload))
            )

        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            row = np.frombuffer(
                arr[y].astype(">u2").tobytes(), np.uint8
            ).astype(np.int32)
            ft = filters[y % len(filters)]
            enc = row.copy()
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    enc[i] = row[i] - a
                elif ft == 2:
                    enc[i] = row[i] - b
                elif ft == 3:
                    enc[i] = row[i] - (a + b) // 2
                elif ft == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    enc[i] = row[i] - pred
            raw.append(ft)
            raw += bytes((enc % 256).astype(np.uint8))
            prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    def test_16bit_roundtrip_all_filters(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_png

        rng = np.random.default_rng(11)
        for nch in (1, 3, 4):
            arr = rng.integers(0, 65536, size=(7, 5, nch), dtype=np.uint16)
            png = self._png16(arr, filters=[0, 1, 2, 3, 4, 2, 4])
            got = _parse_png(png)
            assert got.shape == (7, 5, nch)
            np.testing.assert_array_equal(
                np.round(got * 65535.0).astype(np.uint16), arr
            )

    def test_16bit_feeds_features_and_resize(self, spark):
        import numpy as np

        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            _parse_png,
            image_features,
            resize_image,
        )

        rng = np.random.default_rng(5)
        arr = rng.integers(0, 65536, size=(8, 6, 3), dtype=np.uint16)
        png = self._png16(arr, filters=[4, 3, 2, 1, 0])
        df = spark.createDataFrame(
            [("hdr", "image", png, "image/png", 6, 8, None)], MEDIA_SCHEMA
        )
        r = image_features(df, fake=False).collect()[0]
        px = _parse_png(png)
        luma = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        assert (r.width, r.height, r.n_channels) == (6, 8, 3)
        assert abs(r.mean_luma - float(luma.mean())) < 1e-9
        out = resize_image(df, out_w=3, out_h=4).collect()[0]
        assert (out.width, out.height) == (3, 4)
        assert bytes(out.payload)[:2] == b"P6"


class TestNetpbmFamily:
    """PGM (P2/P5) grayscale and PBM (P1/P4, 1 = black) bitmap decode:
    ascii == binary for the same raster, P4 row padding at odd widths,
    16-bit P5, and composability through features + resize."""

    def test_pgm_ascii_binary_agree(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_netpbm

        rng = np.random.default_rng(67)
        g = rng.integers(0, 256, size=(6, 9), dtype=np.uint8)
        p5 = b"P5\n9 6\n255\n" + g.tobytes()
        p2 = b"P2\n9 6\n255\n" + " ".join(
            str(v) for v in g.reshape(-1)
        ).encode()
        a, b = _parse_netpbm(p5), _parse_netpbm(p2)
        assert a.shape == (6, 9, 1)
        np.testing.assert_array_equal(a, b)
        np.testing.assert_array_equal(
            np.round(a[..., 0] * 255).astype(np.uint8), g
        )

    def test_pgm_16bit(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_netpbm

        rng = np.random.default_rng(71)
        g = rng.integers(0, 65536, size=(3, 4), dtype=np.uint16)
        p5 = b"P5\n4 3\n65535\n" + g.astype(">u2").tobytes()
        got = _parse_netpbm(p5)
        np.testing.assert_allclose(got[..., 0], g / 65535.0, atol=1e-12)

    def test_pbm_packed_and_ascii_inverted(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_netpbm

        rng = np.random.default_rng(73)
        bits = rng.integers(0, 2, size=(5, 11), dtype=np.uint8)  # odd width
        packed = np.packbits(bits, axis=1).tobytes()
        p4 = b"P4\n11 5\n" + packed
        p1 = b"P1\n11 5\n" + b"\n".join(
            b"".join(b"%d" % v for v in row) for row in bits
        )
        a, b = _parse_netpbm(p4), _parse_netpbm(p1)
        np.testing.assert_array_equal(a, b)
        # PBM: 1 means BLACK → 0.0
        np.testing.assert_array_equal(a[..., 0], 1.0 - bits)

    def test_gray_features_and_resize_end_to_end(self, spark):
        import numpy as np

        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            image_features,
            resize_image,
        )

        rng = np.random.default_rng(79)
        g = rng.integers(0, 256, size=(8, 10), dtype=np.uint8)
        p5 = b"P5\n10 8\n255\n" + g.tobytes()
        df = spark.createDataFrame(
            [("g1", "image", p5, "image/x-portable-graymap", 10, 8, None)],
            MEDIA_SCHEMA,
        )
        r = image_features(df, fake=False).collect()[0]
        assert (r.width, r.height, r.n_channels) == (10, 8, 1)
        assert abs(r.mean_luma - float((g / 255.0).mean())) < 1e-9
        out = resize_image(df, out_w=5, out_h=4).collect()[0]
        assert (out.width, out.height) == (5, 4)
        # gray input resized → valid RGB P6 with three equal channels
        feats = image_features(
            resize_image(df, out_w=5, out_h=4), fake=False
        ).collect()[0]
        assert feats.n_channels == 3


class TestPngSubByte:
    """Sub-byte PNG depths (1/2/4-bit grayscale and palette): filters
    run over the PACKED bytes with bpp=1, samples unpack MSB-first.
    Encoder here packs + byte-filters; odd widths exercise row padding."""

    @staticmethod
    def _png_subbyte(vals, depth, filters, palette=None):
        """vals: (h, w) int array of samples/indices < 2**depth."""
        import struct
        import zlib

        import numpy as np

        h, w = vals.shape
        ctype = 3 if palette is not None else 0
        stride = (w * depth + 7) // 8

        def chunk(typ, payload):
            return (
                struct.pack(">I", len(payload))
                + typ
                + payload
                + struct.pack(">I", zlib.crc32(typ + payload))
            )

        def pack_row(row):
            bits = []
            for v in row:
                bits.extend(
                    (int(v) >> k) & 1 for k in range(depth - 1, -1, -1)
                )
            bits += [0] * (stride * 8 - len(bits))
            return np.packbits(np.array(bits, dtype=np.uint8))

        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            row = pack_row(vals[y]).astype(np.int32)
            ft = filters[y % len(filters)]
            enc = row.copy()
            for i in range(stride):
                a = int(row[i - 1]) if i >= 1 else 0
                b = int(prev[i])
                c = int(prev[i - 1]) if i >= 1 else 0
                if ft == 1:
                    enc[i] = row[i] - a
                elif ft == 2:
                    enc[i] = row[i] - b
                elif ft == 3:
                    enc[i] = row[i] - (a + b) // 2
                elif ft == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    enc[i] = row[i] - pred
            raw.append(ft)
            raw += bytes((enc % 256).astype(np.uint8))
            prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        plte = (
            b"" if palette is None else chunk(b"PLTE", bytes(palette.reshape(-1)))
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + plte
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    def test_subbyte_gray_roundtrip(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_png

        rng = np.random.default_rng(23)
        for depth in (1, 2, 4):
            vals = rng.integers(0, 2**depth, size=(6, 9))  # odd width
            png = self._png_subbyte(vals, depth, filters=[0, 1, 2, 3, 4, 2])
            got = _parse_png(png)
            assert got.shape == (6, 9, 1)
            np.testing.assert_allclose(
                got[..., 0], vals / (2**depth - 1), atol=1e-12
            )

    def test_subbyte_palette_roundtrip(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_png

        rng = np.random.default_rng(29)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(5, 7))
        png = self._png_subbyte(idx, 4, filters=[4, 3, 2, 1, 0], palette=pal)
        got = _parse_png(png)
        np.testing.assert_array_equal(
            np.round(got * 255).astype(np.uint8), pal[idx]
        )

    def test_subbyte_rgb_rejected(self):
        import struct
        import zlib

        from bucketizers_spark.functions.multimodal import _parse_png

        # depth 4 + ctype 2 (RGB) is not a legal PNG combination
        def chunk(typ, payload):
            return (
                struct.pack(">I", len(payload))
                + typ
                + payload
                + struct.pack(">I", zlib.crc32(typ + payload))
            )

        bad = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 4, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError):
            _parse_png(bad)


class TestPngAdam7:
    """Adam7 interlace: seven independently-filtered sub-images on the
    standard lattices. Encoder splits → packs → byte-filters each pass;
    decode must equal the plain sample grid (and the non-interlaced
    decode of the same pixels), including tiny images with empty
    passes and odd dims exercising per-pass row padding."""

    _PASSES = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    @staticmethod
    def _pack_filter(sub, depth, nch, filters):
        import numpy as np

        ph, pw, _ = sub.shape
        stride = (pw * nch * depth + 7) // 8
        bpp = max(1, nch * depth // 8)
        packed = []
        for y in range(ph):
            if depth == 8:
                b = sub[y].astype(np.uint8).tobytes()
            elif depth == 16:
                b = sub[y].astype(">u2").tobytes()
            else:
                bits = []
                for v in sub[y].reshape(-1):
                    bits.extend(
                        (int(v) >> k) & 1 for k in range(depth - 1, -1, -1)
                    )
                bits += [0] * (stride * 8 - len(bits))
                b = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
            packed.append(
                np.frombuffer(b + b"\x00" * (stride - len(b)), np.uint8)
                .astype(np.int32)
            )
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y, row in enumerate(packed):
            ft = filters[y % len(filters)]
            enc = row.copy()
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                if ft == 1:
                    enc[i] = row[i] - a
                elif ft == 2:
                    enc[i] = row[i] - b
                elif ft == 3:
                    enc[i] = row[i] - (a + b) // 2
                elif ft == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                    enc[i] = row[i] - pred
            raw.append(ft)
            raw += bytes((enc % 256).astype(np.uint8))
            prev = row
        return raw

    @classmethod
    def _png_adam7(cls, arr, depth, filters, palette=None):
        import struct
        import zlib

        h, w, nch = arr.shape
        ctype = 3 if palette is not None else {1: 0, 2: 4, 3: 2, 4: 6}[nch]

        def chunk(typ, payload):
            return (
                struct.pack(">I", len(payload))
                + typ
                + payload
                + struct.pack(">I", zlib.crc32(typ + payload))
            )

        raw = bytearray()
        for x0, y0, xs, ys in cls._PASSES:
            sub = arr[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw += cls._pack_filter(sub, depth, nch, filters)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1)
        plte = (
            b"" if palette is None else chunk(b"PLTE", bytes(palette.reshape(-1)))
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + plte
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    def test_adam7_8bit_rgb_matches_plain(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_png

        rng = np.random.default_rng(41)
        arr = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
        png_i = self._png_adam7(arr, 8, filters=[0, 1, 2, 3, 4])
        got = _parse_png(png_i)
        np.testing.assert_array_equal(
            np.round(got * 255).astype(np.uint8), arr
        )
        # identical pixels to the non-interlaced encoding of the same arr
        png_p = TestMultimodal._png(arr, filters=[4, 3, 2, 1, 0])
        np.testing.assert_array_equal(got, _parse_png(png_p))

    def test_adam7_16bit_gray_and_4bit_palette(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_png

        rng = np.random.default_rng(43)
        g16 = rng.integers(0, 65536, size=(5, 9, 1), dtype=np.uint16)
        got = _parse_png(self._png_adam7(g16, 16, filters=[2, 4, 0, 1, 3]))
        np.testing.assert_array_equal(
            np.round(got * 65535).astype(np.uint16), g16
        )
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(7, 5, 1))
        got = _parse_png(
            self._png_adam7(idx, 4, filters=[1, 0, 4], palette=pal)
        )
        np.testing.assert_array_equal(
            np.round(got * 255).astype(np.uint8), pal[idx[..., 0]]
        )

    def test_adam7_tiny_images_with_empty_passes(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_png

        rng = np.random.default_rng(47)
        for h, w in [(1, 1), (3, 2), (2, 5), (8, 1)]:
            arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            got = _parse_png(self._png_adam7(arr, 8, filters=[0, 2]))
            np.testing.assert_array_equal(
                np.round(got * 255).astype(np.uint8), arr
            )


class TestAviFrames:
    """Real video frame sampling: uncompressed-DIB AVI parsed with
    stdlib struct; sampled frame hashes pinned against direct numpy on
    the source frames, bottom-up AND top-down row orders, compressed
    fourcc rejected to the honest seam."""

    @staticmethod
    def _avi(frames_rgb, usec, topdown=False, bits=24, comp=0):
        import struct

        h, w, _ = frames_rgb[0].shape
        stride = (w * 3 + 3) & ~3

        def chunk(fourcc, body):
            pad = b"\x00" if len(body) & 1 else b""
            return fourcc + struct.pack("<I", len(body)) + body + pad

        def lst(typ, body):
            return chunk(b"LIST", typ + body)

        avih = struct.pack(
            "<IIIIIIIIII", usec, 0, 0, 0, len(frames_rgb), 0, 1, 0, w, h
        ) + b"\x00" * 16
        strh = b"vids" + b"DIB " + b"\x00" * 48
        bh = -h if topdown else h
        strf = struct.pack("<IiiHHI", 40, w, bh, 1, bits, comp) + b"\x00" * 20
        movi = b""
        for f in frames_rgb:
            bgr = f[..., ::-1]
            rows = bgr if topdown else bgr[::-1]
            body = b"".join(
                rows[y].tobytes() + b"\x00" * (stride - w * 3)
                for y in range(h)
            )
            movi += chunk(b"00db", body)
        payload = lst(
            b"hdrl",
            chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
        ) + lst(b"movi", movi)
        return b"RIFF" + struct.pack("<I", len(payload) + 4) + b"AVI " + payload

    @staticmethod
    def _frames(n, w=9, h=6):
        import numpy as np

        rng = np.random.default_rng(19)
        return [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)
        ]

    def test_parse_avi_roundtrip_both_row_orders(self):
        import numpy as np

        from bucketizers_spark.functions.multimodal import _parse_avi

        frames = self._frames(3)
        for topdown in (False, True):
            usec, got = _parse_avi(self._avi(frames, 40_000, topdown=topdown))
            assert usec == 40_000 and len(got) == 3
            for g, f in zip(got, frames):
                np.testing.assert_array_equal(
                    np.round(g * 255).astype(np.uint8), f
                )

    def test_sample_frames_real_pinned(self, spark):
        import numpy as np

        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            _ahash,
            sample_frames,
        )

        frames = self._frames(5)
        avi = self._avi(frames, 40_000)  # 25 fps, 200 ms total
        df = spark.createDataFrame(
            [("v1", "video", avi, "video/x-msvideo", 9, 6, 200)],
            MEDIA_SCHEMA,
        )
        got = sorted(
            (r.frame_idx, r.frame_phash)
            for r in sample_frames(df, every_ms=80, fake=False).collect()
        )
        # 80 ms steps over 200 ms at 40 ms/frame → source frames 0, 2, 4
        want = []
        for idx in (0, 2, 4):
            rgb = frames[idx].astype(np.float64) / 255.0
            luma = (
                0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
            )
            want.append((idx, _ahash(luma)))
        assert got == sorted(want)

    def test_compressed_rejected_to_seam(self, spark):
        from bucketizers_spark.functions.multimodal import (
            MEDIA_SCHEMA,
            sample_frames,
        )

        avi = self._avi(self._frames(2), 40_000, comp=0x44495643)  # 'CVID'
        df = spark.createDataFrame(
            [("v1", "video", avi, "video/x-msvideo", 9, 6, 80)], MEDIA_SCHEMA
        )
        with pytest.raises(Exception, match="NotImplementedError|compression"):
            sample_frames(df, every_ms=40, fake=False).collect()


class TestTimeWindows:
    def test_tumbling_partitions_members_exactly_once(self, spark):
        df = spark.createDataFrame(
            [(i, f"2026-01-01 00:{i:02d}:00") for i in range(60)],
            "seq long, t string",
        ).withColumn("t", F.to_timestamp("t"))
        res = tumbling_bucketizer(df, "t", "10 minutes")
        assert res.assignments.count() == 60
        counts = {
            r.bucket_id: r.n
            for r in res.assignments.groupBy("bucket_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert all(v == 10 for v in counts.values()) and len(counts) == 6
        # consecutive windows linked
        rels = res.relations.collect()
        assert len(rels) == 5
        assert res.seals.count() == 6

    def test_session_gap_merge(self, spark):
        rows = [
            (1, "2026-01-01 00:00:00"),
            (1, "2026-01-01 00:10:00"),  # same session (gap 30m)
            (1, "2026-01-01 01:00:00"),  # new session
            (2, "2026-01-01 00:00:00"),
        ]
        df = spark.createDataFrame(rows, "user_id long, t string").withColumn(
            "t", F.to_timestamp("t")
        )
        out = session_bucketizer(df, "t", "30 minutes", key_cols=["user_id"])
        got = {
            (r.user_id, r.session_start): r.n_members for r in out.collect()
        }
        assert got == {
            (1, "2026-01-01 00:00:00"): 2,
            (1, "2026-01-01 01:00:00"): 1,
            (2, "2026-01-01 00:00:00"): 1,
        }


class TestComposition:
    def test_paged_within_parent(self, spark):
        rows = [(i, "A" if i % 2 == 0 else "B") for i in range(10)]
        df = spark.createDataFrame(rows, "seq long, parent string")
        res = paged_within_parent(df, "parent", page_size=2)
        got = {r.seq: r.bucket_id for r in res.assignments.collect()}
        assert got[0] == "A/0" and got[2] == "A/0" and got[4] == "A/1"
        assert got[1] == "B/0" and got[5] == "B/1"
        rels = {(r.from_bucket, r.to_bucket) for r in res.relations.collect()}
        assert ("A/0", "A/1") in rels and ("B/1", "B/2") in rels


class TestPipelineFactory:
    def test_build_dispatch_and_fallback_routing(self, spark):
        from bucketizers_spark.pipeline import build, route_with_fallback

        rows = [(i, f"m{i}", f"http://x/v{i % 5}" if i % 4 else None) for i in range(40)]
        df = spark.createDataFrame(rows, "seq long, member_id string, value string")
        res = route_with_fallback(
            df, {"strategy": "subject", "column": "value", "salt": "s"}
        )
        got = {r.member_id: r.bucket_id for r in res.assignments.collect()}
        assert got["m1"] == "v1-s"
        assert got["m0"].startswith("bucketless-")  # i % 4 == 0 → NULL value
        # multi: subject then per-parent pages
        res2 = build(
            df.where("value is not null"),
            {
                "strategy": "multi",
                "configs": [
                    {"strategy": "subject", "column": "value", "salt": "s"},
                    {"strategy": "basic", "page_size": 2},
                ],
            },
        )
        got2 = {r.member_id: r.bucket_id for r in res2.assignments.collect()}
        assert got2["m1"] == "v1-s/0"
        pages = {b.rsplit("/", 1)[1] for b in got2.values()}
        assert "1" in pages  # at least one parent rolled to page 1


class TestQuadPath:
    def test_parse_and_multihop_extract(self, spark):
        # mirrors core.test.ts:22-64 (path parsing + multi-hop traversal)
        from bucketizers_spark.functions.quads import (
            extract_property_path,
            parse_property_path,
        )

        assert parse_property_path("(<p1> <p2>)") == ["p1", "p2"]
        assert parse_property_path("<p1>") == ["p1"]
        quads = spark.createDataFrame(
            [
                ("m1", "m1", "p1", "mid"),
                ("m1", "mid", "p2", "leaf-a"),
                ("m1", "mid", "p2", "leaf-b"),  # multi-valued terminal
                ("m2", "m2", "p1", "other"),  # no p2 hop → no match
                ("m3", "m3", "px", "nope"),
            ],
            "member_id string, subject string, predicate string, object string",
        )
        got = extract_property_path(quads, ["p1", "p2"])
        rows = {(r.member_id, r.value) for r in got.collect()}
        assert rows == {("m1", "leaf-a"), ("m1", "leaf-b")}
        # empty path → the member term itself (BucketizerCore.ts:339-341)
        ids = {
            r.value
            for r in extract_property_path(quads, []).collect()
        }
        assert ids == {"m1", "m2", "m3"}


class TestGeospatialFallbackRouting:
    def test_non_wkt_routes_to_bucketless(self, spark):
        from bucketizers_spark.pipeline import build

        rows = [
            (0, "POINT (3.15 51.08)"),
            (1, "not-wkt-at-all"),
            (2, "POINT (4.77 50.78)"),
        ]
        df = spark.createDataFrame(rows, "seq long, value string")
        res = build(
            df, {"strategy": "geospatial", "column": "value", "zoom": 4}
        )
        got = {r.seq: r.bucket_id for r in res.assignments.collect()}
        assert got[0].startswith("4/") and got[2].startswith("4/")
        assert got[1] == "bucketless-0"


class TestCdcSegments:
    """Content-defined chunking must RE-ALIGN after an edit: one word
    inserted near the front of a document shifts every fixed-length
    segment, but only boundaries within ~a window of the edit move
    under CDC — the LBFS/rsync property the operator exists for."""

    def _hashes(self, spark, texts, kernel):
        """{i: [seg_h, ...]} from a (df, id_cols, text_col) hash kernel."""
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, text string"
        )
        out: dict = {}
        for r in kernel(df, ["i"], "text").collect():
            out.setdefault(r.i, []).append(r.seg_h)
        return out

    def test_realigns_after_insertion_where_fixed_does_not(self, spark):
        from bucketizers_spark.functions.ngrams import (
            cdc_segment_hashes_frame,
            segment_hashes_frame,
        )

        base = " ".join(f"w{(i * 37) % 101}x{i % 13}" for i in range(400))
        words = base.split(" ")
        edited = " ".join(words[:3] + ["INSERTED"] + words[3:])

        cdc = self._hashes(spark, [base, edited], cdc_segment_hashes_frame)
        common_cdc = len(set(cdc[0]) & set(cdc[1]))
        # nearly all segments survive the edit (only the chunk carrying
        # the insertion, and at most its window-perturbed neighbour, change)
        assert common_cdc >= len(cdc[0]) - 3 > 0

        fixed = self._hashes(
            spark, [base, edited], lambda *a: segment_hashes_frame(*a, 8)
        )
        common_fixed = len(set(fixed[0]) & set(fixed[1]))
        # every fixed segment after the insertion point is shifted
        assert common_fixed == 0

    def test_segments_lossless_and_deterministic(self, spark):
        """Boundary decisions must reconstruct the document: segment
        count equals boundary count, the concatenation property holds
        via an independent Python replay of the same rule."""
        import hashlib

        from bucketizers_spark.functions.ngrams import cdc_segment_hashes_frame

        texts = [
            " ".join(f"t{(i * 7) % 29}" for i in range(n))
            for n in (1, 3, 17, 100, 257)
        ]
        got = self._hashes(spark, texts, cdc_segment_hashes_frame)
        for i, text in enumerate(texts):
            ws = text.split(" ")
            bnd = [
                k + 1
                for k in range(len(ws))
                if k + 1 == len(ws)
                or hashlib.md5(
                    " ".join(ws[max(0, k - 3) : k + 1]).encode()
                ).hexdigest()[0]
                == "0"
            ]
            want = []
            prev = 0
            for b in bnd:
                want.append(
                    hashlib.md5(" ".join(ws[prev:b]).encode()).hexdigest()
                )
                prev = b
            assert got[i] == want
