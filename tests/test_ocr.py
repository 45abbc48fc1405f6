"""Intelligent-OCR front-end: content detection, the pixels→text seam, and
the image-document loader (reference ingestion/loaders/image_loader.py +
core/ocr.py process_standalone_image / _detect_image_content)."""

import numpy as np
import pytest

from graphrag_mrkr_2_spark.functions.imagecodecs import encode_png
from graphrag_mrkr_2_spark.functions.ocr import (
    canny_edges,
    connected_component_stats,
    detect_image_content,
    detect_ocr_language,
    otsu_threshold,
    process_standalone_image,
    rgb_to_gray,
)


def _text_image(w=96, h=64):
    """Bright glyph-sized blocks on a dark page — text-like components under
    the reference's Otsu-foreground definition (bright side)."""
    img = np.full((h, w, 3), 20, dtype=np.uint8)
    for y in range(4, h - 8, 12):
        for x in range(4, w - 12, 16):
            img[y : y + 6, x : x + 10] = 230
    return img


def _photo_image(w=96, h=64):
    """Gentle low-contrast gradient: no structural edges, no text-like
    components, brightness_std just above 20 → primary 'image', no OCR."""
    col = np.linspace(100, 172, h).astype(np.uint8)
    return np.repeat(np.repeat(col[:, None], w, axis=1)[:, :, None], 3, axis=2)


ENGLISH = (
    "The quick brown fox and the lazy dog are in the yard for the day "
    "with all of the others that are here."
)


def _make_fake_ocr():
    """Deterministic engine stand-in, built as a closure so cloudpickle
    ships it BY VALUE to executors (a module-level function in a test file
    pickles by reference and fails to import worker-side)."""
    english = (
        "The quick brown fox and the lazy dog are in the yard for the day "
        "with all of the others that are here."
    )

    def fake_ocr(pixels, content_type, language):
        return english if pixels.mean() < 128 else ""

    return fake_ocr


_fake_ocr = _make_fake_ocr()


class TestPrimitives:
    def test_rgb_to_gray_bt601(self):
        img = np.zeros((2, 2, 3), dtype=np.uint8)
        img[0, 0] = (255, 0, 0)
        img[0, 1] = (0, 255, 0)
        img[1, 0] = (0, 0, 255)
        g = rgb_to_gray(img)
        assert g.dtype == np.uint8
        assert (g[0, 0], g[0, 1], g[1, 0]) == (76, 150, 29)

    def test_otsu_matches_bruteforce(self):
        rng = np.random.RandomState(7)
        for _ in range(5):
            a = np.concatenate(
                [
                    rng.normal(60, 12, 400).clip(0, 255),
                    rng.normal(190, 15, 600).clip(0, 255),
                ]
            ).astype(np.uint8).reshape(25, 40)
            t = otsu_threshold(a)
            # brute-force between-class variance maximization
            best_t, best_v = 0, -1.0
            flat = a.reshape(-1).astype(np.float64)
            for cand in range(256):
                lo, hi = flat[flat <= cand], flat[flat > cand]
                if len(lo) == 0 or len(hi) == 0:
                    continue
                v = len(lo) * len(hi) * (lo.mean() - hi.mean()) ** 2
                if v > best_v:
                    best_t, best_v = cand, v
            assert t == best_t
            assert 60 < t < 190

    def test_connected_components_vs_floodfill(self):
        rng = np.random.RandomState(11)
        for _ in range(8):
            b = (rng.rand(18, 24) > 0.6).astype(np.uint8)
            got = connected_component_stats(b)
            # naive 8-connected flood fill
            seen = np.zeros_like(b, dtype=bool)
            naive = []
            for y in range(b.shape[0]):
                for x in range(b.shape[1]):
                    if b[y, x] and not seen[y, x]:
                        stack, pix = [(y, x)], []
                        seen[y, x] = True
                        while stack:
                            cy, cx = stack.pop()
                            pix.append((cy, cx))
                            for dy in (-1, 0, 1):
                                for dx in (-1, 0, 1):
                                    ny, nx = cy + dy, cx + dx
                                    if (
                                        0 <= ny < b.shape[0]
                                        and 0 <= nx < b.shape[1]
                                        and b[ny, nx]
                                        and not seen[ny, nx]
                                    ):
                                        seen[ny, nx] = True
                                        stack.append((ny, nx))
                        ys = [p[0] for p in pix]
                        xs = [p[1] for p in pix]
                        naive.append(
                            (
                                min(xs),
                                min(ys),
                                max(xs) - min(xs) + 1,
                                max(ys) - min(ys) + 1,
                                len(pix),
                            )
                        )
            assert sorted(got) == sorted(naive)

    def test_canny_blank_and_step(self):
        flat = np.full((32, 32), 128, dtype=np.uint8)
        assert canny_edges(flat).sum() == 0
        step = np.zeros((32, 32), dtype=np.uint8)
        step[:, 16:] = 255
        edges = canny_edges(step)
        assert edges.sum() > 0
        # edges confined to the boundary columns
        assert edges[:, :14].sum() == 0 and edges[:, 18:].sum() == 0

    def test_canny_hysteresis_links_weak_to_strong(self):
        """A weak-gradient edge segment touching a strong segment survives;
        an isolated weak segment does not."""
        img = np.zeros((24, 48), dtype=np.float32)
        img[:, 24:] = 40.0  # weak step: |gx| sum = 8*40 = 320 > low*? scaled
        img[:12, 24:] = 200.0  # strong step in the top half
        edges = canny_edges(img.astype(np.uint8), low=200, high=900)
        top = edges[:12, 22:26].any()
        bottom = edges[12:, 22:26].any()
        assert top and bottom  # weak bottom half linked through the strong top
        iso = np.zeros((24, 48), dtype=np.uint8)
        iso[:, 24:] = 40
        assert canny_edges(iso, low=200, high=900).sum() == 0

    def test_hysteresis_component_labeling_equals_fixed_point(self):
        """The run-labeling hysteresis (keep weak components containing a
        strong pixel) is pinned exactly equal to the textbook
        grow-strong-through-weak fixed point on random threshold fields."""
        from graphrag_mrkr_2_spark.functions.ocr import _label_runs

        def fixed_point(strong, weak):
            edges = strong.copy()
            while True:
                q = np.pad(edges, 1, mode="constant")
                grown = np.zeros_like(edges)
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if dy or dx:
                            grown |= q[
                                1 + dy : q.shape[0] - 1 + dy,
                                1 + dx : q.shape[1] - 1 + dx,
                            ]
                nxt = edges | (weak & grown)
                if not (nxt ^ edges).any():
                    return nxt
                edges = nxt

        rng = np.random.default_rng(42)
        for _ in range(25):
            h, w = rng.integers(1, 40, 2)
            nms = rng.random((h, w)) * 200
            strong, weak = nms > 150, nms > 50
            runs, find = _label_runs(weak)
            kept = {
                find(label)
                for y, s, e, label in runs
                if strong[y, s:e].any()
            }
            edges = np.zeros_like(weak)
            for y, s, e, label in runs:
                if find(label) in kept:
                    edges[y, s:e] = True
            assert (edges == fixed_point(strong, weak)).all()


class TestDetectImageContent:
    def test_text_like_image_needs_ocr(self):
        out = detect_image_content(_text_image())
        assert out["needs_ocr"] is True
        assert out["primary_type"] in ("text", "scanned_page", "diagram")
        assert out["metrics"]["text_component_ratio"] > 0.05

    def test_photo_like_image_skips_ocr(self):
        out = detect_image_content(_photo_image())
        assert out["primary_type"] == "image"
        assert out["needs_ocr"] is False
        assert 20 < out["metrics"]["brightness_std"] <= 25

    def test_rgba_alpha_dropped_not_composited(self):
        """PIL's convert('RGB') (core/ocr.py:857-858) DROPS the alpha band;
        a fully transparent image must analyze identically to its opaque
        RGB bytes, not to a white-composited version."""
        from graphrag_mrkr_2_spark.functions.ocr import process_standalone_image

        rgb = _text_image()
        rgba = np.dstack([rgb, np.zeros(rgb.shape[:2], dtype=np.uint8)])
        a = process_standalone_image(encode_png(rgba), None)
        b = process_standalone_image(encode_png(rgb), None)
        assert (
            a["ocr_metadata"]["content_analysis"]
            == b["ocr_metadata"]["content_analysis"]
        )

    def test_failure_defaults_to_ocr(self):
        out = detect_image_content("not an array")
        assert out["needs_ocr"] is True
        assert out["primary_type"] == "unknown"


class TestLanguageDetection:
    def test_english_maps_to_eng(self):
        assert detect_ocr_language(ENGLISH) == "eng"

    def test_french_maps_to_fra(self):
        fr = (
            "Les enfants jouent dans les jardins pour tous ceux qui ne sont "
            "pas avec cette dame sur les bancs des parcs."
        )
        assert detect_ocr_language(fr) == "fra"

    def test_german_maps_to_deu(self):
        de = (
            "Der Hund und die Katze sind mit von einem Haus und das ist "
            "nicht auch der Garten von der Familie."
        )
        assert detect_ocr_language(de) == "deu"

    def test_short_text_falls_back(self, monkeypatch):
        from graphrag_mrkr_2_spark.functions import ocr

        assert detect_ocr_language("hi there") == "eng"
        monkeypatch.setattr(ocr, "OCR_DEFAULT_LANGUAGE", "fra")
        assert detect_ocr_language(None) == "fra"

    def test_undetectable_falls_back(self):
        assert detect_ocr_language("zzz qqq xxx www yyy kkk jjj mmm") == "eng"


class TestProcessStandaloneImage:
    def test_text_image_extracts_content(self):
        res = process_standalone_image(encode_png(_text_image()), _fake_ocr)
        assert res["content"] == ENGLISH
        meta = res["ocr_metadata"]
        assert meta["ocr_applied"] == 1
        assert meta["detected_language"] == "eng"
        assert len(meta["ocr_items"]) == 1
        item = meta["ocr_items"][0]
        assert item["source"] == "full_image"
        assert item["text_length"] == len(ENGLISH)

    def test_no_ocr_needed_skips_engine(self):
        calls = []

        def spy(pixels, content_type, language):
            calls.append(content_type)
            return "should never be used"

        res = process_standalone_image(encode_png(_photo_image()), spy)
        assert res["content"] is None
        assert res["ocr_metadata"]["ocr_applied"] == 0
        assert calls == []

    def test_empty_ocr_output_is_no_text(self):
        res = process_standalone_image(
            encode_png(np.full((64, 96, 3), 200, dtype=np.uint8)), _fake_ocr
        )
        # flat-bright image classifies text-ish (edge ratio 0) but the
        # engine returns '' → no-text→None contract
        assert res["content"] is None
        assert res["ocr_metadata"]["ocr_applied"] == 0

    def test_no_engine_quarantines_with_reason(self):
        res = process_standalone_image(encode_png(_text_image()), None)
        assert res["content"] is None
        assert "no OCR engine" in res["ocr_metadata"]["error"]

    def test_corrupt_payload_error_shape(self):
        res = process_standalone_image(b"not an image", _fake_ocr)
        assert res["content"] is None
        meta = res["ocr_metadata"]
        assert meta["ocr_applied"] == 0 and meta["error"]


@pytest.mark.spark
class TestExtractImageTextSpark:
    def _media(self, spark):
        rows = [
            ("img_text", bytearray(encode_png(_text_image()))),
            ("img_photo", bytearray(encode_png(_photo_image()))),
            ("img_bad", bytearray(b"corrupt bytes")),
        ]
        return spark.createDataFrame(rows, "media_id string, payload binary")

    def test_extract_image_text_contract(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import extract_image_text

        out = {
            r["media_id"]: r
            for r in extract_image_text(self._media(spark), ocr=_fake_ocr).collect()
        }
        assert out["img_text"]["content"] == ENGLISH
        assert out["img_text"]["ocr_applied"] == 1
        assert out["img_text"]["detected_language"] == "eng"
        assert out["img_text"]["content_needs_ocr"] == 1
        assert out["img_text"]["processing_method"] == "image_ocr"
        assert out["img_text"]["file_type"] == "standalone_image"
        assert out["img_photo"]["content"] is None
        assert out["img_photo"]["content_primary_type"] == "image"
        assert out["img_photo"]["content_needs_ocr"] == 0
        assert out["img_bad"]["content"] is None and out["img_bad"]["error"]

    def test_strict_without_engine_raises(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import extract_image_text

        df = extract_image_text(self._media(spark), ocr=None, strict=True)
        with pytest.raises(Exception, match="no OCR engine"):
            df.collect()

    def test_non_strict_without_engine_quarantines(self, spark):
        from graphrag_mrkr_2_spark.operators.multimodal import extract_image_text

        out = {
            r["media_id"]: r
            for r in extract_image_text(self._media(spark), ocr=None).collect()
        }
        assert out["img_text"]["content"] is None
        assert "no OCR engine" in out["img_text"]["error"]

    def test_ocr_disabled_yields_nothing(self, spark, monkeypatch):
        from graphrag_mrkr_2_spark.operators import multimodal
        from graphrag_mrkr_2_spark.operators.multimodal import extract_image_text

        monkeypatch.setattr(multimodal, "OCR_ENABLED", False)
        df = extract_image_text(self._media(spark), ocr=_fake_ocr)
        assert df.count() == 0
        assert [f.name for f in df.schema.fields[:2]] == ["media_id", "content"]
