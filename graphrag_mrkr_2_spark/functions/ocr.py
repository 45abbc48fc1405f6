"""OCR front-end: pixel content analysis + the injectable pixels→text seam.

The reference extracts text from standalone images via "intelligent OCR"
(reference ingestion/loaders/image_loader.py:35-80 → core/ocr.py
process_standalone_image, core/ocr.py:841-916): decode to RGB, analyze the
pixel content to decide whether the image *contains OCR-able text*
(core/ocr.py:332-450 _detect_image_content — Canny edge ratio, Otsu
binarization, text-like connected components), and only then run the OCR
engine (tesseract).  The engine itself is an external binary and therefore
an injectable seam here (same category as the LLM seam); everything in
front of it — grayscale, edge ratio, Otsu, connected-component statistics,
the content-type decision table, and the post-OCR language detection — is
real pixel math, reimplemented on NumPy below with the reference's exact
thresholds.

Engine seam contract: ``ocr(pixels, content_type, language) -> str | None``
where ``pixels`` is an (h, w, 3) uint8 RGB array.  Content-aware
enhancement/config (core/ocr.py:491-531 — psm 4 for scanned pages, char
whitelist for diagrams) is engine-side concern, hence the ``content_type``
argument.
"""

from __future__ import annotations

import re
from typing import Callable, Optional

import numpy as np

# Tesseract language-code mapping + supported set (core/ocr.py:124-139).
_TESSERACT_LANG = {"en": "eng", "fr": "fra", "de": "deu", "es": "spa", "it": "ita"}
_SUPPORTED_LANGUAGES = frozenset(_TESSERACT_LANG.values())

OcrEngine = Callable[[np.ndarray, str, str], Optional[str]]


# ---------------------------------------------------------------------------
# pixel analysis primitives (NumPy stand-ins for the cv2 calls)
# ---------------------------------------------------------------------------


def rgb_to_gray(img: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 luma, the cv2.COLOR_RGB2GRAY weighting."""
    if img.ndim == 2:
        return img.astype(np.uint8, copy=False)
    f = img[..., :3].astype(np.float32)
    gray = f[..., 0] * 0.299 + f[..., 1] * 0.587 + f[..., 2] * 0.114
    return np.clip(np.round(gray), 0, 255).astype(np.uint8)


def otsu_threshold(gray: np.ndarray) -> int:
    """Classic Otsu threshold over the 256-bin histogram (what
    cv2.THRESH_OTSU computes): maximize between-class variance."""
    hist = np.bincount(gray.reshape(-1), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 0
    omega = np.cumsum(hist)  # class-0 mass
    mu = np.cumsum(hist * np.arange(256))  # class-0 first moment
    mu_t = mu[-1]
    valid = (omega > 0) & (omega < total)
    sigma_b = np.zeros(256)
    w0, w1 = omega[valid], total - omega[valid]
    sigma_b[valid] = (mu_t * omega[valid] - mu[valid] * total) ** 2 / (
        w0 * w1 * total * total
    )
    return int(np.argmax(sigma_b))


def _sobel(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """3x3 Sobel gradients on a replicate-padded float image."""
    f = np.pad(gray.astype(np.float32), 1, mode="edge")
    # horizontal derivative (gx): [-1 0 1; -2 0 2; -1 0 1]
    gx = (
        (f[:-2, 2:] - f[:-2, :-2])
        + 2.0 * (f[1:-1, 2:] - f[1:-1, :-2])
        + (f[2:, 2:] - f[2:, :-2])
    )
    gy = (
        (f[2:, :-2] - f[:-2, :-2])
        + 2.0 * (f[2:, 1:-1] - f[:-2, 1:-1])
        + (f[2:, 2:] - f[:-2, 2:])
    )
    return gx, gy


def canny_edges(
    gray: np.ndarray, low: float = 50.0, high: float = 150.0
) -> np.ndarray:
    """Canny-style edge map (bool): Sobel L1 magnitude, 4-direction
    non-maximum suppression, double-threshold hysteresis.

    NumPy analog of cv2.Canny(gray, 50, 150) (core/ocr.py:354) — same
    pipeline shape and thresholds; consumers use the edge *pixel ratio*
    against coarse cutoffs (0.03/0.05/0.1), not the exact edge map.
    """
    gx, gy = _sobel(gray)
    mag = np.abs(gx) + np.abs(gy)  # cv2 default L2gradient=False

    # quantize gradient direction to {0°, 45°, 90°, 135°}
    angle = np.rad2deg(np.arctan2(gy, gx)) % 180.0
    d0 = (angle < 22.5) | (angle >= 157.5)
    d45 = (angle >= 22.5) & (angle < 67.5)
    d90 = (angle >= 67.5) & (angle < 112.5)
    d135 = ~(d0 | d45 | d90)

    p = np.pad(mag, 1, mode="constant")

    def nb(dy: int, dx: int) -> np.ndarray:
        return p[1 + dy : p.shape[0] - 1 + dy, 1 + dx : p.shape[1] - 1 + dx]

    keep = (
        (d0 & (mag >= nb(0, 1)) & (mag >= nb(0, -1)))
        | (d45 & (mag >= nb(1, 1)) & (mag >= nb(-1, -1)))
        | (d90 & (mag >= nb(1, 0)) & (mag >= nb(-1, 0)))
        | (d135 & (mag >= nb(1, -1)) & (mag >= nb(-1, 1)))
    )
    nms = np.where(keep, mag, 0.0)

    strong = nms > high
    weak = nms > low
    # hysteresis: keep every weak 8-connected component that contains a
    # strong pixel — identical to the textbook grow-strong-through-weak
    # fixed point (strong ⊆ weak since high > low), but one run-based
    # labeling pass instead of O(chain-length) full-image dilations
    runs, find = _label_runs(weak)
    kept: set[int] = set()
    for y, s, e, label in runs:
        if strong[y, s:e].any():
            kept.add(find(label))
    edges = np.zeros_like(weak)
    for y, s, e, label in runs:
        if find(label) in kept:
            edges[y, s:e] = True
    return edges


def _label_runs(fg: np.ndarray):
    """Run-based two-pass 8-connected labeling shared by
    connected_component_stats and the Canny hysteresis: per-row foreground
    runs found vectorized, unions only between vertically adjacent runs —
    O(runs), not O(pixels), in Python. Returns (runs, find) where runs is
    [(row, start, end, label)] and find resolves a label to its root
    (valid once the scan has completed, i.e. on return)."""
    h = fg.shape[0]
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    runs: list[tuple[int, int, int, int]] = []  # (row, start, end, label)
    prev: list[tuple[int, int, int]] = []  # (start, end, label) of row above
    for y in range(h):
        row = fg[y]
        if not row.any():
            prev = []
            continue
        d = np.flatnonzero(np.diff(np.concatenate(([0], row.astype(np.int8), [0]))))
        starts, ends = d[0::2], d[1::2]
        cur: list[tuple[int, int, int]] = []
        pi = 0
        for s, e in zip(starts.tolist(), ends.tolist()):
            label = -1
            # 8-connectivity: runs touch when col ranges overlap with ±1 slack
            while pi < len(prev) and prev[pi][1] < s:  # prev ends left of s-1
                pi += 1
            pj = pi
            while pj < len(prev) and prev[pj][0] <= e:  # prev starts ≤ e (diag)
                if label < 0:
                    label = prev[pj][2]
                else:
                    union(label, prev[pj][2])
                pj += 1
            if label < 0:
                label = len(parent)
                parent.append(label)
            cur.append((s, e, label))
            runs.append((y, s, e, label))
        prev = cur

    return runs, find


def connected_component_stats(binary: np.ndarray) -> list[tuple[int, int, int, int, int]]:
    """8-connected components of the foreground (nonzero) pixels; returns
    cv2.connectedComponentsWithStats-shaped [(x, y, w, h, area), ...] for
    the non-background labels, in first-appearance (row-run scan) order.
    """
    runs, find = _label_runs(binary != 0)
    # aggregate per root, in first-appearance order
    order: dict[int, int] = {}
    stats: list[list[int]] = []  # [minx, miny, maxx, maxy, area]
    for y, s, e, label in runs:
        r = find(label)
        k = order.get(r)
        if k is None:
            order[r] = k = len(stats)
            stats.append([s, y, e - 1, y, e - s])
        else:
            st = stats[k]
            st[0] = min(st[0], s)
            st[2] = max(st[2], e - 1)
            st[3] = y
            st[4] += e - s
    return [
        (minx, miny, maxx - minx + 1, maxy - miny + 1, area)
        for minx, miny, maxx, maxy, area in stats
    ]


# ---------------------------------------------------------------------------
# the reference's content-type decision table
# ---------------------------------------------------------------------------


def detect_image_content(img: np.ndarray) -> dict:
    """Decide whether an image contains OCR-able content.

    Exact port of the reference decision table (core/ocr.py:332-450):
    same thresholds, same content-type candidates, same confidence
    formulas, same needs_ocr logic, same error fallback (needs_ocr=True).
    """
    try:
        gray = rgb_to_gray(img)
        height, width = gray.shape
        total_pixels = height * width

        edges = canny_edges(gray, 50.0, 150.0)
        edge_pixel_ratio = float(edges.sum()) / total_pixels

        mean_brightness = float(gray.mean())
        brightness_std = float(gray.std())

        thresh = otsu_threshold(gray)
        binary = gray > thresh  # cv2 THRESH_BINARY: fg = above threshold

        comp_stats = connected_component_stats(binary)
        text_like_components = 0
        for _x, _y, cw, ch, area in comp_stats:
            aspect_ratio = cw / ch if ch > 0 else 0
            if 0.1 <= aspect_ratio <= 10 and 50 <= area <= total_pixels * 0.1:
                text_like_components += 1
        text_component_ratio = text_like_components / max(len(comp_stats), 1)

        content_types: list[str] = []
        confidence_scores: dict[str, float] = {}
        if text_component_ratio > 0.05 or edge_pixel_ratio < 0.05:
            content_types.append("text")
            confidence_scores["text"] = min(text_component_ratio * 3, 1.0)
        if edge_pixel_ratio > 0.1 and brightness_std > 30:
            content_types.append("diagram")
            confidence_scores["diagram"] = min(edge_pixel_ratio * 2, 1.0)
        if brightness_std > 20 and text_component_ratio > 0.001:
            content_types.append("scanned_page")
            confidence_scores["scanned_page"] = min(
                (brightness_std / 80) * (text_component_ratio * 50), 1.0
            )
        if text_component_ratio < 0.02 and brightness_std > 20:
            content_types.append("image")
            confidence_scores["image"] = 1.0 - text_component_ratio
        if not content_types:
            content_types.append("mixed")
            confidence_scores["mixed"] = 0.5

        primary_type = max(content_types, key=lambda t: confidence_scores.get(t, 0))
        needs_ocr = primary_type in ["text", "diagram", "scanned_page"] or (
            primary_type == "image"
            and (
                brightness_std > 25
                or text_component_ratio > 0.001
                or edge_pixel_ratio > 0.03
            )
        )

        return {
            "primary_type": primary_type,
            "content_types": content_types,
            "confidence_scores": confidence_scores,
            "needs_ocr": needs_ocr,
            "metrics": {
                "edge_pixel_ratio": edge_pixel_ratio,
                "text_component_ratio": text_component_ratio,
                "mean_brightness": mean_brightness,
                "brightness_std": brightness_std,
                "total_components": len(comp_stats),
            },
        }
    except Exception as e:  # reference defaults to OCR for safety
        return {
            "primary_type": "unknown",
            "content_types": ["unknown"],
            "confidence_scores": {"unknown": 0.5},
            "needs_ocr": True,
            "metrics": {},
            "error": str(e),
        }


# ---------------------------------------------------------------------------
# post-OCR language detection (core/ocr.py:103-160)
# ---------------------------------------------------------------------------


# Tesseract language of short or unrecognized text (core/ocr.py's default)
OCR_DEFAULT_LANGUAGE = "eng"


def detect_ocr_language(text: str | None) -> str:
    """Map extracted text to a Tesseract language code.

    The reference runs langdetect and maps {en,fr,de,es,it}→tesseract codes,
    falling back to the default for short text (<20 chars) or unsupported
    languages (core/ocr.py:103-143).  langdetect is an external model, so
    the detector here is the repo's stopword-profile heuristic (the same
    profiles the distributed with_lang_id operator uses) — an
    implementation stand-in with the identical fallback contract.
    """
    from graphrag_mrkr_2_spark.operators.textstats import (
        _LANG_PRIORITY,
        LANG_PROFILES,
    )

    if not text or len(text.strip()) < 20:
        return OCR_DEFAULT_LANGUAGE
    low = text.lower()
    scores = {
        lang: len(re.findall(r"\b(?:" + "|".join(ws) + r")\b", low))
        for lang, ws in LANG_PROFILES.items()
    }
    for lang in _LANG_PRIORITY:
        if all(scores[lang] > scores[o] for o in _LANG_PRIORITY if o != lang):
            code = _TESSERACT_LANG.get(lang, OCR_DEFAULT_LANGUAGE)
            return code if code in _SUPPORTED_LANGUAGES else OCR_DEFAULT_LANGUAGE
    return OCR_DEFAULT_LANGUAGE


# ---------------------------------------------------------------------------
# the standalone-image entry point (core/ocr.py:841-916)
# ---------------------------------------------------------------------------


def process_standalone_image(
    payload: bytes,
    ocr: OcrEngine | None,
) -> dict:
    """Decode an image payload and extract text with smart OCR.

    Mirrors core/ocr.py:841-916: decode→RGB, analyze content, OCR only if
    needs_ocr, attach detected language + ocr_items metadata; any failure
    returns the error-shaped dict (content None, ocr_applied 0).  ``ocr``
    is the injected engine; ``None`` means no engine available — the image
    is analyzed but cannot yield text (callers decide strict/quarantine).
    """
    try:
        from graphrag_mrkr_2_spark.functions.imagecodecs import decode_image

        img = decode_image(payload)
        if img.ndim == 2:  # grayscale → RGB, reference converts to RGB
            img = np.repeat(img[:, :, None], 3, axis=2)
        elif img.shape[2] == 4:
            # RGBA → RGB by DROPPING the alpha band — PIL's convert("RGB")
            # (core/ocr.py:857-858) does not composite, so a transparent
            # background keeps its underlying RGB bytes; compositing over
            # white here would shift brightness/edge statistics and could
            # flip the needs_ocr decision vs the reference
            img = np.ascontiguousarray(img[:, :, :3])

        content_analysis = detect_image_content(img)
        ocr_metadata = {
            "file_type": "standalone_image",
            "content_analysis": content_analysis,
            "ocr_applied": 0,
            "ocr_items": [],
            "detected_language": "eng",
        }
        if not content_analysis["needs_ocr"]:
            return {"content": None, "ocr_metadata": ocr_metadata}
        if ocr is None:
            ocr_metadata["error"] = "no OCR engine injected"
            return {"content": None, "ocr_metadata": ocr_metadata}

        ocr_text = ocr(img, content_analysis["primary_type"], "eng")
        if ocr_text and ocr_text.strip():
            detected_language = detect_ocr_language(ocr_text)
            ocr_metadata["detected_language"] = detected_language
            ocr_metadata["ocr_applied"] = 1
            ocr_metadata["ocr_items"].append(
                {
                    "type": content_analysis["primary_type"],
                    "source": "full_image",
                    "confidence": content_analysis["confidence_scores"].get(
                        content_analysis["primary_type"], 0.5
                    ),
                    "text_length": len(ocr_text),
                    "language": detected_language,
                }
            )
            return {"content": ocr_text, "ocr_metadata": ocr_metadata}
        return {"content": None, "ocr_metadata": ocr_metadata}
    except Exception as e:
        return {
            "content": None,
            "ocr_metadata": {
                "error": str(e),
                "file_type": "standalone_image",
                "ocr_applied": 0,
            },
        }
