"""Perception environment: mid-geometry perception ops behind the decoder.

The reference performs two perception operations *during* geometry, not
during the initial page decode:

- K5 crop re-OCR — re-run OCR on an answer-window or band crop of the
  preprocessed page (/root/reference/response_extractor.py:715-733,
  1462-1471). Re-OCR of a crop is NOT equivalent to filtering the
  pass-1 tokens (glyphs cut by the crop edge drop out), so parity
  requires a real recompute.
- K6 highlight recovery — HSV-mask + threshold + whitelist OCR of a
  probe box (response_extractor.py:822-869).

Round-1 ADVICE: these must live behind the decoder interface so the
engine never imports fixture code and the native path cannot silently
run fixture stand-ins. Each decoder supplies its own environment:

- :class:`SyntheticPerception` — the deterministic model the fixture
  generator and the oracle share: crop re-OCR keeps tokens fully inside
  the rect (modeling edge cut-off), highlight recovery answers from the
  page's highlight list when the padded probe box covers one.
- :class:`NativePerception` — the real kernels: crops the preprocessed
  page image and runs Tesseract (import-gated). In paged mode only
  token payloads cross the shuffle (never pixels), so the environment
  re-rasterizes its page lazily from ``media_ref`` on first use —
  re-decoding a page is paid only for the minority of pages that reach
  a crop-OCR or highlight fallback.

``media_loader`` / ``native_ocr`` are module-level injection points:
production binds an object-store fetch and real Tesseract; tests bind
deterministic fakes (the binding applies per executor process — call
the setters inside UDFs or rely on driver-side defaults in local mode).
"""

from __future__ import annotations

import os
from typing import Callable

import numpy as np

from pdf_parser_spark.sources import kernels as K

# ---------------------------------------------------------------------------
# Pure synthetic models (shared by the fixture generator and the
# transcription oracle — moved here from fixtures.generator per ADVICE)
# ---------------------------------------------------------------------------


def crop_token_model(tokens: list[dict], x0: int, y0: int, x1: int, y1: int) -> list[dict]:
    """Synthetic crop re-OCR: tokens fully inside the rect, coords
    shifted to crop space (models glyph cut-off at crop edges →
    re-OCR non-idempotence)."""
    out = []
    for t in tokens:
        if t["x"] >= x0 and t["x"] + t["w"] <= x1 and t["y"] >= y0 and t["y"] + t["h"] <= y1:
            out.append(dict(t, x=t["x"] - x0, y=t["y"] - y0))
    return out


def highlight_point_model(highlights: list[dict], box: dict) -> str:
    """Synthetic highlight recovery: pad the box like the reference
    (±15 x, ±12 y — response_extractor.py:832-838), return the first
    highlight whose anchor point falls inside; '' when none."""
    xs = box["x_start"] - 15
    ys = box["y_start"] - 12
    xe = box["x_end"] + 15
    ye = box["y_end"] + 12
    for hl in highlights:
        if xs <= hl["x"] <= xe and ys <= hl["y"] <= ye:
            return hl["value"]
    return ""


# ---------------------------------------------------------------------------
# Environment implementations
# ---------------------------------------------------------------------------


class SyntheticPerception:
    """Deterministic perception environment for the synthetic decoder."""

    def __init__(self, tokens: list[dict], highlights: list[dict] | None = None):
        self._tokens = tokens
        self._highlights = highlights or []

    def crop_tokens(self, x0: int, y0: int, x1: int, y1: int) -> list[dict]:
        return crop_token_model(self._tokens, x0, y0, x1, y1)

    def highlight_ocr(self, box: dict) -> str:
        return highlight_point_model(self._highlights, box)


def default_media_loader(media_ref: str) -> bytes:
    """Default media_ref resolution: a local filesystem path (or
    ``file://`` URI). Production replaces this with the object-store /
    Iceberg-blob fetch via :func:`set_media_loader`."""
    path = media_ref[len("file://") :] if media_ref.startswith("file://") else media_ref
    with open(path, "rb") as f:
        return f.read()


_media_loader: Callable[[str], bytes] = default_media_loader
_native_ocr: Callable[[np.ndarray], list[dict]] = K.tesseract_image_to_data
_native_yesno_ocr: Callable[[np.ndarray], str] = K.tesseract_yesno


def set_media_loader(fn: Callable[[str], bytes]) -> None:
    global _media_loader
    _media_loader = fn
    _media_bytes_cache.clear()  # a new loader must not serve the old one's bytes


def set_native_ocr(tokens_fn: Callable[[np.ndarray], list[dict]] | None = None,
                   yesno_fn: Callable[[np.ndarray], str] | None = None) -> None:
    """Bind the OCR backends for the native path (default: Tesseract,
    import-gated). Tests bind deterministic recognizers; the binding is
    per Python worker process."""
    global _native_ocr, _native_yesno_ocr
    if tokens_fn is not None:
        _native_ocr = tokens_fn
    if yesno_fn is not None:
        _native_yesno_ocr = yesno_fn


def native_ocr_tokens(img: np.ndarray) -> list[dict]:
    return _native_ocr(img)


def resolve_callable(spec: str) -> Callable:
    """``"package.module:attr"`` → callable. Used to bind loader/OCR
    implementations on executor workers from plain strings (Spark conf /
    job args are strings; module state set on the driver does not reach
    forked Python workers)."""
    mod_name, _, attr = spec.partition(":")
    import importlib

    obj = importlib.import_module(mod_name)
    for part in attr.split("."):
        obj = getattr(obj, part)
    return obj


# dotted-path specs recorded at configure time: driver-side module state
# does NOT reach forked Python workers, so the decoder UDF factories
# capture these strings at plan time and re-apply them inside each
# worker process (strings pickle; callables configured directly apply
# to the current process only).
_binding_specs: dict[str, str] = {}


def configure_native(media_loader: str | Callable | None = None,
                     ocr: str | Callable | None = None,
                     yesno_ocr: str | Callable | None = None,
                     ticked_template: str | None = None,
                     empty_template: str | None = None) -> None:
    """Native-perception configuration; string values are dotted
    ``module:attr`` paths (resolvable on any executor and shipped to
    workers automatically by the decode/assembly UDFs). Template paths
    are plain file paths (readable from every executor)."""
    for key, val in (("media_loader", media_loader), ("ocr", ocr), ("yesno_ocr", yesno_ocr)):
        if isinstance(val, str):
            _binding_specs[key] = val
    for key, val in (("ticked_template", ticked_template), ("empty_template", empty_template)):
        if val is not None:
            _binding_specs[key] = val
    if media_loader is not None:
        set_media_loader(resolve_callable(media_loader) if isinstance(media_loader, str) else media_loader)
    set_native_ocr(
        resolve_callable(ocr) if isinstance(ocr, str) else ocr,
        resolve_callable(yesno_ocr) if isinstance(yesno_ocr, str) else yesno_ocr,
    )


def binding_specs() -> dict[str, str]:
    """The current dotted-path bindings (picklable, for UDF closures)."""
    return dict(_binding_specs)


def apply_binding_specs(specs: dict[str, str]) -> None:
    """Re-apply captured bindings inside a worker process (idempotent)."""
    if specs:
        configure_native(
            specs.get("media_loader"), specs.get("ocr"), specs.get("yesno_ocr"),
            specs.get("ticked_template"), specs.get("empty_template"),
        )


def parse_media_ref(media_ref: str) -> tuple[str, int]:
    """Split an optional page fragment: ``path#page=N`` → (path, N-1).
    Multi-page PDFs are referenced one span per page via the fragment
    (the explode in sources/documents.py keeps one row per page, and
    the fragment tells the decoder WHICH page of the shared file).
    Fragments are 1-based; ``#page=0`` or negative raises (a 0-based
    producer bug must fail loudly, not silently read the wrong page)."""
    if "#page=" in media_ref:
        path, _, frag = media_ref.rpartition("#page=")
        try:
            n = int(frag)
        except ValueError:
            return media_ref, 0
        if n < 1:
            raise ValueError(f"media_ref page fragments are 1-based, got {media_ref!r}")
        return path, n - 1
    return media_ref, 0


# small per-worker memo of raw media BYTES (not rasterized pages): all
# page rows referencing one multi-page file fetch it once from the
# loader (object-store downloads dominate for remote loaders), while
# memory stays bounded at a few compressed files — never at decoded
# pixel data, which for a 500-page 300-DPI doc would be gigabytes.
# Rendering is per requested page (kernels.rasterize_pdf_page).
_media_bytes_cache: dict[str, bytes] = {}
_MEDIA_BYTES_CACHE_MAX = 4


def _load_media_cached(path: str) -> bytes:
    data = _media_bytes_cache.get(path)
    if data is None:
        data = _media_loader(path)
        if len(_media_bytes_cache) >= _MEDIA_BYTES_CACHE_MAX:
            _media_bytes_cache.pop(next(iter(_media_bytes_cache)))
        _media_bytes_cache[path] = data
    return data


def load_page_rgb(media_ref: str, page_index: int | None = None, dpi: int = 300) -> np.ndarray:
    """media_ref → HxWx3 uint8 page image. Formats: ``.npy`` arrays
    (sandbox-native, no external libs), PDF bytes via pypdfium2 (gated,
    page selected by the ``#page=N`` fragment; only that page renders),
    raster images via PIL (gated)."""
    path, frag_index = parse_media_ref(media_ref)
    if page_index is None:
        page_index = frag_index
    data = _load_media_cached(path)
    if path.endswith(".npy") or data[:6] == b"\x93NUMPY":
        import io

        arr = np.load(io.BytesIO(data))
        if arr.ndim == 2:
            arr = np.repeat(arr[..., None], 3, axis=-1)
        return arr.astype(np.uint8, copy=False)
    if data[:5] == b"%PDF-":
        return K.rasterize_pdf_page(data, page_index, dpi)
    try:
        from PIL import Image
    except ImportError as e:  # pragma: no cover - lib absent in sandbox
        raise NotImplementedError(
            f"decoding media_ref {media_ref!r} requires PIL (or supply .npy pages)"
        ) from e
    import io

    return np.array(Image.open(io.BytesIO(data)).convert("RGB"))


class NativePerception:
    """Real perception environment (K5/K6 kernels over the preprocessed
    page). Constructed either around an in-memory preprocessed page
    (fused mode — decode and geometry share the task) or around a
    ``media_ref`` that is re-rasterized lazily on first use (paged mode —
    pixels never cross the shuffle)."""

    def __init__(self, page_pre: np.ndarray | None = None,
                 media_ref: str | None = None, page_index: int | None = None):
        self._pre = page_pre
        self._media_ref = media_ref
        self._page_index = page_index

    def _page(self) -> np.ndarray:
        if self._pre is None:
            if self._media_ref is None:
                raise ValueError("NativePerception needs a page image or a media_ref")
            rgb = load_page_rgb(self._media_ref, self._page_index)
            self._pre = K.preprocess_page(rgb)
        return self._pre

    def crop_tokens(self, x0: int, y0: int, x1: int, y1: int) -> list[dict]:
        page = self._page()
        x0c, y0c = max(0, int(x0)), max(0, int(y0))
        x1c, y1c = min(page.shape[1], int(x1)), min(page.shape[0], int(y1))
        if x1c <= x0c or y1c <= y0c:
            return []
        return _native_ocr(page[y0c:y1c, x0c:x1c])

    def highlight_ocr(self, box: dict) -> str:
        thr = K.highlight_preprocess(self._page(), box)
        if thr.size == 0:
            return ""
        return K.normalize_yesno(_native_yesno_ocr(thr))


# Default checkbox templates for the native matcher: generated
# deterministically (37×37 box outline; ticked adds an X stroke) — the
# reference ships equivalent PNG crops (template_extractor.py); real
# deployments point ``template_paths`` at their own crops.
def default_templates() -> tuple[np.ndarray, np.ndarray]:
    t = np.full((37, 37), 255, dtype=np.uint8)
    t[4:-4, 4] = 0
    t[4:-4, -5] = 0
    t[4, 4:-4] = 0
    t[-5, 4:-4] = 0
    empty = t.copy()
    ticked = t.copy()
    idx = np.arange(8, 29)
    ticked[idx, idx] = 0
    ticked[idx, 36 - idx] = 0
    return ticked, empty


def load_templates(ticked_path: str | None = None,
                   empty_path: str | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Checkbox templates for the native matcher. With no arguments,
    paths configured via :func:`configure_native` win over the built-in
    defaults (this is how ``--ticked-template/--empty-template`` job
    args reach the decode UDFs on workers). Supplying exactly one path
    is an error, not a silent fallback."""
    if ticked_path is None and empty_path is None:
        ticked_path = _binding_specs.get("ticked_template")
        empty_path = _binding_specs.get("empty_template")
    if (ticked_path is None) != (empty_path is None):
        raise ValueError("supply BOTH ticked and empty template paths, or neither")
    if ticked_path is None:
        return default_templates()
    return K.load_template(ticked_path), K.load_template(empty_path)
