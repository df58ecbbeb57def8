"""Bit-identity pins and peak-memory bounds for the numpy page kernels.

The digests below were captured from the whole-page float64 kernels
that preceded the strip-tiled ones. Any change to ``preprocess_page``,
``match_template_ccoeff_normed`` or ``native_page_perception`` must
reproduce them bit for bit: the preprocessed page, both score maps
(float32) and the emitted match boxes. The pages cover rendered forms,
noise, saturated colour, a yellow highlight, a size that is no multiple
of the strip height, a page shorter than one strip and a page barely
larger than the 37×37 templates.
"""

from __future__ import annotations

import hashlib
import json
import tracemalloc

import numpy as np
import pytest

from pdf_parser_spark.fixtures import native_sim
from pdf_parser_spark.sources import kernels as K
from pdf_parser_spark.sources.perception import default_templates

pytestmark = pytest.mark.skipif(K._USE_CV2, reason="pins cover the numpy path")

# name → (preprocessed page, ticked scores, empty scores, boxes, box count)
PINS = {
    "sim_0_1": (
        "16beb619e62c86bace034a330c84e08305ddc5b4a07e11a3f7cc30b2326e3239",
        "db2c00df3987343a90d9c4f66a0272355a4ddb38342d19d92e643b178e7c45f6",
        "c8bdfd7effd3546a104a489e90f7604b676b38ce404cc88dff9ecb198013debc",
        "63486e7c8a0a90456144780550b5eb7be1946a0b3856ed0ebffaeb8dbba605be",
        4,
    ),
    "sim_7_2": (
        "e7c2e9b2ae015ef470d233eda49e7fa7b4a712388d6f36b9d3152bdb9540dc00",
        "2daf886d9ac49af0a0aab7ee9a9672abd43a3246437f75aad3ac826cc146eeff",
        "0c89801b6f06a999bb4a4b2fb72d76ea8d5c8551c30d1d21dcb438ec43e0fe32",
        "63486e7c8a0a90456144780550b5eb7be1946a0b3856ed0ebffaeb8dbba605be",
        4,
    ),
    "noisy": (
        "dbaa57856107f482328a193044f73b5ce20e2b9ed04d004e59022e9a2c10e09e",
        "af30f0e51a3e4918821a2cc8fb5ab638af02ef8a70a4303bec3ac1be33b4a40b",
        "41d15034b819319f08cf897aba1ed237fcda3464a8e8af9032f742989d961912",
        "b96c41254651d69a1f6eb28fcc41bfac02bec544830e628d302226a482e5de16",
        2,
    ),
    "random_rgb": (
        "6d6aff067b77517513f5d5e616836d849cd87f93ca2bb1bac65dfcc5e9ea525a",
        "2b755c6a7d8022b3a9a87d393f8bbbae4e5dafe2f9ba5e2a4b6fd5d34e6d5838",
        "d9e12f4b038735e9926ebdf2c29d8e57ef8fead5c515ad7ec9e40a65bd6e6d6d",
        "4f53cda18c2baa0c0354bb5f9a3ecbe5ed12ab4d8e11ba873c2f11161202b945",
        0,
    ),
    "highlight": (
        "31a503d469170d1e6f177089e47eea7a8cab502fcd4f6595f6e6ce4989142c32",
        "4426b3e6bbdea892bee6b6b357b81e6f6c7c74b13a6aa8ace44fe248fd335dab",
        "f84af48b25e3fe53b85c981de28bc68eb0ff45382dbd908165a04c31b7b9a634",
        "1c614771a251d4e1e2ce95088009eb4860ca4edddd398eb52bfd4eeed8088a90",
        2,
    ),
    "613x777": (
        "28f5d106ba29f63c1ae43b93b560fb52fd65405852db3329ea5b26d7bc7c75fb",
        "4d58a629f35dd26e5c0866c5587c3856f6f746aecc1f38d07f0d35a5af24542c",
        "a75e2840ea7777d954860c52623825e99f4c0e7331f94649acaac3a36b6a82f9",
        "284c546d48fd67b064fa98b56a82f196265bb0dcbe1f0128809bedcfbd3c8e90",
        4,
    ),
    "short": (
        "00113fc88e7b0e17707d86bf03a367c7d6e172c047bb5d1de582b88ebae61fe8",
        "ad8740a3284a34ab194e73e7ff53b98aa55b59d9b31041cfac3eecc8d34dbbed",
        "437b165d222a2e42ac159c3da8a6e2c280de22d8ba4c75fb28f5c96ad508b92d",
        "4f53cda18c2baa0c0354bb5f9a3ecbe5ed12ab4d8e11ba873c2f11161202b945",
        0,
    ),
    "tiny": (
        "ff1babfe1714bb6948220717c697fe8cbf036da1bfee13be83c4bfa6fc731e7a",
        "1f2e3ffb77f21b7f70cb757ff6830acdd465200bd67fe342bda9596382e60a09",
        "b4a4d64538c040556d977b53f4bfc074c0540bd1260417a0325539d5bdd01055",
        "f0315081258c35562a3bc8f91f177152b93091419d29465006e6637234751275",
        2,
    ),
}


def _page(name: str) -> np.ndarray:
    rng = np.random.default_rng(20261019)
    if name == "sim_0_1":
        return native_sim.render_page(0, 1)
    if name == "sim_7_2":
        return native_sim.render_page(7, 2)
    if name == "noisy":
        page = native_sim.render_page(3, 1)[:420, :560].astype(np.int16)
        page = page + rng.normal(0, 12, page.shape).round().astype(np.int16)
        return np.clip(page, 0, 255).astype(np.uint8)
    if name == "random_rgb":
        rng.normal(0, 12, (420, 560, 3))  # keep the stream aligned with "noisy"
        return rng.integers(0, 256, (200, 260, 3), dtype=np.uint8)
    if name == "highlight":
        page = np.full((240, 320, 3), 250, np.uint8)
        page[60:120, 40:280] = (255, 232, 64)
        page[80:100, 60:200] = 20
        page[150:190, 30:67] = native_sim.render_page(1, 1)[330:370, 330:367]
        return page
    if name == "613x777":
        return native_sim.render_page(5, 1)[100:713, 200:977]
    if name == "short":
        return native_sim.render_page(2, 2)[320:360, 300:700]
    if name == "tiny":
        return native_sim.render_page(4, 1)[328:369, 328:371]
    raise KeyError(name)


def _digest(a: np.ndarray) -> str:
    meta = repr((a.dtype.str, a.shape)).encode()
    return hashlib.sha256(np.ascontiguousarray(a).tobytes() + meta).hexdigest()


@pytest.mark.parametrize("name", sorted(PINS))
def test_kernels_bit_identical_to_pins(name):
    ticked, empty = default_templates()
    page = _page(name)
    _tokens, matches, pre = K.native_page_perception(page, ticked, empty, ocr=lambda img: [])
    gray = pre[..., 0]
    got = (
        _digest(pre),
        _digest(K.match_template_ccoeff_normed(gray, ticked)),
        _digest(K.match_template_ccoeff_normed(gray, empty)),
        hashlib.sha256(json.dumps(matches, sort_keys=True).encode()).hexdigest(),
        len(matches),
    )
    assert got == PINS[name]


def _peak_mb(fn) -> float:
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        fn()
        return (tracemalloc.get_traced_memory()[1] - base) / 1e6
    finally:
        tracemalloc.stop()


def test_page_working_set_stays_strip_sized():
    """On a 900×1100 page the whole-page float64 kernels peaked at
    107.6–112.9 MB in ``native_page_perception``, and ``preprocess_page``
    alone reached the same peak. The strip-tiled kernels keep only the
    page FFT and a few uint8 page buffers page-wide."""
    ticked, empty = default_templates()
    page = native_sim.render_page(0, 1)
    assert page.shape[:2] == (900, 1100)
    whole = _peak_mb(lambda: K.native_page_perception(page, ticked, empty, ocr=lambda img: []))
    pre = _peak_mb(lambda: K.preprocess_page(page))
    assert whole <= 107.6 * 2 / 3, whole
    assert pre <= 20.0, pre
