"""Perception layer: page decode → (OCR tokens, checkbox matches).

This is the engine's vectorized-UDF surface (SURVEY.md §2.9 K1-K4):
``mapInPandas`` over page rows, each Arrow batch decoding many pages
and emitting one output row per page carrying the token and match
arrays. Two interchangeable decoders:

- ``synthetic`` (default in this sandbox): regenerates the
  deterministic perception rows from (doc_id, page_no) alone via the
  seeded fixture generator — the OCR/template-match stand-in
  (SURVEY.md §5.2.3: the reference's geometry stack consumes only the
  OCR dict + match list, so injecting these exercises everything
  downstream deterministically).
- ``native``: the real kernel chain — rasterize @300 DPI (reference:
  /root/reference/extractor.py:960-976), preprocess SHARPEN → contrast
  1.15 → CLAHE(2.0, 8) → unsharp(1.2, 1.3) (extractor.py:108-137),
  TM_CCOEFF_NORMED template match ≥0.6 (extractor.py:139-153), OCR
  PSM 6 (extractor.py:987-989). The image kernels are real numpy code
  in ``sources.kernels`` (unit-tested everywhere); only the external
  rasterize/OCR binaries are import-gated (pypdfium2 / pytesseract),
  with worker-side bindings via ``perception.configure_native``. Both
  pipeline modes accept both decoders.

Scale notes: the decode stage is the dominant cost at 10^12 docs. It
runs on page-granular rows after a round-robin repartition, so one
500-page doc spreads across up to 500 tasks (skew by granularity,
R13). Output rows carry tokens/matches arrays — orders of magnitude
smaller than page images — so the single downstream shuffle (group by
doc_id for geometry) moves only token data, never pixels.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Perception transport: the (tokens, matches) payload crosses the one
# shuffle of the pipeline as an opaque pickled binary column. Nested
# array<struct> transport through Arrow→pandas materializes per-element
# Python dicts on both sides of every boundary — measured ~3-5× the
# cost of the geometry itself — while a binary blob is a straight
# memcpy. Only the per-doc extraction kernel unpickles a payload.
PERCEPTION_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_no", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def _synthetic_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    import pickle

    from pdf_parser_spark.fixtures.generator import page_perception

    payloads = []
    for doc_id, page_no in zip(pdf["doc_id"], pdf["page_no"]):
        toks, matches, highlights = page_perception(str(doc_id), int(page_no))
        payloads.append(pickle.dumps((toks, matches, highlights), protocol=5))
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "page_no": pdf["page_no"], "payload": payloads}
    )


def _native_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """K1-K4 native decode: media_ref → page image → preprocess →
    template match → OCR, all via the real numpy kernels in
    ``sources.kernels`` (reference chain: /root/reference/extractor.py:
    956-989, 108-137, 139-153). The OCR call itself is import-gated
    (Tesseract) and worker-bindable via ``perception.configure_native``.

    The payload carries the media_ref alongside (tokens, matches) so the
    downstream Q/A layer can rebuild a :class:`NativePerception` for
    crop re-OCR / highlight recovery after the doc_id shuffle —
    re-rasterizing on demand instead of shuffling pixels.
    """
    import pickle

    from pdf_parser_spark import config as C
    from pdf_parser_spark.sources import kernels as K
    from pdf_parser_spark.sources import perception as P

    ticked, empty = P.load_templates()
    payloads = []
    for media_ref in pdf["media_ref"]:
        rgb = P.load_page_rgb(str(media_ref))
        tokens, matches, _pre = K.native_page_perception(
            rgb, ticked, empty, C.TEMPLATE_THRESHOLD, ocr=P.native_ocr_tokens
        )
        payloads.append(pickle.dumps((tokens, matches, [], str(media_ref)), protocol=5))
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "page_no": pdf["page_no"], "payload": payloads}
    )


_DECODERS = {"synthetic": _synthetic_decode_batch, "native": _native_decode_batch}


def perceive(pages: DataFrame, decoder: str = "synthetic", parallelism: int | None = None) -> DataFrame:
    """media_pages → perception rows (one per page) via mapInPandas.

    ``parallelism``: round-robin repartition width before the heavy UDF
    (skew by granularity). Default: leave partitioning as-is.
    """
    decode = _DECODERS[decoder]
    from pdf_parser_spark.sources import perception as P

    specs = P.binding_specs()  # captured at plan time, re-applied per worker

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P.apply_binding_specs(specs)
        for pdf in batches:
            if len(pdf):
                # bounded work-budget: decode in chunks so a batch of
                # many pages never materializes all decoded output at
                # once (R12, SURVEY.md §4)
                for start in range(0, len(pdf), 256):
                    yield decode(pdf.iloc[start : start + 256])

    if parallelism is None:
        # default: 2 waves per core — page-granular rows spread a skewed
        # multi-hundred-page doc across many tasks (R13, SURVEY.md §4)
        parallelism = pages.sparkSession.sparkContext.defaultParallelism * 2
    pages = pages.repartition(parallelism)
    return pages.mapInPandas(run, schema=PERCEPTION_SCHEMA)


def decode_doc(doc_id: str, spans: list[dict], decoder: str = "synthetic"):
    """Doc-local decode for the fused pipeline mode: media spans (in
    offset order) → (pages, envs) where pages maps page_no →
    (tokens, matches, highlights) and envs maps page_no → the page's
    perception environment (crop re-OCR / highlight recovery, K5/K6).

    - synthetic: perception derives deterministically from
      (doc_id, page_no); env is the synthetic model (built downstream
      from the page's tokens+highlights — envs stays empty).
    - native: rasterize + preprocess + template-match + OCR via the real
      kernels; env wraps the in-memory preprocessed page (decode and
      geometry share the task in fused mode, so no re-rasterize).
    """
    media = [s for s in sorted(spans, key=lambda s: s["offset"]) if s["kind"] != "text"]
    if decoder == "synthetic":
        from pdf_parser_spark.fixtures.generator import page_perception

        return {i + 1: page_perception(doc_id, i + 1) for i in range(len(media))}, {}

    from pdf_parser_spark import config as C
    from pdf_parser_spark.sources import kernels as K
    from pdf_parser_spark.sources import perception as P

    ticked, empty = P.load_templates()
    pages, envs = {}, {}
    for i, span in enumerate(media):
        rgb = P.load_page_rgb(str(span["media_ref"]))
        tokens, matches, pre = K.native_page_perception(
            rgb, ticked, empty, C.TEMPLATE_THRESHOLD, ocr=P.native_ocr_tokens
        )
        pages[i + 1] = (tokens, matches, [])
        envs[i + 1] = P.NativePerception(page_pre=pre)
    return pages, envs

