"""In-process spans around the program's public functions.

The traced run swaps module attributes of the program for wrappers that
record a span (name, start, end, parent) per call and update counters
from the call's arguments and result. The program itself is unchanged:
its modules call these functions through module attributes, so the
wrappers see every call made in this process. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import gzip
import json
from collections import Counter, defaultdict
from time import perf_counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._restore: list[tuple] = []

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper;
        ``count(counts, args, result)`` updates counters after each call."""
        orig = getattr(owner, attr)
        spans, stack, counts = self.spans, self._stack, self.counts

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = len(spans)
            spans.append([name, perf_counter(), 0.0, stack[-1] if stack else -1])
            stack.append(idx)
            try:
                result = orig(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][2] = perf_counter()
            if count is not None:
                count(counts, args, result)
            return result

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time: duration minus child spans."""
        child = defaultdict(float)
        for _name, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _parent) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with gzip.open(path, "wt") as f:
            for name, t0, t1, parent in self.spans:
                f.write(json.dumps([name, round(t0, 7), round(t1, 7), parent]) + "\n")


# ---------------------------------------------------------------------------
# the layer boundaries of the extraction path
# ---------------------------------------------------------------------------


def _n_pages(counts, args, result):
    counts["decoder.pages"] += len(result[0])


def _n_batch_pages(counts, args, result):
    counts["decoder.pages"] += len(args[0])


def _nms(counts, args, result):
    counts["nms.raw"] += len(args[0])
    counts["nms.kept"] += len(result)


def _labels(counts, args, result):
    counts["labels.searched"] += len(args[1])
    counts["labels.found"] += len(result)


def _questions(counts, args, result):
    counts["questions.asked"] += sum(len(s.get("questions") or []) for s in args[1])
    counts["questions.answered"] += sum(
        1 for sec in result or [] for q in sec.get("questions", []) if q.get("answer")
    )


def _call(key):
    def count(counts, args, result):
        counts[key] += 1
    return count


def _fallback(native_crop: bool = False):
    def count(counts, args, result):
        counts["questions.fallback_calls"] += 1
        counts["perception.crop_ocr_calls"] += native_crop
    return count


def instrument_extraction(tracer: Tracer) -> None:
    """Wrap the decoder, kernel, perception, geometry, question and
    extract entry points named by the benchmark's layer map."""
    from pdf_parser_spark.plans import extract as E
    from pdf_parser_spark.plans import geometry as G
    from pdf_parser_spark.plans import questions as Q
    from pdf_parser_spark.sources import decoder as D
    from pdf_parser_spark.sources import kernels as K
    from pdf_parser_spark.sources import perception as P

    tracer.wrap(D, "decode_doc", "decoder", _n_pages)
    tracer.wrap(D, "_native_decode_batch", "decoder", _n_batch_pages)
    tracer.wrap(P, "load_page_rgb", "perception.load", _call("perception.raster_loads"))
    tracer.wrap(K, "preprocess_page", "kernels.preprocess", _call("kernels.pages"))
    tracer.wrap(K, "match_template_boxes", "kernels.match")
    tracer.wrap(G, "nms_dedupe", "kernels.nms", _nms)
    tracer.wrap(G, "find_label_positions", "geometry.labels", _labels)
    tracer.wrap(G, "find_section_regions", "geometry.regions")
    tracer.wrap(G, "assign_checkboxes", "geometry.assign")
    tracer.wrap(Q, "page_responses", "questions", _questions)
    tracer.wrap(Q, "match_question_sections", "questions.match")
    tracer.wrap(Q, "attach_answers", "questions.answers")
    tracer.wrap(P.SyntheticPerception, "crop_tokens", "perception.fallback", _fallback())
    tracer.wrap(P.SyntheticPerception, "highlight_ocr", "perception.fallback", _fallback())
    tracer.wrap(P.NativePerception, "crop_tokens", "perception.fallback", _fallback(True))
    tracer.wrap(P.NativePerception, "highlight_ocr", "perception.fallback", _fallback())
    tracer.wrap(E, "extract_document", "extract")


def instrument_checkpoint(tracer: Tracer, spark, prefix: str) -> None:
    """Wrap the checkpoint and sink steps; each also tags the Spark jobs
    it starts, so the event log splits them out. ``read_group`` returns a
    lazy frame whose stats job runs right after it, so the readback tag
    stays set until the next tagged call."""
    from pdf_parser_spark.streaming import checkpoint as CK
    from pdf_parser_spark.streaming import sinks as SK

    sc = spark.sparkContext

    def tagged(owner, attr, name, keep=False, count=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def call(*args, **kwargs):
            before = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(prefix + name)
            try:
                return orig(*args, **kwargs)
            finally:
                if not keep:
                    sc.setJobDescription(before)

        setattr(owner, attr, call)
        tracer._restore.append((owner, attr, orig))
        tracer.wrap(owner, attr, name, count)

    def docs_written(counts, args, result):
        # the docs of the group this call wrote (a re-run group rewrites
        # its directory), read back outside Spark after the span ends
        import pandas as pd

        sink, _df, group_name = args
        path = sink.group_location(group_name)
        counts["checkpoint.docs_written"] += pd.read_parquet(path, columns=["doc_id"])["doc_id"].nunique()

    tagged(CK, "_input_fingerprint", "checkpoint.fingerprint")
    tagged(CK, "_stage_bucketed", "checkpoint.stage")
    tagged(SK.ParquetDirSink, "write_group", "sinks.write", count=docs_written)
    tagged(SK.ParquetDirSink, "read_group", "sinks.readback", keep=True)
