"""The benchmark's four workloads.

Each one loads one layer of the program heavily and bypasses another
(see README.md). A workload writes its seeded inputs (``make_inputs``,
untimed), runs the workload's own calls on a warm-up slice (``warm``, part
of set-up), runs timed passes (``run_pass``) and checks each pass's
output against an oracle (``check``, untimed). The traced run adds a
standalone scan (``scan``) and an in-process single-thread pass over the
same inputs (``in_process``).
"""

from __future__ import annotations

import math
import os
import pickle
from time import perf_counter

import pandas as pd

import corpus
import expected

# docs of the traced run's in-process single-thread pass (the first
# pass's first docs): enough for every layer's span to add up, short
# enough that the traced run costs about what an untraced one does
IN_PROCESS_FORMS = 400
IN_PROCESS_NATIVE = 4


def _digests(out_dir: str) -> dict[str, int]:
    """doc_id -> digest of the doc's output spans, ordered by ``order``."""
    pdf = pd.read_parquet(out_dir, columns=["doc_id", "kind", "text", "media_ref", "order"])
    pdf = pdf.sort_values(["doc_id", "order"], kind="stable")
    out: dict[str, int] = {}
    cols = [pdf[c].tolist() for c in ("doc_id", "kind", "text", "media_ref", "order")]
    start = 0
    n = len(pdf)
    for i in range(1, n + 1):
        if i == n or cols[0][i] != cols[0][start]:
            out[cols[0][start]] = expected.digest(
                zip(cols[1][start:i], cols[2][start:i], cols[3][start:i], cols[4][start:i])
            )
            start = i
    return out


def _compare(out_dir: str, want: dict[str, int]) -> tuple[int, int]:
    """(attempted, failed): docs whose output is missing or differs."""
    got = _digests(out_dir)
    failed = sum(1 for d, h in want.items() if got.get(d) != h)
    failed += sum(1 for d in got if d not in want)
    return len(want), failed


class _Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.n_docs = 0
        self.n_pages: list[int] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *[str(p) for p in parts])

    def scan(self, spark) -> int:
        """Standalone ``read_documents`` + ``media_pages`` over the input
        (sources.documents alone); returns the page rows it produced."""
        from pdf_parser_spark.sources.documents import media_pages, read_documents

        return media_pages(read_documents(spark, self.docs_paths[0])).count()


class FormsFused(_Workload):
    """Uniform synthetic forms through ``extract_spans`` (auto -> fused),
    written to parquet, then ``lineage_metrics``, as jobs/extract_job.py
    runs them."""

    name = "forms_fused"
    skew = False

    def corpora(self) -> tuple[list[str], list[list[str]]]:
        return corpus.fused_corpora(self.seed)

    def make_inputs(self) -> None:
        warm, self.doc_ids = self.corpora()
        self.warm_path = self.path("warm.parquet")
        corpus.write_documents(self.warm_path, warm, self.skew)
        table = expected.load(self.name)
        expected.verify_sample(self.name, self.doc_ids[0], table, self.seed)
        self.docs_paths = [self.path(f"documents{i}.parquet") for i in range(len(self.doc_ids))]
        self.n_pages = [corpus.write_documents(p, ids, self.skew) for p, ids in zip(self.docs_paths, self.doc_ids)]
        self.n_docs = len(self.doc_ids[0])
        self.want = [{d: table[d] for d in ids} for ids in self.doc_ids]

    def _extract(self, spark, docs_path: str, out: str, tag) -> None:
        from pdf_parser_spark.plans.extract import extract_spans, lineage_metrics
        from pdf_parser_spark.sources.documents import read_documents

        docs = read_documents(spark, docs_path)
        tag("extract+write")
        extract_spans(docs).write.mode("overwrite").parquet(out)
        tag("lineage_metrics")
        written = spark.read.parquet(out)
        lineage_metrics(docs, written).write.mode("overwrite").parquet(out + "_metrics")

    def warm(self, spark, tag) -> None:
        self._extract(spark, self.warm_path, self.path("warm_out"), tag)

    def run_pass(self, spark, i: int, tag) -> dict:
        t0 = perf_counter()
        self._extract(spark, self.docs_paths[i], self.path(f"out{i}"), tag)
        return {"wall_s": perf_counter() - t0}

    def check(self, i: int) -> tuple[int, int]:
        return _compare(self.path(f"out{i}"), self.want[i])

    def in_process(self) -> float:
        """The per-doc calls ``_fused_factory`` makes, in this process, over
        the first pass's first docs; returns their wall time."""
        from pdf_parser_spark.fixtures.generator import doc_spans, form_schemas
        from pdf_parser_spark.plans import extract as E
        from pdf_parser_spark.sources import decoder as D

        sections = form_schemas()
        docs = [(d, doc_spans(d, self.skew)) for d in self.doc_ids[0][:IN_PROCESS_FORMS]]
        t0 = perf_counter()
        for doc_id, spans in docs:
            pages, envs = D.decode_doc(doc_id, spans, "synthetic")
            E.extract_document(spans, pages, sections, envs)
        return perf_counter() - t0


class FormsSkewResume(FormsFused):
    """Heavy-tail forms through ``extract_with_checkpoint``, killed after
    half of its bucket groups, re-invoked to resume, then
    ``read_extracted`` written out."""

    name = "forms_skew_resume"
    skew = True

    def corpora(self) -> tuple[list[str], list[list[str]]]:
        return corpus.skew_corpora(self.seed)

    def _checkpointed(self, spark, docs_path: str, ck: str, out: str, tag) -> dict:
        """Kill after half the bucket groups, re-invoke, write the result."""
        from pdf_parser_spark.sources.documents import read_documents
        from pdf_parser_spark.streaming.checkpoint import extract_with_checkpoint, read_extracted

        kw = dict(n_buckets=corpus.SKEW_BUCKETS, group_size=corpus.SKEW_GROUP_SIZE)
        kill_after = corpus.SKEW_GROUPS // 2
        t0 = perf_counter()
        tag("checkpoint.first")
        try:
            extract_with_checkpoint(
                spark, read_documents(spark, docs_path), ck, fail_after_groups=kill_after, **kw
            )
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the checkpointed job was not killed")
        t1 = perf_counter()
        tag("checkpoint.resume")
        extract_with_checkpoint(spark, read_documents(spark, docs_path), ck, **kw)
        tag("readback")
        read_extracted(spark, ck).write.mode("overwrite").parquet(out)
        t2 = perf_counter()
        return {"wall_s": t2 - t0, "resume_s": t2 - t1}

    def warm(self, spark, tag) -> None:
        # the same bucket groups as the timed pass: each group's filter
        # compiles to its own generated code, which the warm pass caches
        self._checkpointed(spark, self.warm_path, self.path("warm_ck"), self.path("warm_out"), tag)

    def run_pass(self, spark, i: int, tag) -> dict:
        return self._checkpointed(spark, self.docs_paths[i], self.path(f"ck{i}"), self.path(f"out{i}"), tag)

    def markers(self, i: int) -> list[dict]:
        from pdf_parser_spark.streaming.checkpoint import read_metrics

        return read_metrics(self.path(f"ck{i}"))


class NativePages(_Workload):
    """Rendered pages through ``extract_spans(decoder="native")`` (auto ->
    paged) with the simulated OCR bound by ``perception.configure_native``."""

    name = "native_pages"

    def make_inputs(self) -> None:
        from pdf_parser_spark.fixtures import native_sim as NS

        self.indices = corpus.native_indices(self.seed)
        page_dir = self.path("pages")
        docs_path = corpus.write_native_pages(page_dir, self.indices)
        self.docs_paths = [docs_path] * corpus.MAX_PASSES
        self.n_docs = len(self.indices)
        self.n_pages = [2 * self.n_docs]
        docs = pd.read_parquet(docs_path)
        self.warm_path = self.path("warm.parquet")
        docs.iloc[:4].to_parquet(self.warm_path, index=False)
        self.want = {
            NS.doc_id_of(i): expected.digest(NS.expected_spans(i, page_dir)) for i in self.indices
        }

    def _extract(self, spark, docs_path: str, out: str, tag) -> None:
        from pdf_parser_spark.fixtures.native_sim import SIM_SECTIONS
        from pdf_parser_spark.plans.extract import extract_spans
        from pdf_parser_spark.sources.documents import read_documents

        tag("extract+write")
        docs = read_documents(spark, docs_path)
        extract_spans(docs, sections=SIM_SECTIONS, decoder="native").write.mode("overwrite").parquet(out)

    def warm(self, spark, tag) -> None:
        from pdf_parser_spark.sources import perception as P

        P.configure_native(
            ocr="pdf_parser_spark.fixtures.native_sim:sim_ocr",
            yesno_ocr="pdf_parser_spark.fixtures.native_sim:sim_yesno",
        )
        self._extract(spark, self.warm_path, self.path("warm_out"), tag)

    def run_pass(self, spark, i: int, tag) -> dict:
        t0 = perf_counter()
        self._extract(spark, self.docs_paths[i], self.path(f"out{i}"), tag)
        return {"wall_s": perf_counter() - t0}

    def check(self, i: int) -> tuple[int, int]:
        return _compare(self.path(f"out{i}"), self.want)

    def in_process(self) -> float:
        """The calls the paged plan makes per page and per doc: the decode
        batch of ``perceive``, then ``extract_document`` on the unpickled
        payloads, as ``_assemble_stream_factory`` runs them, over the
        first docs; returns their wall time."""
        from pdf_parser_spark.fixtures.native_sim import SIM_SECTIONS
        from pdf_parser_spark.plans import extract as E
        from pdf_parser_spark.sources import decoder as D

        docs = []
        table = pd.read_parquet(self.docs_paths[0]).iloc[:IN_PROCESS_NATIVE]
        for doc_id, spans in zip(table["doc_id"], table["spans"]):
            spans = [dict(s) for s in spans]
            media = sorted((s for s in spans if s["kind"] != "text"), key=lambda s: s["offset"])
            batch = pd.DataFrame({
                "doc_id": [doc_id] * len(media),
                "page_no": list(range(1, len(media) + 1)),
                "media_ref": [s["media_ref"] for s in media],
            })
            docs.append((spans, batch))
        t0 = perf_counter()
        for spans, batch in docs:
            decoded = D._native_decode_batch(batch)
            pages = {int(p): pickle.loads(bytes(b)) for p, b in zip(decoded["page_no"], decoded["payload"])}
            E.extract_document(spans, pages, SIM_SECTIONS)
        return perf_counter() - t0


class OperatorsSuite(_Workload):
    """The 11 non-extraction headline queries of ``__spark_entry__``,
    each collected through Arrow, checked against its DuckDB oracle."""

    name = "operators_suite"

    def make_inputs(self) -> None:
        self.tables = self.path("tables")
        corpus.write_operator_tables(self.tables, self.seed, scale=corpus.OPERATOR_SCALE)
        self.n_docs = len(pd.read_parquet(os.path.join(self.tables, "documents.parquet"), columns=["doc_id"]))
        self.results: dict[int, dict[str, pd.DataFrame]] = {}
        self.query_s: dict[int, dict[str, float]] = {}
        self.want: dict[str, pd.DataFrame] | None = None

    def _run(self, spark, tables: str, tag) -> tuple[dict, dict]:
        import __spark_entry__ as ENTRY
        from pdf_parser_spark.operators.dedup import release_shingle_caches

        qs = ENTRY.queries()
        results, times = {}, {}
        for q in corpus.OPERATOR_QUERIES:
            tag(f"operators.{q}")
            t0 = perf_counter()
            results[q] = qs[q](spark, tables).toPandas()
            times[q] = perf_counter() - t0
        release_shingle_caches()
        return results, times

    def warm(self, spark, tag) -> None:
        # the same tables as the timed passes: after a warm pass on tables
        # a tenth their size the first timed pass still ran 10-35% slower
        # than the second; the queries keep no state between passes
        self._run(spark, self.tables, tag)

    def run_pass(self, spark, i: int, tag) -> dict:
        t0 = perf_counter()
        self.results[i], self.query_s[i] = self._run(spark, self.tables, tag)
        return {"wall_s": perf_counter() - t0, "query_s": self.query_s[i]}

    def _oracle(self) -> dict[str, pd.DataFrame]:
        import duckdb

        import __spark_entry__ as ENTRY

        sql = ENTRY.oracle_sql()
        con = duckdb.connect()
        try:
            for t in corpus.OPERATOR_TABLES:
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            return {q: con.execute(sql[q]).fetchdf() for q in corpus.OPERATOR_QUERIES}
        finally:
            con.close()

    def check(self, i: int) -> tuple[int, int]:
        if self.want is None:
            self.want = self._oracle()
        failed = sum(1 for q in corpus.OPERATOR_QUERIES if not frames_equal(self.results[i][q], self.want[q]))
        self.results.pop(i)
        return len(corpus.OPERATOR_QUERIES), failed

    def scan(self, spark) -> int:
        return 0


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Equal as ``tools/selfcheck_entry.py`` compares: same column names,
    rows sorted on all columns, exact values (NaN equals NaN)."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if x == y or (x is None and y is None):
                continue
            if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
                continue
            return False
    return True


WORKLOADS = {w.name: w for w in (FormsFused, FormsSkewResume, NativePages, OperatorsSuite)}
