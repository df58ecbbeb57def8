"""Benchmark command: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload forms_fused --seed 1 --seconds 8 --trace 0

With ``--trace 0`` it sets up (JVM, session, package shipping, one warm
pass on a slice), runs about ``--seconds`` of timed passes
(``corpus.n_passes``), checks every pass's output against an oracle and
prints the end-to-end metrics (medians over the passes). With
``--trace 1`` it runs one pass with the Spark event log on and the
program's layer entry points wrapped, then a standalone scan and an
in-process single-thread pass, and prints the per-layer metrics.

Each pass prints one JSON line (wall time, CPU steal, memory, check
result); the last line of stdout is the result object. The exit code is
0 only when every output matched its oracle.
"""

from time import perf_counter

T_START = perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import zipfile  # noqa: E402

import corpus  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "resume_s": "s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.gc_s": "s",
    "session.jvm_rss_mb": "MB",
    "documents.scan_bytes": "bytes",
    "documents.scan_s": "s",
    "decoder.pages": "count",
    "decoder.self_s": "s",
    "kernels.preprocess_s": "s",
    "kernels.match_s": "s",
    "kernels.pages": "count",
    "kernels.nms_keep_ratio": "ratio",
    "perception.raster_loads": "loads/page",
    "perception.crop_ocr_calls": "count",
    "geometry.labels_s": "s",
    "geometry.regions_s": "s",
    "geometry.assign_s": "s",
    "geometry.label_hit_ratio": "ratio",
    "questions.match_s": "s",
    "questions.answers_s": "s",
    "questions.hit_ratio": "ratio",
    "questions.fallback_calls": "count",
    "extract.self_s": "s",
    "extract.task_skew": "ratio",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "arrow.to_python_bytes": "bytes",
    "arrow.from_python_bytes": "bytes",
    "tasks.run_s": "s",
    "tasks.count": "count",
    "checkpoint.fingerprint_s": "s",
    "checkpoint.stage_s": "s",
    "checkpoint.groups": "count",
    "checkpoint.group_wall_s": "s",
    "checkpoint.redo_ratio": "ratio",
    "sinks.write_s": "s",
    "sinks.readback_s": "s",
    "sinks.bytes_written": "bytes",
    "trace.wall_s": "s",
    "trace.inprocess_wall_s": "s",
    "trace.self_coverage": "ratio",
    **{f"operators.{q}.s": "s" for q in corpus.OPERATOR_QUERIES},
    "operators.shuffle_bytes": "bytes",
}

# in-process span names of the extraction layers (trace.self_coverage)
EXTRACTION_SPANS = [
    "decoder", "perception.load", "perception.fallback", "kernels.preprocess",
    "kernels.match", "kernels.nms", "geometry.labels", "geometry.regions",
    "geometry.assign", "questions", "questions.match", "questions.answers", "extract",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def program_missing() -> str | None:
    for rel in ("pdf_parser_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def ship_package(spark, work: str) -> None:
    """Zip the package into the run's directory and ``addPyFile`` it, as
    ``__spark_entry__._ship_package`` does (that one writes under /tmp,
    outside the checkout), and mark the session shipped for the entry
    module's queries."""
    import __spark_entry__ as ENTRY

    zip_path = os.path.join(work, "pdf_parser_spark.zip")
    pkg = os.path.join(ROOT, "pdf_parser_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    path = os.path.join(root, fn)
                    zf.write(path, os.path.relpath(path, ROOT))
    spark.sparkContext.addPyFile(zip_path)
    ENTRY._SHIPPED.add(id(spark.sparkContext))


def start_spark(work: str, slots: int, trace: bool):
    from pdf_parser_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{slots}]", shuffle_partitions=slots, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    import subprocess
    import time

    from pyspark import SparkContext

    import procfs

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 60
    while any(procfs.spark_processes()) and time.monotonic() < deadline:
        time.sleep(0.1)


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(wl, run: dict, tracer, stats: dict) -> dict:
    """Per-layer values from the traced pass, the event log and the spans."""
    import eventlog

    self_s = tracer.self_times()
    c = tracer.counts
    passed = eventlog.total(stats, "pass:")
    ops = eventlog.total(stats, "pass:operators.")
    readback = eventlog.total(stats, "pass:sinks.readback")
    written = eventlog.total(stats, "pass:sinks.write")
    markers = run.get("markers", [])
    pages = c["decoder.pages"]
    inproc = run.get("inprocess_wall_s", 0.0)
    return {
        "session.start_s": run["session_s"],
        "session.warm_s": run["warm_s"],
        "session.gc_s": passed.gc_s,
        "session.jvm_rss_mb": run["jvm_rss_mb"],
        "documents.scan_bytes": eventlog.total(stats, "scan").input_bytes,
        "documents.scan_s": run["scan_s"],
        "decoder.pages": pages,
        "decoder.self_s": self_s.get("decoder", 0.0),
        "kernels.preprocess_s": self_s.get("kernels.preprocess", 0.0),
        "kernels.match_s": self_s.get("kernels.match", 0.0),
        "kernels.pages": c["kernels.pages"],
        "kernels.nms_keep_ratio": ratio(c["nms.kept"], c["nms.raw"]),
        "perception.raster_loads": ratio(c["perception.raster_loads"], pages),
        "perception.crop_ocr_calls": c["perception.crop_ocr_calls"],
        "geometry.labels_s": self_s.get("geometry.labels", 0.0),
        "geometry.regions_s": self_s.get("geometry.regions", 0.0),
        "geometry.assign_s": self_s.get("geometry.assign", 0.0),
        "geometry.label_hit_ratio": ratio(c["labels.found"], c["labels.searched"]),
        "questions.match_s": self_s.get("questions.match", 0.0),
        "questions.answers_s": self_s.get("questions.answers", 0.0),
        "questions.hit_ratio": ratio(c["questions.answered"], c["questions.asked"]),
        "questions.fallback_calls": c["questions.fallback_calls"],
        "extract.self_s": self_s.get("extract", 0.0),
        "extract.task_skew": passed.task_skew(),
        "exchange.shuffle_write_bytes": passed.shuffle_write_bytes,
        "exchange.shuffle_read_bytes": passed.shuffle_read_bytes,
        "exchange.fetch_wait_s": passed.fetch_wait_s,
        "arrow.to_python_bytes": passed.py_sent_bytes,
        "arrow.from_python_bytes": passed.py_received_bytes,
        "tasks.run_s": passed.run_s,
        "tasks.count": passed.tasks,
        "checkpoint.fingerprint_s": self_s.get("checkpoint.fingerprint", 0.0),
        "checkpoint.stage_s": self_s.get("checkpoint.stage", 0.0),
        "checkpoint.groups": len(markers),
        "checkpoint.group_wall_s": statistics.median([m["wall_s"] for m in markers]) if markers else 0.0,
        "checkpoint.redo_ratio": ratio(c["checkpoint.docs_written"], wl.n_docs),
        "sinks.write_s": self_s.get("sinks.write", 0.0),
        "sinks.readback_s": readback.job_s,
        "sinks.bytes_written": written.output_bytes,
        **{f"operators.{q}.s": run.get("query_s", {}).get(q, 0.0) for q in corpus.OPERATOR_QUERIES},
        "operators.shuffle_bytes": ops.shuffle_write_bytes,
        "trace.wall_s": run["wall_s"],
        "trace.inprocess_wall_s": inproc,
        "trace.self_coverage": ratio(sum(self_s.get(n, 0.0) for n in EXTRACTION_SPANS), inproc),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: the program is not here ({missing} missing under {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import procfs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep pyspark's and both JVMs' temp files (the launcher JVM's too)
    # inside the run's directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        t0 = perf_counter()
        wl.make_inputs()
        inputs_s = perf_counter() - t0

        slots = len(os.sched_getaffinity(0))
        t0 = perf_counter()
        spark = start_spark(work, slots, trace)
        session_s = perf_counter() - t0
        ship_package(spark, work)
        sc = spark.sparkContext

        def tagger(prefix):
            return lambda call: sc.setJobDescription(prefix + call)

        t0 = perf_counter()
        wl.warm(spark, tagger("warm:"))
        warm_s = perf_counter() - t0

        tracer = None
        if trace:
            import tracing

            tracer = tracing.Tracer()
            if args.workload == "forms_skew_resume":
                tracing.instrument_checkpoint(tracer, spark, "pass:")
        setup_s = perf_counter() - T_START - inputs_s

        passes = []
        attempted = failed = 0
        for i in range(1 if trace else corpus.n_passes(args.workload, args.seconds)):
            steal0 = procfs.cpu_counters()
            with procfs.RssSampler() as rss:
                info = wl.run_pass(spark, i, tagger("pass:"))
            info["steal_pct"] = procfs.steal_pct(steal0, procfs.cpu_counters())
            info["worker_rss_mb"] = rss.peak_worker_mb
            info["jvm_rss_mb"] = rss.peak_jvm_mb
            n, bad = wl.check(i)
            attempted += n
            failed += bad
            info.update(attempted=n, failed=bad, pass_index=i)
            print(json.dumps(info), flush=True)
            passes.append(info)

        def med(key):
            return statistics.median(p.get(key, p["wall_s"]) for p in passes)

        if trace:
            run = dict(passes[0], session_s=session_s, warm_s=warm_s)
            if args.workload == "forms_skew_resume":
                run["markers"] = wl.markers(0)
            if args.workload == "operators_suite":
                run["query_s"] = wl.query_s[0]
            sc.setJobDescription("scan")
            t0 = perf_counter()
            wl.scan(spark)
            run["scan_s"] = perf_counter() - t0
            sc.setJobDescription(None)
            if hasattr(wl, "in_process"):
                tracing.instrument_extraction(tracer)
                run["inprocess_wall_s"] = wl.in_process()
            tracer.unwrap_all()
            stop_spark(spark)
            spark = None
            import eventlog

            stats = eventlog.per_call(eventlog.read_events(os.path.join(work, "eventlog")))
            values = layer_metrics(wl, run, tracer, stats)
            units = PER_LAYER
            out_dir = os.path.join(HERE, ".traces", f"{args.workload}-s{args.seed}-{os.getpid()}")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, "spans.jsonl.gz"))
            with open(os.path.join(out_dir, "layers.json"), "w") as f:
                json.dump({"passes": passes, "metrics": values}, f, indent=1)
        else:
            values = {
                "wall_s": med("wall_s"),
                "docs_per_s": statistics.median(wl.n_docs / p["wall_s"] for p in passes),
                "resume_s": med("resume_s"),
                "setup_s": setup_s,
                "worker_rss_mb": med("worker_rss_mb"),
            }
            units = END_TO_END
            print(json.dumps({"summary": {
                "passes": len(passes), "docs": wl.n_docs, "pages": wl.n_pages,
                "slots": slots, "inputs_s": inputs_s, "session_s": session_s, "warm_s": warm_s,
                "failed_frac": ratio(failed, attempted),
            }}), flush=True)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
