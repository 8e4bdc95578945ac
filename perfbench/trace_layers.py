"""The traced run: per-layer metrics, measured from outside the program.

Three sources:

* Spark's event log, switched on for the traced half of this run only:
  task time, GC, shuffle bytes and the SQL metrics of each operator
  (``time to run Python workers`` and the Arrow bytes of each
  ``MapInArrow``, identified by the Python function it runs).
* Wall time of public calls made on the session: ``salted_repartition``,
  each curation stage, ``minhash_banded_candidates``.
* Single-threaded, in-process timings of each module's public
  functions on a fixed sample of the workload's documents.

A layer the workload does not call reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

TEXTOPS_STAGES = ("quality", "lang_gate", "dedup", "line_dedup", "pack")
BOUNDARY_DOCS = 64
MB = 1e6


def _restart_with_event_log(spark, work: str, cores: int):
    """Stop the session and start another in the same JVM with the
    event log on (uncompressed, under ``work``)."""
    from pyspark import SparkContext
    from zhtml_spark.pipeline import build_session

    spark.stop()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    props = SparkContext._jvm.java.lang.System
    props.setProperty("spark.eventLog.enabled", "true")
    props.setProperty("spark.eventLog.dir", "file://" + log_dir)
    props.setProperty("spark.eventLog.compress", "false")
    props.setProperty("spark.eventLog.rolling.enabled", "false")
    spark = build_session(app="perfbench-traced", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, log_dir


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["simpleString"], m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


class EventLog:
    """Task and operator metrics of the jobs in groups ``timed:*``."""

    def __init__(self, path: str):
        self.acc_names: dict[int, tuple[str, str]] = {}
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.exec_span: dict[int, list] = {}
        self.exec_writes: set[int] = set()
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], self.acc_names)
            if kind.endswith("SQLExecutionStart"):
                self.exec_span[ev["executionId"]] = [ev["time"], ev["time"]]
                if "InsertIntoHadoopFsRelationCommand" in ev.get(
                        "physicalPlanDescription", ""):
                    self.exec_writes.add(ev["executionId"])
        elif kind.endswith("SQLExecutionEnd"):
            if ev["executionId"] in self.exec_span:
                self.exec_span[ev["executionId"]][1] = ev["time"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if group.startswith("timed:"):
                for s in ev["Stage IDs"]:
                    self.stage_group[s] = group[6:]
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    self.exec_group[int(eid)] = group[6:]
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                return
            accs = {}
            for a in ev["Task Info"].get("Accumulables", []):
                if "Update" in a:
                    try:
                        accs[a["ID"]] = float(a["Update"])
                    except (TypeError, ValueError):
                        pass
            self.tasks.append({
                "group": group,
                "stage": ev["Stage ID"],
                "run_ms": tm["Executor Run Time"],
                "gc_ms": tm["JVM GC Time"],
                "shuffle_w": tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                "accs": accs,
            })

    def operator_sum(self, udf_name: str, metric: str) -> float:
        """Σ over tasks of an operator metric, for operators whose plan
        string names the Python function ``udf_name``."""
        ids = {i for i, (s, m) in self.acc_names.items()
               if m == metric and f" {udf_name}(" in s}
        return sum(v for t in self.tasks
                   for i, v in t["accs"].items() if i in ids)

    def parse_task_skew(self, udf_name: str) -> float:
        """Median over parse stages of longest task / median task."""
        ids = {i for i, (s, _) in self.acc_names.items() if f" {udf_name}(" in s}
        by_stage: dict[int, list[float]] = defaultdict(list)
        for t in self.tasks:
            if ids & t["accs"].keys():
                by_stage[t["stage"]].append(t["run_ms"])
        ratios = [max(v) / max(statistics.median(v), 1.0)
                  for v in by_stage.values() if len(v) > 1]
        return statistics.median(ratios) if ratios else 0.0

    def shuffle_mb(self, groups) -> float:
        return sum(t["shuffle_w"] for t in self.tasks if t["group"] in groups) / MB

    def gc_s(self) -> float:
        return sum(t["gc_ms"] for t in self.tasks) / 1000

    def write_s(self) -> float:
        """Wall of the timed SQL executions that write files."""
        return sum((self.exec_span[e][1] - self.exec_span[e][0]) / 1000
                   for e in self.exec_group.keys() & self.exec_writes)


def _sample_batches(sample: list[list[tuple]], batch: int):
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    rows = [{"doc_id": f"s{i}", "spans": [
        {"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in d]}
        for i, d in enumerate(sample)]
    return [pa.RecordBatch.from_pylist(rows[i:i + batch], schema=schema)
            for i in range(0, len(rows), batch)]


def module_timings(sample: list[list[tuple]]) -> dict[str, float]:
    """Single-threaded timings of tokenizer, tree, extract and the
    udfs Arrow boundary on ``sample`` (documents as span tuples)."""
    from zhtml_spark.extract import extract_spans
    from zhtml_spark.pipeline import DEFAULT_ARROW_BATCH
    from zhtml_spark.tokenizer import tokenize
    from zhtml_spark.tree import parse_document
    from zhtml_spark.udfs import extract_document, make_extract_arrow_udf

    htmls = ["".join(t for k, t, _, _ in sorted(d, key=lambda s: s[3])
                     if k == "html" and t) for d in sample]
    mb = sum(len(h) for h in htmls) / MB
    t0 = time.perf_counter()
    for h in htmls:
        tokenize(h, tree_aware=True)
    tok_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    trees = [parse_document(h)[0] for h in htmls]
    parse_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for tree in trees:
        extract_spans(tree)
    ext_s = time.perf_counter() - t0

    # the boundary is a difference of two passes over the same docs:
    # take the median of three alternating repeats of each
    sample = sample[:BOUNDARY_DOCS]
    batches = _sample_batches(sample, DEFAULT_ARROW_BATCH)
    udf = make_extract_arrow_udf()
    docs_t, udf_t = [], []
    for _ in range(3):
        docs_t.append(_wall(lambda: [extract_document(d) for d in sample]))
        udf_t.append(_wall(lambda: list(udf(iter(batches)))))
    udf_s, docs_s = statistics.median(udf_t), statistics.median(docs_t)
    return {
        "tokenizer.s_per_mb": tok_s / mb,
        "tree.s_per_mb": (parse_s - tok_s) / mb,
        "extract.s_per_mb": ext_s / mb,
        "udfs.boundary_us_per_doc": (udf_s - docs_s) / len(sample) * 1e6,
    }


def _per_doc_s(fn, items) -> float:
    if not items:
        return 0.0
    t0 = time.perf_counter()
    for x in items:
        fn(x)
    return (time.perf_counter() - t0) / len(items)


def _wall(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def traced(spark, wl, work: str, cores: int, untraced_docs_per_s: float,
           session_start_s: float, seconds: float, peak_rss_mb: float) -> dict:
    from pyspark.sql import functions as F
    from zhtml_spark.pipeline import extract_documents, salted_repartition
    from zhtml_spark.udfs import DOC_SCHEMA

    from run import timed_region

    spark, log_dir = _restart_with_event_log(spark, work, cores)
    first = wl.warmup(spark, 10_000)    # untimed, in the new session
    wl.sc = spark.sparkContext
    wl.stage_s.clear()
    walls, _, _ = timed_region(spark, wl, seconds, first)
    n_rounds = len(walls)
    traced_docs_per_s = wl.docs_per_round / min(walls)
    wl.sc = None
    spark.sparkContext.setJobGroup("probes", "layer probes")
    out: dict[str, float] = {
        f"textops.{stage}_s": wl.stage_s.get(stage, 0.0) / n_rounds
        for stage in TEXTOPS_STAGES}

    crawl = wl.name == "crawl_curate"
    if crawl:
        docs = spark.createDataFrame(
            [(f"s{i}", [(k, t, m, o) for k, t, m, o in d])
             for i, d in enumerate(wl.html_sample())], DOC_SCHEMA)
        out["pipeline.salt_plan_s"] = 0.0
    else:
        docs = spark.read.parquet(wl.input)
        out["pipeline.salt_plan_s"] = _wall(
            lambda: salted_repartition(docs, 2 * cores))
    walls = [r["wall_us"] for r in extract_documents(
        docs, num_partitions=2 * cores).select("wall_us").collect()]
    q = statistics.quantiles(walls, n=100, method="inclusive")
    out["udfs.doc_wall_p50_us"] = statistics.median(walls)
    out["udfs.doc_wall_p99_us"] = q[98]

    if crawl:
        from zhtml_spark.feedops import extract_feed_spans
        from zhtml_spark.pdfops import extract_pdf_spans
        from zhtml_spark.sources import parse_warc_records
        from zhtml_spark.textops import dedup_exact, minhash_banded_candidates
        import gzip

        texts = [gzip.decompress(b).decode("latin-1") for b in wl.archives]
        arch = spark.createDataFrame([(t,) for t in texts], "content string")
        out["sources.record_parse_s"] = _wall(
            lambda: parse_warc_records(arch).write.format("noop").mode("overwrite").save())
        out["pdfops.s_per_doc"] = _per_doc_s(
            extract_pdf_spans, wl.payloads(b"application/pdf"))
        feeds = wl.payloads(b"application/rss+xml") + wl.payloads(b"application/atom+xml")
        out["feedops.s_per_doc"] = _per_doc_s(
            lambda b: extract_feed_spans(b.decode("utf-8")), feeds)
        _, gated = wl.gated(spark)
        exact = dedup_exact(gated).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text")
        n_cand = minhash_banded_candidates(
            exact, n=3, bands=wl.BANDS, rows=wl.ROWS).count()
        removed = gated.count() - wl.outputs[max(wl.outputs)]["survivors"].count()
        out["textops.candidates_per_dup"] = n_cand / max(removed, 1)
    else:
        for k in ("sources.record_parse_s", "pdfops.s_per_doc",
                  "feedops.s_per_doc", "textops.candidates_per_dup"):
            out[k] = 0.0
    out.update(module_timings(wl.html_sample()))

    spark.stop()
    log = EventLog(glob.glob(os.path.join(log_dir, "*"))[0])
    textops = set(TEXTOPS_STAGES)
    other = set(log.stage_group.values()) - textops
    out.update({
        "pipeline.session_start_s": session_start_s,
        "proc.peak_rss_mb": peak_rss_mb,
        "pipeline.shuffle_write_mb": log.shuffle_mb(other) / n_rounds,
        "pipeline.parse_task_skew": log.parse_task_skew("extract_batches"),
        "pipeline.sink_write_s": log.write_s() / n_rounds,
        "pipeline.jvm_gc_s": log.gc_s() / n_rounds,
        "udfs.python_worker_s": log.operator_sum(
            "extract_batches", "time to run Python workers") / 1000 / n_rounds,
        "udfs.arrow_mb_in": log.operator_sum(
            "extract_batches", "data sent to Python workers") / MB / n_rounds,
        "udfs.arrow_mb_out": log.operator_sum(
            "extract_batches", "data returned from Python workers") / MB / n_rounds,
        "sources.gunzip_s": log.operator_sum(
            "gunzip_batches", "time to run Python workers") / 1000 / n_rounds,
        "sources.http_decode_s": log.operator_sum(
            "codec", "time to run Python workers") / 1000 / n_rounds,
        "textops.shuffle_write_mb": log.shuffle_mb(textops) / n_rounds,
        "trace.docs_per_s_untraced": untraced_docs_per_s,
        "trace.docs_per_s_traced": traced_docs_per_s,
        "trace.overhead_pct": (untraced_docs_per_s / traced_docs_per_s - 1) * 100,
    })
    for k in ABSENT[wl.name]:
        print(f"# {k}: 0, {wl.name} does not call this layer")
    return {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(out.items())}


_NOT_CRAWL = ("sources.gunzip_s", "sources.record_parse_s",
              "sources.http_decode_s", "pdfops.s_per_doc", "feedops.s_per_doc",
              "textops.quality_s", "textops.lang_gate_s", "textops.dedup_s",
              "textops.line_dedup_s", "textops.pack_s",
              "textops.shuffle_write_mb", "textops.candidates_per_dup")
# layers a workload never calls (they read 0 in its traced run);
# crawl_curate's salted repartition runs inside warc_interleaved_spans,
# out of reach of a timer around the public call
ABSENT = {
    "extract_job": _NOT_CRAWL,
    "crawl_curate": ("pipeline.salt_plan_s", "pipeline.sink_write_s"),
}

UNITS = {
    "proc.peak_rss_mb": "MB",
    "pipeline.session_start_s": "s",
    "pipeline.salt_plan_s": "s",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.parse_task_skew": "ratio",
    "pipeline.sink_write_s": "s",
    "pipeline.jvm_gc_s": "s",
    "udfs.python_worker_s": "s",
    "udfs.arrow_mb_in": "MB",
    "udfs.arrow_mb_out": "MB",
    "udfs.boundary_us_per_doc": "us",
    "udfs.doc_wall_p50_us": "us",
    "udfs.doc_wall_p99_us": "us",
    "tokenizer.s_per_mb": "s/MB",
    "tree.s_per_mb": "s/MB",
    "extract.s_per_mb": "s/MB",
    "sources.gunzip_s": "s",
    "sources.record_parse_s": "s",
    "sources.http_decode_s": "s",
    "pdfops.s_per_doc": "s",
    "feedops.s_per_doc": "s",
    "textops.quality_s": "s",
    "textops.lang_gate_s": "s",
    "textops.dedup_s": "s",
    "textops.line_dedup_s": "s",
    "textops.pack_s": "s",
    "textops.shuffle_write_mb": "MB",
    "textops.candidates_per_dup": "ratio",
    "trace.docs_per_s_untraced": "1/s",
    "trace.docs_per_s_traced": "1/s",
    "trace.overhead_pct": "%",
}
