"""The workloads, each driven through the engine's public API.

A workload generates its inputs from the seed (``generate``), runs one
round of its operation per call to ``run_round`` and, after the timed
region, checks every round's output (``check``).  Every round repeats
the same operation on the same input, so the share of failed documents
is the same in every run.
"""

from __future__ import annotations

import os
import time

import checks
import gen

SAMPLE_DOCS = 200   # documents the traced run times module by module


def _rows(df) -> list[dict]:
    return df.toArrow().to_pylist()


class Workload:
    name = ""
    # host cores left out of the session (it gets min(4, nproc - SPARE_CORES))
    SPARE_CORES = 0

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.stage_s: dict[str, float] = {}   # wall per stage, summed
        self.sc = None   # set by the traced run: tags Spark jobs by stage

    def _timed(self, stage: str, fn):
        if self.sc is not None:
            self.sc.setJobGroup(f"timed:{stage}", stage)
        t0 = time.perf_counter()
        out = fn()
        self.stage_s[stage] = self.stage_s.get(stage, 0.0) + time.perf_counter() - t0
        return out

    # the warm-up pass runs the same operation on a quarter-size input
    # made by the same generator: the first pass's cost is mostly
    # compilation and worker start-up, not data
    WARMUP_SCALE = 0.25

    def warmup(self, spark, k: int) -> int:
        """The untimed warm-up: one pass on the warm-up input (round
        ``k``), then the workload's ``WARM_ROUNDS`` full rounds.  Returns
        the number of the first timed round."""
        self.input, main = self.warmup_input, self.input
        try:
            self.run_round(spark, k)
        finally:
            self.input = main
        for j in range(1, self.WARM_ROUNDS + 1):
            self.run_round(spark, k + j)
        return k + self.WARM_ROUNDS + 1

    def rounds_for(self, seconds: float) -> int:
        """round(seconds / ROUND_S) rounds, at least one, where each
        workload's ``ROUND_S`` is one round's wall seconds on the
        reference host (4 cores).  A fixed count keeps the attempted
        documents, and the state a run ends in (heap, worker pool), the
        same in every run, where stopping on the clock flipped between
        two and three rounds."""
        return max(1, round(seconds / self.ROUND_S))

    @property
    def docs_per_round(self) -> int:
        raise NotImplementedError

    def html_sample(self) -> list[list[tuple]]:
        """Up to ``SAMPLE_DOCS`` documents' input spans as (kind, text,
        media_ref, offset) tuples, for the traced run's layer timings."""
        raise NotImplementedError


class ExtractJob(Workload):
    """``pipeline.run_job`` over a parquet table of interleaved docs."""

    name = "extract_job"
    N_DOCS = 1000
    ROUND_S = 2.4
    # full rounds keep speeding up for minutes, as the JVM compiles the
    # job's code (JVM CPU per round 11.5 -> 5.2 s over twelve rounds,
    # Python workers' flat at ~5 s): one untimed full round, then five
    # timed ones, whose fastest is the run's value
    WARM_ROUNDS = 1
    # one core stays free for the JVM's compiler and GC threads and the
    # driver: on local[4] they and four Python workers contend for a
    # 4-core host, and local[3] ran faster, with less CPU per document
    SPARE_CORES = 1

    def generate(self) -> None:
        self.input = os.path.join(self.work, "input")
        self.docs, self.facts = gen.extract_docs(self.seed, self.N_DOCS)
        gen.write_docs(self.docs, self.input)
        self.warmup_input = os.path.join(self.work, "warmup")
        gen.write_docs(gen.extract_docs(
            self.seed, int(self.N_DOCS * self.WARMUP_SCALE))[0], self.warmup_input)
        self.results: dict[int, dict] = {}

    @property
    def docs_per_round(self) -> int:
        return self.N_DOCS

    def _paths(self, k: int) -> tuple[str, str]:
        return (os.path.join(self.work, f"out{k}"),
                os.path.join(self.work, f"ckpt{k}"))

    def run_round(self, spark, k: int) -> None:
        from zhtml_spark.pipeline import run_job

        out, ckpt = self._paths(k)
        self.results[k] = self._timed(
            "run_job", lambda: run_job(spark, self.input, out, ckpt))

    def check(self, spark, rounds: range) -> checks.Result:
        from pyspark.sql import functions as F
        from zhtml_spark.pipeline import extract_documents, read_spans

        # run_job's sinks carry no per-document n_bytes or error codes:
        # read them from extract_documents over the same input, once
        per_doc = {r["doc_id"]: r for r in _rows(extract_documents(
            spark.read.parquet(self.input), num_partitions=2 * self.cores
        ).select("doc_id", "n_bytes", "error_codes"))}
        total = checks.Result()
        want_bytes = sum(f["n_bytes"] for f in self.facts.values())
        for k in rounds:
            out, _ = self._paths(k)
            spans = read_spans(spark, out)
            rows = _rows(spans) if spans is not None else []
            for r in rows:
                # a document extract_documents lost fails on n_bytes
                r.update(per_doc.get(r["doc_id"], {"n_bytes": None}))
            res = checks.check_documents(rows, self.facts)
            metrics = spark.read.parquet(os.path.join(out, "metrics"))
            n_internal = sum(r["cnt"] for r in metrics.select(
                F.explode("error_codes").alias("code", "cnt")
            ).where(F.col("code").startswith("internal-error:")).collect())
            got_bytes = self.results[k]["bytes"]
            if got_bytes != want_bytes or n_internal:
                # run_job's own counter and metrics sink: neither names
                # a document, so the whole round fails
                why = (f"internal errors: {n_internal}" if n_internal
                       else f"n_bytes {got_bytes} != {want_bytes}")
                for d in self.facts:
                    res.fail(d, why)
            total.failed |= {f"{k}:{d}" for d in res.failed}
            total.problems.update(res.problems)
        return total

    def html_sample(self) -> list[list[tuple]]:
        return [[(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in d["spans"]] for d in self.docs[:SAMPLE_DOCS]]


class CrawlCurate(Workload):
    """WARC archives → ``sources.read_warc`` → ``warc_interleaved_spans``
    → text rebuild → ``textops`` quality, language, dedup, line dedup
    and packing.  Each stage is materialized (``localCheckpoint``) as a
    curation job would, which also gives each stage its own wall time."""

    name = "crawl_curate"
    ROUND_S = 15.0
    WARM_ROUNDS = 0   # one 15 s round is the whole timed region
    PACK_BUDGET = 1024
    PACK_BUCKETS = 8
    LM_FLOOR = -8_400_000
    BANDS, ROWS = 6, 3   # b×r LSH: unrelated pages stay below 1e-3
    #                      false candidate pairs per run (see README)

    def generate(self) -> None:
        self.input = os.path.join(self.work, "warc")
        self.archives, self.facts = gen.crawl_archives(self.seed)
        gen.write_archives(self.archives, self.input)
        self.warmup_input = os.path.join(self.work, "warc_warmup")
        gen.write_archives(gen.crawl_archives(self.seed, self.WARMUP_SCALE)[0],
                           self.warmup_input)
        self.outputs: dict[int, dict] = {}

    @property
    def docs_per_round(self) -> int:
        return len(self.facts["responses"])

    def gated(self, spark):
        """Spans and the gated text table of one pass (shared with the
        traced layer probes)."""
        from pyspark.sql import functions as F
        from zhtml_spark.sources import read_warc, warc_interleaved_spans
        from zhtml_spark.textops import lang_gate, quality_filter

        spans = self._timed("sources", lambda: warc_interleaved_spans(
            read_warc(spark, self.input, "ISO-8859-1")).localCheckpoint())
        text = spans.where(F.col("kind").isin("text", "heading", "list")) \
            .groupBy("doc_id").agg(F.array_join(F.array_sort(
                F.collect_list(F.struct("offset", "text"))).getField("text"),
                "\n").alias("text"))
        q = self._timed("quality", lambda: quality_filter(
            text, min_tokens=8).localCheckpoint())
        # the generated prose is template text, which scores in the
        # gibberish band of the trigram model; lang_gate's documented
        # floor for synthetic corpora applies
        g = self._timed("lang_gate", lambda: lang_gate(
            q, min_lm_score=self.LM_FLOOR).localCheckpoint())
        return spans, g

    def run_round(self, spark, k: int) -> None:
        from zhtml_spark.textops import dedup_survivors, line_dedup, pack_sequences

        spans, g = self.gated(spark)
        surv = self._timed("dedup", lambda: dedup_survivors(
            g, n=3, bands=self.BANDS, rows=self.ROWS).localCheckpoint())
        lined = self._timed("line_dedup", lambda: line_dedup(surv).localCheckpoint())
        packs = self._timed("pack", lambda: _rows(pack_sequences(
            lined, budget_tokens=self.PACK_BUDGET, n_buckets=self.PACK_BUCKETS)))
        # the checkpointed stages are collected by check(), after the
        # timed region; the packs are the operation's own result
        self.outputs[k] = {
            "spans": spans, "survivors": surv, "lined": lined, "packs": packs}

    def check(self, spark, rounds: range) -> checks.Result:
        total = checks.Result()
        for k in rounds:
            o = self.outputs[k]
            res = checks.check_crawl(
                checks.group_spans(_rows(o["spans"])),
                {r["doc_id"] for r in _rows(o["survivors"].select("doc_id"))},
                {r["doc_id"]: r["text"] for r in _rows(o["lined"])},
                o["packs"], self.facts, self.PACK_BUDGET)
            total.failed |= {f"{k}:{d}" for d in res.failed}
            total.problems.update(res.problems)
        return total

    def payloads(self, ctype: bytes) -> list[bytes]:
        """Bodies of the identity-coded responses whose Content-Type
        starts with ``ctype``, in archive order."""
        import gzip

        out = []
        for blob in self.archives:
            for rec in gzip.decompress(blob).split(b"\r\n\r\nWARC/1.0\r\n"):
                if b"WARC-Type: response" not in rec:
                    continue
                _, http_head, body = rec.split(b"\r\n\r\n", 2)
                if (b"Content-Type: " + ctype in http_head
                        and b"-Encoding" not in http_head):
                    out.append(body.removesuffix(b"\r\n\r\n"))
        return out

    def html_sample(self) -> list[list[tuple]]:
        out = []
        for body in self.payloads(b"text/html")[:SAMPLE_DOCS]:
            cs = "utf-8"
            if b"windows-1252" in body[:200]:
                cs = "cp1252"
            elif b"Shift_JIS" in body[:200]:
                cs = "shift_jis"
            out.append([("html", body.decode(cs), None, 0)])
        return out


WORKLOADS = {w.name: w for w in (ExtractJob, CrawlCurate)}
