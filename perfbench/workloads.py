"""The three workloads, each driven through the engine's public functions
in the order the production jobs call them.

A workload knows how to register its inputs, run one pass (optionally
under spans), check the pass's output against goldens computed without
the engine, and — in a traced run only — probe single layers by calling
their public functions on their own, outside any timed pass.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from pyspark.sql import functions as F

from .tracing import MIB


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, float]:
    """(number of parquet files, MiB of all files) under ``path``."""
    n, size = 0, 0
    for base, _, files in os.walk(path):
        for name in files:
            size += os.path.getsize(os.path.join(base, name))
            n += name.endswith(".parquet")
    return n, size / MIB


def digest(df, cols: list[str]) -> tuple:
    """(rows, XOR and sum of per-row hashes) over ``cols``, integer
    columns widened to long. Equal digests mean equal row multisets
    except with negligible probability; one aggregation job."""
    types = dict(df.dtypes)
    norm = [F.col(c).cast("long") if types[c] in ("int", "bigint", "smallint")
            else F.col(c) for c in cols]
    h = F.xxhash64(*norm)
    return tuple(df.agg(F.count(F.lit(1)), F.bit_xor(h),
                        F.sum(F.pmod(h, F.lit(2147483647)))).first())


def _mismatches(got, want, keys: list[str], cols: list[str]) -> int:
    """Rows missing on either side or differing in any of ``cols``."""
    g = got.select(*keys, *[F.col(c).alias(f"g_{c}") for c in cols])
    w = want.select(*keys, *[F.col(c).alias(f"w_{c}") for c in cols],
                    F.lit(True).alias("w_present"))
    g = g.withColumn("g_present", F.lit(True))
    differs = ~F.col("g_present").eqNullSafe(F.col("w_present"))
    for c in cols:
        differs = differs | ~F.col(f"g_{c}").eqNullSafe(F.col(f"w_{c}"))
    return g.join(w, keys, "full_outer").filter(differs).count()


class Workload:
    name = ""
    rows_unit = "rows"
    # workloads whose layers this workload's traced run also measures
    companions: tuple[str, ...] = ()

    def __init__(self, spark, input_dir: str, meta: dict, work_dir: str,
                 size: str):
        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.size = size
        self.rows = meta["rows"]

    def path(self, *parts: str) -> str:
        return os.path.join(self.input_dir, *parts)

    def prepare(self) -> None:
        """Set-up work done once per run (input registration)."""

    def run_pass(self, out: str, tracer=None) -> None:
        raise NotImplementedError

    def check(self, out: str) -> str | None:
        """None when the pass's output is correct, else what is wrong."""
        raise NotImplementedError

    def probes(self, tracer, out: str) -> dict:
        """Per-layer measurements made outside the timed passes."""
        return {}

    def layer_totals(self, tracer, log, pass_span) -> dict:
        """Per-layer metrics read from the traced pass's Spark metrics."""
        return {}


# ------------------------------------------------------ extract_commit ----


class ExtractCommit(Workload):
    """One fresh lineage commit of the fixture's default payload mix."""

    name = "extract_commit"
    rows_unit = "turns"
    KEYS = ["conv_id", "turn_idx"]
    COLS = ["kind", "extracted_text", "n_refs", "n_images", "n_rewritten",
            "n_spans", "valid"]

    def prepare(self) -> None:
        self.transcripts = self.scan_dir = self.path("transcripts")
        # jobs/extract_job.py's --buckets, sized to the input: four
        # buckets per core. The library default of 64 made each commit
        # mostly per-bucket file work at this input size (README.md).
        self.n_buckets = 4 * self.spark.sparkContext.defaultParallelism
        self.golden = self.spark.read.parquet(self.path("golden_turns.parquet"))
        self.golden_digest = digest(self.golden, self.KEYS + self.COLS)
        self.spark.read.parquet(self.transcripts).schema  # noqa: B018 (listing)

    def run_pass(self, out: str, tracer=None) -> None:
        from mistral_ocr_app_spark.plans.lineage import run_extraction_with_lineage

        with _span(tracer, "plans.lineage.run_extraction_with_lineage"):
            run_extraction_with_lineage(self.spark, self.transcripts, out,
                                        n_buckets=self.n_buckets)

    def check(self, out: str) -> str | None:
        from mistral_ocr_app_spark.plans.lineage import verify_lineage

        got = self.spark.read.parquet(os.path.join(out, "data"))
        if digest(got, self.KEYS + self.COLS) != self.golden_digest:
            bad = _mismatches(got, self.golden, self.KEYS, self.COLS)
            return f"{bad} turns differ from the golden extraction"
        bad_buckets = verify_lineage(self.spark, out).count()
        if bad_buckets:
            return f"lineage audit: {bad_buckets} buckets mismatched"
        return None

    def probes(self, tracer, out: str) -> dict:
        from mistral_ocr_app_spark.operators.extract import extract_turns
        from mistral_ocr_app_spark.plans.lineage import (
            lineage_rows,
            pending_transcripts,
        )

        spark = self.spark
        with tracer.span("operators.extract.extract_turns->noop") as sp_noop:
            _noop(extract_turns(spark.read.parquet(self.transcripts)))
        fresh = os.path.join(self.work_dir, "probe_lineage_absent")
        with tracer.span("plans.lineage.pending_transcripts") as sp_pend:
            pending_transcripts(spark, self.transcripts, fresh, self.n_buckets
                                ).select("bucket").distinct().collect()
        with tracer.span("plans.lineage.lineage_rows->noop") as sp_fp:
            _noop(lineage_rows(spark.read.parquet(os.path.join(out, "data"))))
        files, data_mib = dir_stats(out)
        res = {
            "extract.noop_s": tracer.seconds(sp_noop),
            "lineage.pending_s": tracer.seconds(sp_pend),
            "lineage.fingerprint_s": tracer.seconds(sp_fp),
            "lineage.files": files,
            "lineage.write_mib": data_mib,
        }
        res.update(function_profile(self.transcripts))
        return res

    def layer_totals(self, tracer, log, pass_span) -> dict:
        tot = log.totals(tracer.subtree(pass_span))
        return {
            "lineage.commit_s": tracer.seconds(pass_span),
            "extract.py_in_mib": tot["py_in_mib"],
            "extract.py_out_mib": tot["py_out_mib"],
        }


FUNCTIONS = ["strip_boilerplate", "span_text_stats", "rewrite_markdown_links",
             "extract_mock_document", "parse_base64_payload", "classify_payload"]


def function_profile(transcripts_dir: str) -> dict:
    """Serial direct calls of each per-kind function on the pass's rows,
    dispatched the way ``operators.extract._extract_one`` dispatches.
    Reports mean self time per call (µs) and the call count."""
    import pyarrow.parquet as pq

    from mistral_ocr_app_spark.functions import html_strip, markdown as md, spans as sp
    from mistral_ocr_app_spark.functions.classify import (
        KIND_DOC,
        KIND_EMPTY,
        KIND_HTML,
        KIND_MARKDOWN,
        classify_payload,
    )

    table = pq.read_table(transcripts_dir, columns=["text", "tool", "turn_idx"])
    ns = dict.fromkeys(FUNCTIONS, 0)
    calls = dict.fromkeys(FUNCTIONS, 0)
    clock = time.perf_counter_ns

    def timed(name, fn, *args):
        t0 = clock()
        fn(*args)
        ns[name] += clock() - t0
        calls[name] += 1

    for text, tool, turn_idx in zip(table.column("text").to_pylist(),
                                    table.column("tool").to_pylist(),
                                    table.column("turn_idx").to_pylist()):
        if tool:
            timed("span_text_stats", sp.span_text_stats, tool)
            continue
        t0 = clock()
        kind = classify_payload(text)
        ns["classify_payload"] += clock() - t0
        calls["classify_payload"] += 1
        if kind == KIND_EMPTY:
            continue
        if kind == KIND_MARKDOWN:
            timed("rewrite_markdown_links", md.rewrite_markdown_links, text, turn_idx)
        elif kind == KIND_DOC:
            timed("extract_mock_document", md.extract_mock_document, text)
        elif kind == KIND_HTML:
            timed("strip_boilerplate", html_strip.strip_boilerplate, text)
        else:
            timed("parse_base64_payload", md.parse_base64_payload, text)
    out = {}
    for name in FUNCTIONS:
        out[f"fn.{name}.us"] = ns[name] / 1e3 / calls[name] if calls[name] else 0.0
        out[f"fn.{name}.calls"] = calls[name]
    return out


# ----------------------------------------------------- assemble_skewed ----


class AssembleSkewed(Workload):
    """The ``--assemble`` tail of jobs/extract_job.py over a committed
    per-turn parquet with one conversation above the routing threshold.
    Its traced run also measures the dedup layers (see DedupDocs)."""

    name = "assemble_skewed"
    rows_unit = "turns"
    companions = ("dedup_docs",)

    def prepare(self) -> None:
        from .inputs import ASSEMBLE_THRESHOLD

        self.threshold = ASSEMBLE_THRESHOLD[self.size]
        self.extracted_dir = self.scan_dir = self.path("data")
        self.golden = self.spark.read.parquet(self.path("golden_convs.parquet"))
        self.golden_digest = digest(self.golden, ["conv_id", "combined_app"])
        self.spark.read.parquet(self.extracted_dir).schema  # noqa: B018 (listing)

    def _assemble(self, tracer=None):
        from mistral_ocr_app_spark.operators.assemble import assemble_auto

        extracted = self.spark.read.parquet(self.extracted_dir)
        with _span(tracer, "operators.assemble.assemble_auto"):
            return assemble_auto(extracted, threshold_turns=self.threshold)

    def run_pass(self, out: str, tracer=None) -> None:
        from mistral_ocr_app_spark.sources.io import write_markdown_sink

        assembled = self._assemble(tracer)
        with _span(tracer, "sources.io.write_markdown_sink"):
            write_markdown_sink(assembled, out)

    def check(self, out: str) -> str | None:
        got = self.spark.read.parquet(out)
        if digest(got, ["conv_id", "combined_app"]) == self.golden_digest:
            return None
        bad = _mismatches(got, self.golden, ["conv_id"], ["combined_app"])
        return f"{bad} conversations differ from the golden assembly"

    def probes(self, tracer, out: str) -> dict:
        from mistral_ocr_app_spark.sources.io import write_markdown_sink

        with tracer.span("operators.assemble.assemble_auto->noop") as sp_noop:
            _noop(self._assemble())
        heavy = (self.spark.read.parquet(self.extracted_dir).groupBy("conv_id")
                 .count().filter(F.col("count") > self.threshold).count())
        assembled = self._assemble().localCheckpoint(eager=True)
        with tracer.span("sources.io.write_markdown_sink(materialized)") as sp_sink:
            write_markdown_sink(assembled, os.path.join(self.work_dir, "probe_sink"))
        return {
            "assemble.noop_s": tracer.seconds(sp_noop),
            "assemble.heavy_convs": heavy,
            "sink.markdown_s": tracer.seconds(sp_sink),
            "sink.mib": dir_stats(out)[1],
        }

    def layer_totals(self, tracer, log, pass_span) -> dict:
        tot = log.totals(tracer.subtree(pass_span))
        return {"assemble.shuffle_mib": tot["shuffle_mib"],
                "assemble.reduce_skew": tot["reduce_skew"]}


# ---------------------------------------------------------- dedup_docs ----


class DedupDocs(Workload):
    """jobs/dedup_job.py in full mode: exact ∪ verified LSH pairs →
    connected components → canonical mapping → parquet.

    A dedup pass is about fifty Spark jobs, so on a small host its time
    is mostly Spark's fixed per-job cost, and a steady timed run does
    not fit the benchmark's time budget. It is not a timed workload of
    BENCHMARK.json; assemble_skewed's traced run runs it as a companion
    for its per-layer metrics, and ``--workload dedup_docs`` still runs
    it on its own."""

    name = "dedup_docs"
    rows_unit = "documents"

    def prepare(self) -> None:
        self.docs_dir = self.scan_dir = self.path("documents")
        self.planted = self.spark.read.parquet(self.path("planted.parquet"))
        self.spark.read.parquet(self.docs_dir).schema  # noqa: B018 (listing)

    def run_pass(self, out: str, tracer=None) -> None:
        from jobs.dedup_job import exact_pairs, near_dup_pairs
        from mistral_ocr_app_spark.operators.dedup_cluster import canonicalize

        docs = self.spark.read.parquet(self.docs_dir)
        with _span(tracer, "jobs.dedup_job.exact_pairs"):
            pairs = exact_pairs(docs)
        with _span(tracer, "jobs.dedup_job.near_dup_pairs"):
            near, _ = near_dup_pairs(docs)
        pairs = pairs.unionByName(near).distinct()
        with _span(tracer, "operators.dedup_cluster.canonicalize"):
            mapping = canonicalize(docs, pairs)
        with _span(tracer, "mapping.write.parquet"):
            mapping.write.mode("overwrite").parquet(out)

    def check(self, out: str) -> str | None:
        mapping = self.spark.read.parquet(out)
        n = mapping.count()
        if n != self.rows:
            return f"mapping has {n} rows for {self.rows} documents"
        canon = mapping.select("doc_id", "canonical_id")
        bad = (
            self.planted
            .join(canon.toDF("copy_id", "copy_canon"), "copy_id", "left")
            .join(canon.toDF("source_id", "source_canon"), "source_id", "left")
            .filter(~F.col("copy_canon").eqNullSafe(F.col("source_canon"))
                    | F.col("copy_canon").isNull())
            .count()
        )
        return f"{bad} planted copies not mapped to their source's canonical" if bad else None

    def probes(self, tracer, out: str) -> dict:
        from jobs.dedup_job import (
            DEFAULT_MAX_BUCKET,
            DEFAULT_SALT_THRESHOLD,
            exact_pairs,
            near_dup_pairs,
        )
        from mistral_ocr_app_spark.operators.corpus import (
            lsh_bands,
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from mistral_ocr_app_spark.operators.dedup_cluster import canonicalize

        docs = self.spark.read.parquet(self.docs_dir)
        with tracer.span("operators.corpus.minhash_signatures->noop") as sp_sig:
            _noop(minhash_signatures(docs, portable=False))
        bands = lsh_bands(minhash_signatures(docs, portable=False)).localCheckpoint(eager=True)
        with tracer.span("operators.corpus.lsh_candidate_pairs") as sp_pairs:
            cand, dropped = lsh_candidate_pairs(
                bands, DEFAULT_MAX_BUCKET, salt_threshold=DEFAULT_SALT_THRESHOLD)
            n_cand = cand.count()
        with tracer.span("jobs.dedup_job.near_dup_pairs->count") as sp_near:
            near, _ = near_dup_pairs(docs)
            near = near.localCheckpoint(eager=True)
        n_near = near.count()
        n_exact = exact_pairs(docs).count()
        pairs = exact_pairs(docs).unionByName(near).distinct().localCheckpoint(eager=True)
        with tracer.span("operators.dedup_cluster.canonicalize->noop") as sp_cc:
            _noop(canonicalize(docs, pairs))
        self._cc_span = sp_cc
        sig_s, pairs_s = tracer.seconds(sp_sig), tracer.seconds(sp_pairs)
        return {
            "lsh.signatures_s": sig_s,
            "lsh.pairs_s": pairs_s,
            "lsh.candidates": n_cand,
            "lsh.verified": n_near,
            "lsh.useful_ratio": n_near / n_cand if n_cand else 0.0,
            "lsh.buckets_dropped": dropped.count() if dropped is not None else 0,
            "dedup.exact_pairs": n_exact,
            # near_dup_pairs = signatures + candidates + verification
            "dedup.verify_s": max(tracer.seconds(sp_near) - sig_s - pairs_s, 0.0),
            "cc.s": tracer.seconds(sp_cc),
        }

    def layer_totals(self, tracer, log, pass_span) -> dict:
        cc_sites = log.totals(tracer.subtree(self._cc_span))["call_sites"]
        # connected_components checkpoints its edges and initial labels,
        # then the new labels once per iteration
        checkpoints = sum(s.startswith("localCheckpoint at") for s in cc_sites)
        return {"cc.jobs": len(cc_sites), "cc.iterations": max(checkpoints - 2, 0)}


WORKLOADS = {w.name: w for w in (ExtractCommit, AssembleSkewed, DedupDocs)}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
