"""The four workloads: each loads its generated input, runs one library
entry point to a collected result, and checks that result.

``run`` returns ``(result, items)``; ``check`` returns the number of items
that failed or came out wrong.  ``state`` persists across one process's
runs and holds the ``items`` of the run being checked.  ``sm`` is a
``StageMetrics`` in the traced run and None in timed runs; likewise
``planner_wrap`` wraps the V3 planner only when tracing.
"""

from __future__ import annotations

import functools
import hashlib
import shutil
import tempfile

from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.latency import LatencyQAClient, LatencySurveyClient


class Workload:
    name = ""
    make_inputs = None          # (seed, out_dir) -> meta
    # untimed runs before timing, on ``make_warmup_inputs``' input, or on
    # the measured input when that is None
    warmups = 1
    make_warmup_inputs = None
    client_cls = LatencySurveyClient
    stage_tail = "tail"         # stage owning the wall after the last cut

    def load(self, spark, meta):
        df = spark.read.parquet(meta["path"])
        df.count()
        return df

    def client_factory(self, seed: int, trace_dir: str | None):
        return functools.partial(self.client_cls, seed, trace_dir)

    def run(self, spark, data, meta, factory, sm=None, planner_wrap=None):
        raise NotImplementedError

    def check(self, result, meta, state: dict) -> int:
        raise NotImplementedError


class V1QA(Workload):
    """Wide, independent LLM fan-out made one call at a time: shows any
    change to call concurrency in ``operators/llm_op``."""

    name = "v1_qa"
    make_inputs = staticmethod(inputs.v1_qa)
    # the JVM's JIT keeps settling for four runs (cpu_s 9, 7, 6, 5.5 s);
    # a tenth of the input runs the same code at a tenth of the LLM wait
    warmups = 4
    make_warmup_inputs = staticmethod(inputs.v1_qa_warmup)
    client_cls = LatencyQAClient
    stage_tail = "reduce"

    def run(self, spark, data, meta, factory, sm=None, planner_wrap=None):
        from llmxmapreduce_spark.pipelines.v1_qa import run_v1_qa

        out = run_v1_qa(data, chunk_size=inputs.V1_CHUNK_SIZE,
                        client_factory=factory, stage_metrics=sm)
        rows = out.select("doc_id", "answer").collect()
        return rows, meta["items"]

    def check(self, result, meta, state):
        got = {r["doc_id"]: (r["answer"] or "").strip() for r in result}
        return sum(1 for d, k in meta["keys"].items() if got.get(d) != k)


class V2Survey(Workload):
    """Deep dependent LLM chains at the reference knobs (6 conv layers,
    3x3 self-refine) with per-survey thread fan-out."""

    name = "v2_survey"
    make_inputs = staticmethod(inputs.v2_survey)
    stage_tail = "decode"

    def run(self, spark, data, meta, factory, sm=None, planner_wrap=None):
        from llmxmapreduce_spark.pipelines import v2_survey as v2

        paper = F.struct("bibkey", "title", "abstract", "txt", "url",
                         F.lit(None).cast("long").alias("txt_token"))
        surveys = data.groupBy("survey_id").agg(
            F.concat(F.lit("Survey of "), F.col("survey_id")).alias("title"),
            F.array_sort(F.collect_list(paper)).alias("papers"))
        # the knobs of the q_v2_survey_refdefaults board query
        cfg = v2.V2Config(conv_layers=6, receptive_field=3, result_num=10,
                          top_k=6, refine_rounds=3, best_of=3, polish=False,
                          block_count=1, digest_batch=1, llm_threads=8,
                          shuffle_partitions=8,
                          fused_digest_feedback=True, fused_init_outlines=True,
                          fused_conv_refine=True)
        out = v2.run_v2_survey(surveys, factory, cfg, stage_metrics=sm)
        rows = out.select("survey_id", "n_sections", "n_papers", "cite_ratio",
                          "content_md").orderBy("survey_id").collect()
        return rows, meta["items"]

    def check(self, result, meta, state):
        digest = hashlib.sha256(repr([tuple(r) for r in result]).encode()).hexdigest()
        first = state.setdefault("digest", digest)
        if digest != first or len(result) != meta["surveys"]:
            return meta["items"]
        bad = 0
        for r in result:
            if (r["n_papers"] != meta["papers_per_survey"]
                    or not r["n_sections"] or not (r["content_md"] or "").strip()):
                bad += meta["papers_per_survey"]
        return bad


class CorpusPrep(Workload):
    """The data plane (dedup, components, packing) with no LLM calls: an
    LLM-layer change must leave it unchanged."""

    name = "corpus_prep"
    make_inputs = staticmethod(inputs.corpus_prep)
    stage_tail = "pack"
    max_tokens = 2048

    def run(self, spark, data, meta, factory, sm=None, planner_wrap=None):
        from llmxmapreduce_spark.pipelines.corpus_prep import (
            CorpusPrepConfig, run_corpus_prep)

        cfg = CorpusPrepConfig(quality=False, span=0, neardup_fast=True,
                               max_tokens=self.max_tokens)
        out = run_corpus_prep(data, cfg, stage_metrics=sm)
        rows = out.select("seq_id", "n_docs", "total_tokens", "truncated",
                          "text").collect()
        return rows, meta["items"]

    def check(self, result, meta, state):
        survivors = []
        bad_seq = 0
        for r in result:
            docs = r["text"].split("\n\n")
            survivors += docs
            if (len(docs) != r["n_docs"] or r["truncated"]
                    or r["total_tokens"] > self.max_tokens):
                bad_seq += r["n_docs"]
        surv = set(survivors)
        dups = len(survivors) - len(surv)          # a survivor packed twice
        foreign = len(surv - meta["inputs"])        # text the input lacks
        missing_exact = sum(1 for t in meta["exact_groups"] if t not in surv)
        # near pairs are reported, not failed: the 12-hash MinHash estimate
        # misses a one-word change now and then, by design of the estimator
        both_near = sum(1 for a, b in meta["near_groups"]
                        if a in surv and b in surv)
        state["check"] = {"bad_seq": bad_seq, "dups": dups, "foreign": foreign,
                          "missing_exact": missing_exact, "near_pairs_kept": both_near,
                          "survivors": len(surv)}
        return bad_seq + dups + foreign + missing_exact


class V3Host(Workload):
    """The MockPlanner topic-to-survey tool loop over seeded search and
    fetch: many sequential tiny jobs, so per-job Spark driver latency."""

    name = "v3_host"
    make_inputs = staticmethod(inputs.v3_host)

    def load(self, spark, meta):
        return None

    def run(self, spark, data, meta, factory, sm=None, planner_wrap=None):
        from llmxmapreduce_spark.pipelines import v3_host as vh

        base_dir = tempfile.mkdtemp(dir=meta["base_dir"])
        planner = vh.MockPlanner(meta["topic"])
        if planner_wrap is not None:
            planner = planner_wrap(planner)
        search = inputs.FakeSearch(meta["seed"])
        fetch = inputs.FakeFetch(meta["seed"])
        host = vh.make_spark_host(
            spark, base_dir, planner, factory, lambda: search, lambda: fetch,
            top_n=3, snippet_threshold=0, similarity_threshold=0,
            min_length=50, max_length=100000)
        try:
            out = host.process_task(f"Write a survey about {meta['topic']}")
        finally:
            host.close()
            shutil.rmtree(base_dir, ignore_errors=True)
        pages = sum(op["result"].get("crawl_results", 0)
                    for op in out["operation_history"]
                    if op.get("tool_name") == "crawl_urls")
        return out, max(pages, 1)

    def check(self, result, meta, state):
        from llmxmapreduce_spark.pipelines.v3_host import CANONICAL_SEQUENCE

        tools = [op.get("tool_name") for op in result["operation_history"]]
        ok = (result["status"] == "completed"
              and tools == [t for _, t in CANONICAL_SEQUENCE]
              and all(op["action"] == "call_tool"
                      for op in result["operation_history"]))
        return 0 if ok else state["items"]


WORKLOADS = {w.name: w for w in (V1QA(), V2Survey(), CorpusPrep(), V3Host())}
