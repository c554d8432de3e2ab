"""Deterministic LLM latency model around the library's mock clients.

Each call sleeps ``base_ms * (0.5 + u)`` where ``u`` in [0, 1) is hashed
from (seed, prompt); the 2 % of calls whose second hash field falls below
``straggler_p`` take ``straggler_x`` times as long; every call also pays
``per_kchar_ms`` per 1,000 reply characters.  The default 2 ms mean is real
LLM latency scaled down about 1000x.  Replies are the wrapped mock's,
byte for byte.

With ``trace_dir`` set, every call appends one JSON span line to
``<trace_dir>/llm-<pid>.jsonl`` (one file per worker process, merged on the
Spark driver by ``tracing.load_llm_spans``).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

from llmxmapreduce_spark.llm.client import LLMClient, MockQAClient
from llmxmapreduce_spark.llm.survey_mock import MockSurveyClient

BASE_MS = 2.0
STRAGGLER_P = 0.02
STRAGGLER_X = 10.0
PER_KCHAR_MS = 1.0

# Prompt markers of the two mocks, in match order, grouped into the
# per-layer call kinds reported as ``llm.calls.<kind>``.
KINDS = [
    ("Extract Relevant Information", "map"),
    ("Integrate Extracted Information", "collapse"),
    ("Information from chunks", "reduce"),
    ("[INIT_OUTLINE]", "outline"),
    ("[CONCAT_OUTLINE]", "outline"),
    ("[DIGEST]", "digest"),
    ("[FEEDBACK]", "feedback"),
    ("[KERNEL]", "conv"),
    ("[MODIFY]", "modify"),
    ("[EVAL_OUTLINE]", "eval"),
    ("[SELF_REFINE]", "refine"),
    ("[ORCHESTRA]", "decode"),
    ("[SUMMARY]", "decode"),
    ("[POLISH]", "decode"),
    ("[GROUP]", "group"),
    ("[TOPIC_EXPANSION]", "search"),
    ("[QUERY_EXPAND]", "search"),
    ("[SNIPPET_SCORE]", "search"),
    ("[SIMILARITY]", "search"),
    ("[PAGE_REFINE]", "search"),
]
KIND_NAMES = sorted({k for _, k in KINDS} | {"other"})


def call_kind(prompt: str) -> str:
    for marker, kind in KINDS:
        if marker in prompt:
            return kind
    return "other"


def modelled_delay_s(seed: int, prompt: str, reply_chars: int) -> float:
    h = hashlib.blake2b(f"{seed}\0{prompt}".encode(), digest_size=16).digest()
    u = int.from_bytes(h[:8], "big") / 2.0 ** 64
    v = int.from_bytes(h[8:], "big") / 2.0 ** 64
    ms = BASE_MS * (0.5 + u)
    if v < STRAGGLER_P:
        ms *= STRAGGLER_X
    return (ms + PER_KCHAR_MS * reply_chars / 1000.0) / 1000.0


class LatencyClient(LLMClient):
    """``inner`` reply after the modelled delay; spans go to ``trace_dir``."""

    inner_cls: type[LLMClient] = LLMClient

    def __init__(self, seed: int, trace_dir: str | None = None):
        self.seed = seed
        self.trace_dir = trace_dir
        self.inner = self.inner_cls()

    def complete(self, prompt: str) -> str:
        t0 = time.time()
        c0 = time.thread_time()
        reply = self.inner.complete(prompt)
        model_cpu = time.thread_time() - c0
        delay = modelled_delay_s(self.seed, prompt, len(reply))
        time.sleep(delay)
        if self.trace_dir is not None:
            span = {"pid": os.getpid(), "tid": threading.get_ident(),
                    "kind": call_kind(prompt), "t0": t0, "t1": time.time(),
                    "prompt_chars": len(prompt), "reply_chars": len(reply),
                    "model_cpu_s": model_cpu, "delay_s": delay}
            path = os.path.join(self.trace_dir, f"llm-{os.getpid()}.jsonl")
            fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, (json.dumps(span) + "\n").encode())
            finally:
                os.close(fd)
        return reply


class LatencyQAClient(LatencyClient):
    inner_cls = MockQAClient


class LatencySurveyClient(LatencyClient):
    inner_cls = MockSurveyClient
