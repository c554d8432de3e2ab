"""Seeded input generators.  The seed picks the words, the keys, the
planted duplicates and the order of rows; the shape of the work (row
counts, length distribution, number of skewed or duplicated rows) is the
same for every seed, so run-to-run spread comes from the system and not
from the input size.

Texts imitate the sf0.1 ``documents`` table of the repository's test data:
bags of words drawn from its 31-word vocabulary.  Each generator writes its
rows as one parquet file (as the library's users load a table) and returns
the facts the output checks need.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

# v1_qa: documents and paragraphs per document; every paragraph ends in
# the document's fact.  A map chunk holds 199 tokens at chunk_size=600, so
# a skewed document's 110-180-word paragraphs land in one chunk each and
# its 16 informative map replies overflow the collapse budget.
V1_DOCS = 100
V1_SKEWED = 10
V1_PARAGRAPHS = (6, 60, 180)            # (count, min words, max words)
V1_SKEW_PARAGRAPHS = (16, 110, 180)
V1_CHUNK_SIZE = 600
# v1_qa's warm-up input: the same shape with a tenth of the documents
V1_WARMUP_DOCS = 10
V1_WARMUP_SKEWED = 1

# v2_survey: surveys x papers at the reference knobs
V2_SURVEYS = 4
V2_PAPERS = 32

# corpus_prep: documents, planted exact-duplicate and near-duplicate groups
CP_DOCS = 500
CP_EXACT_GROUPS = 25       # each adds 2 extra exact copies
CP_NEAR_GROUPS = 25        # each adds 1 copy with one word changed

# v3_host: search results per query and the length of fetched pages
V3_HITS_PER_QUERY = 2


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _lengths(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` lengths spread evenly over [lo, hi], in seeded order: every
    seed gets the same multiset, so the total work does not move."""
    span = hi - lo
    out = [lo + (i * span) // max(n - 1, 1) for i in range(n)]
    rng.shuffle(out)
    return out


def _write(path: str, columns: dict) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)
    return path


def v1_qa(seed: int, out_dir: str, docs: int = V1_DOCS,
          n_skewed: int = V1_SKEWED, name: str = "v1_qa") -> dict:
    """Long-document QA: one planted ``SK-`` key per document, repeated
    after every paragraph; a seeded tenth of the documents are skewed
    (more and longer paragraphs), which makes the collapse loop run."""
    rng = random.Random(f"{name}/{seed}")
    skewed = set(rng.sample(range(docs), n_skewed))
    shapes = {False: V1_PARAGRAPHS, True: V1_SKEW_PARAGRAPHS}
    lengths = {k: iter(_lengths(rng, n * (n_skewed if k else docs - n_skewed),
                                lo, hi))
               for k, (n, lo, hi) in shapes.items()}
    ids, contexts, questions, keys = [], [], [], {}
    for i in range(docs):
        doc_id = 1000 * seed % 999_983 + i
        key = f"SK-{rng.randrange(10_000, 100_000)}"
        fact = f"The secret key for document {doc_id} is {key}."
        sk = i in skewed
        contexts.append("\n".join(f"{_words(rng, next(lengths[sk]))}\n{fact}"
                                  for _ in range(shapes[sk][0])))
        questions.append(f"What is the secret key for document {doc_id}?")
        ids.append(doc_id)
        keys[doc_id] = key
    path = _write(os.path.join(out_dir, name, "documents.parquet"),
                  {"doc_id": pa.array(ids, pa.int64()), "context": contexts,
                   "question": questions})
    return {"path": path, "keys": keys, "items": docs}


def v1_qa_warmup(seed: int, out_dir: str) -> dict:
    return v1_qa(seed, out_dir, V1_WARMUP_DOCS, V1_WARMUP_SKEWED, "v1_qa-warmup")


def v2_survey(seed: int, out_dir: str) -> dict:
    """``V2_SURVEYS`` surveys of ``V2_PAPERS`` word-bag papers each."""
    rng = random.Random(f"v2_survey/{seed}")
    n = V2_SURVEYS * V2_PAPERS
    lengths = _lengths(rng, n, 40, 100)
    rows = {"survey_id": [], "bibkey": [], "title": [], "abstract": [],
            "txt": [], "url": []}
    for j in range(n):
        txt = _words(rng, lengths[j])
        pid = f"{seed % 997}x{j}"
        rows["survey_id"].append(f"survey{j % V2_SURVEYS}")
        rows["bibkey"].append(f"paper_{pid}")
        rows["title"].append(f"Paper {pid}")
        rows["abstract"].append(txt[:200])
        rows["txt"].append(txt)
        rows["url"].append(f"https://example.org/{pid}")
    path = _write(os.path.join(out_dir, "v2_survey", "papers.parquet"), rows)
    return {"path": path, "items": n, "surveys": V2_SURVEYS,
            "papers_per_survey": V2_PAPERS}


def corpus_prep(seed: int, out_dir: str) -> dict:
    """``CP_DOCS`` distinct documents plus planted exact copies and
    one-word-changed near copies, shuffled together."""
    rng = random.Random(f"corpus_prep/{seed}")
    base = []
    seen = set()
    for n_words in _lengths(rng, CP_DOCS, 40, 100):
        t = _words(rng, n_words)
        while t in seen:
            t = _words(rng, n_words)
        seen.add(t)
        base.append(t)
    picks = rng.sample(range(CP_DOCS), CP_EXACT_GROUPS + CP_NEAR_GROUPS)
    texts = list(base)
    exact_groups = []
    for g in picks[:CP_EXACT_GROUPS]:
        texts += [base[g], base[g]]
        exact_groups.append(base[g])
    near_groups = []
    for g in picks[CP_EXACT_GROUPS:]:
        words = base[g].split()
        k = rng.randrange(len(words) // 2, len(words))
        words[k] = rng.choice([w for w in VOCAB if w != words[k]])
        near = " ".join(words)
        texts.append(near)
        near_groups.append((base[g], near))
    rng.shuffle(texts)
    ids = list(range(len(texts)))
    path = _write(os.path.join(out_dir, "corpus_prep", "documents.parquet"),
                  {"doc_id": pa.array(ids, pa.int64()), "text": texts})
    return {"path": path, "items": len(texts), "inputs": set(texts),
            "exact_groups": exact_groups, "near_groups": near_groups}


def v3_host(seed: int, out_dir: str) -> dict:
    """A seeded topic plus the seeded fake search and fetch the crawl
    tools call (their results depend only on the seed and the query)."""
    rng = random.Random(f"v3_host/{seed}")
    topic = " ".join(rng.sample(VOCAB[1:], 3)) + " at scale"
    os.makedirs(os.path.join(out_dir, "v3_host"), exist_ok=True)
    return {"topic": topic, "seed": seed,
            "base_dir": os.path.join(out_dir, "v3_host")}


class FakeSearch:
    """``query -> hits``: ``V3_HITS_PER_QUERY`` seeded URLs per query."""

    def __init__(self, seed: int):
        self.seed = seed

    def __call__(self, query: str) -> list[dict]:
        rng = random.Random(f"search/{self.seed}/{query}")
        h = rng.randrange(100)
        return [{"url": f"https://x.test/{h}/{i}", "title": f"t{i}",
                 "snippet": f"snippet {i} about {query}"}
                for i in range(V3_HITS_PER_QUERY)]


class FakeFetch:
    """``url -> page``: a seeded word-bag page whose length grows with the
    URL's trailing index."""

    def __init__(self, seed: int):
        self.seed = seed

    def __call__(self, url: str) -> str:
        rng = random.Random(f"fetch/{self.seed}/{url}")
        n = int(url.rsplit("/", 1)[-1])
        return f"# Page {n}\n{_words(rng, 200 + 50 * n)}"
