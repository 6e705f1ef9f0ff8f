"""Seeded input generator for the benchmark.

Writes corpora in the fixture layout (FIXTURES.md) so that the registry
queries and their DuckDB oracle SQL apply unchanged:

  documents.parquet   doc_id int64, text string, lang string, source string,
                      n_chars int64 (one row group, like the fixture)
  embeddings.parquet  vec_id int64, embedding list<float> (dim 64), label int32
  events.parquet      event_id int64, ts timestamp[us], user_id int64,
                      event_type string, value double, props string

Unlike the fixture, the documents are multi-sentence text with punctuation
(so the summarizer ranks sentences instead of taking its identity path),
and they carry a seeded share of exact duplicates, near-duplicates (edited
copies) and boilerplate sentences (shared by enough documents to exceed
CurationPipeline.MaxShingleDf). The same seed always gives the same files.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import bisect
import json
import random
import sys
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["de", "en", "es", "fr", "zh"]
N_SOURCES = 20
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STOP = ["the", "and", "of", "to", "in", "is", "for", "with", "on", "that"]
# Each boilerplate sentence is 10+ words, so a document carrying one shares
# 6+ 5-gram shingles with every other carrier.
BOILERPLATE = [
    "This page was generated automatically by the content management system.",
    "All rights reserved, reproduction without written permission is prohibited.",
    "Subscribe to our newsletter to receive weekly updates about new articles.",
]


@dataclass
class CorpusSpec:
    docs: int
    sentences: int  # mean sentences per document
    exact_dup: float  # share of documents that are exact copies
    near_dup: float  # share of documents that are edited copies
    boilerplate: float  # share of originals carrying a boilerplate sentence
    pii: float  # share of originals carrying an e-mail address


# Sizes per workload. tagging: a pass is bound by the pipeline's Spark
# jobs, not by rows (5.7 s on 4 cores at 500 documents, 8.5 s at 2,000),
# so the corpus stays small. curation: 2x the documents at shorter length,
# 15% exact and 15% near duplicates, 35% boilerplate carriers (76-97
# distinct documents per boilerplate sentence over seeds 1-22, so its
# 5-grams exceed MaxShingleDf = 50 after the exact stage). A pass is about
# 2.6 s on 4 cores here and 3.3 s at 2,000
# documents, so a run holds more passes; the DuckDB oracle check grows
# with the corpus (about 5 s here, 10 s at 2,000, 29 s at 6,000). session:
# the registry queries' scale at a tenth of sf0.1, where a request costs
# about the per-query job floor once its memos exist.
SPECS = {
    "tagging": CorpusSpec(docs=500, sentences=6, exact_dup=0.02,
                          near_dup=0.02, boilerplate=0.05, pii=0.02),
    "curation": CorpusSpec(docs=1000, sentences=4, exact_dup=0.15,
                           near_dup=0.15, boilerplate=0.35, pii=0.03),
    "session": CorpusSpec(docs=500, sentences=3, exact_dup=0.05,
                          near_dup=0.05, boilerplate=0.05, pii=0.02),
}
VOCABULARY_SEED = 20240101
SESSION_VECTORS = 500
SESSION_EVENTS = 10000
EMBED_DIM = 64


def vocabulary(rng, n=800):
    onset = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
             "t", "v", "w", "br", "ch", "cl", "dr", "gr", "pl", "sh", "st", "tr"]
    nucleus = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
    coda = ["", "n", "r", "s", "t", "l", "m", "nd", "rt", "st", "ck"]
    words = set()
    while len(words) < n:
        syl = rng.choice([1, 2, 2, 3])
        w = "".join(rng.choice(onset) + rng.choice(nucleus) + rng.choice(coda)
                    for _ in range(syl))
        if len(w) >= 3:
            words.add(w)
    vocab = sorted(words)
    rng.shuffle(vocab)
    return vocab


class WordSampler:
    """Zipf-ranked content words mixed with a fixed share of stop words."""

    def __init__(self, rng, vocab, s=1.05):
        self.rng = rng
        self.vocab = vocab
        acc, total = [], 0.0
        for r in range(len(vocab)):
            total += 1.0 / (r + 1) ** s
            acc.append(total)
        self.cum = acc

    def word(self):
        if self.rng.random() < 0.25:
            return self.rng.choice(STOP)
        x = self.rng.random() * self.cum[-1]
        return self.vocab[bisect.bisect_left(self.cum, x)]


def sentence(rng, words):
    n = rng.randint(6, 16)
    toks = [words.word() for _ in range(n)]
    toks[0] = toks[0].capitalize()
    if n > 9 and rng.random() < 0.3:
        toks[rng.randint(2, n - 3)] += ","
    return " ".join(toks) + rng.choice([".", ".", ".", ".", "!", "?"])


def edit(rng, text, words):
    """A near-duplicate: replace about one word in twenty-five."""
    toks = text.split(" ")
    n_edits = max(1, len(toks) // 25)
    for _ in range(n_edits):
        i = rng.randrange(len(toks))
        toks[i] = words.word()
    return " ".join(toks)


def documents(seed, spec):
    # one vocabulary for every seed: the seed varies the documents, not
    # the language (word lengths and ranks would change the work per row)
    words = WordSampler(None, vocabulary(random.Random(VOCABULARY_SEED)))
    rng = words.rng = random.Random(seed)
    n_exact = int(spec.docs * spec.exact_dup)
    n_near = int(spec.docs * spec.near_dup)
    originals = []
    for _ in range(spec.docs - n_exact - n_near):
        k = max(1, spec.sentences + rng.randint(-2, 2))
        sents = [sentence(rng, words) for _ in range(k)]
        if rng.random() < spec.pii:
            sents.insert(rng.randrange(len(sents) + 1),
                         f"Contact {words.word()}.{words.word()}@example.org for details.")
        if rng.random() < spec.boilerplate:
            sents.append(rng.choice(BOILERPLATE))
        originals.append(" ".join(sents))
    texts = list(originals)
    texts += [rng.choice(originals) for _ in range(n_exact)]
    texts += [edit(rng, rng.choice(originals), words) for _ in range(n_near)]
    rng.shuffle(texts)
    return pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{rng.randrange(N_SOURCES)}" for _ in texts],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed, n):
    rs = np.random.RandomState(seed)
    centers = rs.normal(0.0, 0.15, size=(10, EMBED_DIM))
    labels = rs.randint(0, 10, size=n)
    vecs = (centers[labels] + rs.normal(0.0, 0.08, size=(n, EMBED_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def events(seed, n):
    rs = np.random.RandomState(seed + 1)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rs.exponential(30e6, size=n).astype(np.int64)
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rs.randint(0, 2000, size=n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rs.randint(0, 5, size=n)],
                               pa.string()),
        "value": pa.array(np.round(rs.lognormal(3.0, 1.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rs.randint(0, 100, size=n)],
                          pa.string()),
    })


def generate(workload, seed, out):
    import os
    os.makedirs(out, exist_ok=True)
    spec = SPECS[workload]
    docs = documents(seed, spec)
    pq.write_table(docs, f"{out}/documents.parquet")
    manifest = {"workload": workload, "seed": seed, "documents": asdict(spec),
                "n_docs": docs.num_rows}
    if workload == "session":
        pq.write_table(embeddings(seed, SESSION_VECTORS), f"{out}/embeddings.parquet")
        pq.write_table(events(seed, SESSION_EVENTS), f"{out}/events.parquet")
        manifest.update(n_vectors=SESSION_VECTORS, n_events=SESSION_EVENTS)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
