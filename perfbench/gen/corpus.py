"""Seeded replicated text corpus with planted exact and near copies.

A base set of documents is drawn from a Zipf-weighted vocabulary; the
corpus is that base replicated with shifted doc_ids, where each replica
document is, by seeded choice, fresh text, an exact copy of its base
document, or a near copy (one or two words replaced or inserted). A few
fixed boilerplate passages are shared between documents so the
test-set decontamination stage has overlapping 5-grams to find. Short
documents and stopword-heavy documents are mixed in for the quality
filter, and five language tags for the language filter.

Writes documents.parquet (doc_id, text, lang, source, n_chars) in the
layout of the program's documents table: DOCS base documents times
REPLICAS (one input size for the workload).

    python3 perfbench/gen/corpus.py --seed 7 --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
BOILERPLATE = [
    "all rights reserved by the original authors and contributors",
    "this page was generated automatically from the source archive",
    "subscribe now for weekly updates delivered straight to your inbox",
    "terms of service apply to every download from this mirror site",
]
DOCS, REPLICAS = 2500, 3
EXACT_SHARE = 0.12
NEAR_SHARE = 0.12


def vocabulary(rnd, n=3000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rnd.integers(3, 10))
        words.add("".join(rnd.choice(letters, k)))
    return sorted(words)


def generate(seed, out):
    docs, replicas = DOCS, REPLICAS
    rnd = np.random.default_rng(seed)
    vocab = vocabulary(rnd)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()

    def fresh():
        kind = rnd.random()
        n = int(rnd.integers(8, 19)) if kind < 0.06 else int(rnd.integers(22, 80))
        words = list(rnd.choice(vocab, n, p=zipf))
        stop_rate = 0.45 if 0.06 <= kind < 0.10 else 0.12
        for i in range(n):
            if rnd.random() < stop_rate:
                words[i] = STOPWORDS[int(rnd.integers(len(STOPWORDS)))]
        if rnd.random() < 0.05:
            at = int(rnd.integers(0, len(words)))
            words[at:at] = BOILERPLATE[int(rnd.integers(len(BOILERPLATE)))].split()
        return " ".join(words)

    def near(text):
        words = text.split(" ")
        for _ in range(int(rnd.integers(1, 3))):
            w = vocab[int(rnd.integers(len(vocab)))]
            if rnd.random() < 0.5:
                words[int(rnd.integers(len(words)))] = w
            else:
                words.insert(int(rnd.integers(len(words) + 1)), w)
        return " ".join(words)

    base = [fresh() for _ in range(docs)]
    base_lang = [LANGS[int(rnd.integers(len(LANGS)))] for _ in range(docs)]
    ids, texts, langs, sources = [], [], [], []
    for r in range(replicas):
        for i, t in enumerate(base):
            lang = base_lang[i]
            if r > 0:
                u = rnd.random()
                if u < EXACT_SHARE:
                    pass                      # exact copy, same language
                elif u < EXACT_SHARE + NEAR_SHARE:
                    t = near(t)               # near copy, same language
                else:
                    t, lang = fresh(), LANGS[int(rnd.integers(len(LANGS)))]
            ids.append(r * docs + i)
            texts.append(t)
            langs.append(lang)
            sources.append(f"src{int(rnd.integers(20))}")
    os.makedirs(out, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, f"{out}/documents.parquet")
    return len(ids)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
