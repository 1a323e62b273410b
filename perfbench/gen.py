"""Seeded input generators for the benchmark.

Review corpora are written as one TSV per product in the reference's
6-column format (review_id, product_title, star_rating, vine,
verified_purchase, review_body) with a header row. Content words come
from a synthetic vocabulary (consonant-vowel syllables ending in `o` or
`u`) that the program's tokenizer, NLTK stopword list, length filters and
lemmatizer all leave unchanged, so the harness knows every token the
program will see. Stopwords appear only as the FILLER words below.
"""
import os
import random

import numpy as np

FILLER = ["the", "and", "this", "was", "very", "with", "for", "but"]

# Sentence lengths in content words. Short sentences carry no filler and
# stay under TextRank's exclusive 10..30 space-split word band while
# passing LSA's 5-word floor; long ones, filler included, stay inside the
# band (at most LONG_CAP words, plus the leading empty field a sentence
# after '. ' splits into).
SHORT = (5, 6)
LONG = (12, 18)
LONG_CAP = 26


def vocabulary(rng, n):
    cons, vows, ends = "bdfgkptvz", "aou", "ou"
    seen, out = set(), []
    while len(out) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(2))
        w += rng.choice(cons) + rng.choice(ends)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_weights(n):
    w = 1.0 / np.arange(1, n + 1) ** 0.8
    return w / w.sum()


def sentence(rng, nprng, words, weights):
    long = rng.random() < 0.5
    n = rng.randint(*(LONG if long else SHORT))
    out = []
    for i in nprng.choice(len(words), size=n, p=weights):
        out.append(words[i])
        if long and len(out) < LONG_CAP - n and rng.random() < 0.2:
            out.append(rng.choice(FILLER))
    return " ".join(out)


def write_product(path, pid, reviews):
    with open(path, "w") as f:
        f.write("review_id\tproduct_title\tstar_rating\tvine\tverified_purchase\treview_body\n")
        for i, body in enumerate(reviews):
            f.write(f"R{pid}x{i:05d}\tproduct {pid}\t{1 + i % 5}\tN\tY\t{body}\n")


def review_bodies(rng, nprng, n_reviews, sents_per_review, pick_topic, topics, weights):
    out = []
    for _ in range(n_reviews):
        ss = []
        for _ in range(sents_per_review):
            t = pick_topic()
            ss.append(sentence(rng, nprng, topics[t], weights[t]))
        out.append(". ".join(ss) + ".")
    return out


def bulk_product(out_dir, seed, reviews=120, sents=6, masses=(30, 22, 17, 13, 10, 8),
                 topic_words=24):
    """One product; each sentence is drawn from one of several planted
    topics with disjoint vocabularies and distinct masses. Returns the
    topic vocabularies."""
    rng, nprng = random.Random(seed), np.random.default_rng(seed)
    vocab = vocabulary(rng, topic_words * len(masses))
    topics = [vocab[i * topic_words:(i + 1) * topic_words] for i in range(len(masses))]
    w = zipf_weights(topic_words)
    p = np.array(masses, dtype=float) / sum(masses)
    bodies = review_bodies(rng, nprng, reviews, sents,
                           lambda: int(nprng.choice(len(masses), p=p)),
                           topics, [w] * len(topics))
    os.makedirs(out_dir, exist_ok=True)
    write_product(os.path.join(out_dir, "bulk0001.txt"), "bulk0001", bodies)
    return topics


def catalog(out_dir, seed, products=72, reviews=10, sents=5, topic_words=20):
    """Many small products, one topic vocabulary per product."""
    rng, nprng = random.Random(seed), np.random.default_rng(seed)
    vocab = vocabulary(rng, topic_words * products)
    w = zipf_weights(topic_words)
    os.makedirs(out_dir, exist_ok=True)
    for k in range(products):
        pid = f"prod{k:04d}"
        words = vocab[k * topic_words:(k + 1) * topic_words]
        bodies = review_bodies(rng, nprng, reviews, sents, lambda: 0, [words], [w])
        write_product(os.path.join(out_dir, pid + ".txt"), pid, bodies)


DOC_WORDS = ["scan", "column", "window", "order", "sort", "part", "agg", "value",
             "line", "key", "join", "merge", "query", "group", "a", "vector", "hash",
             "slow", "stream", "filter", "fast", "batch", "the", "spark", "table",
             "small", "data", "big", "customer", "row"]
DOC_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def documents(out_dir, seed, n=500):
    """The registry's `documents` table (doc_id, text, lang, source,
    n_chars) in the shape of its sf0.001 fixture: 500 rows of 10 to 99
    words drawn uniformly from a 30-word vocabulary that includes the
    BM25 query terms, 20 sources. Written as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 99)))
             for _ in range(n)]
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(DOC_LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
