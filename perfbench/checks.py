"""Independent reference computations the benchmark checks the program
against: NumPy LSA and TextRank built from the generated words, a
from-scratch ROUGE, and DuckDB running the registry's oracle SQL. None of
them calls into the program."""
import glob
import importlib.util
import math
import os
import re
from collections import Counter

import numpy as np

from gen import FILLER


def read_sentences(path):
    """(review_id, sent_idx, sentence) rows of one product TSV, split on
    '.' like the reference (the trailing empty piece included)."""
    rows = []
    with open(path) as f:
        next(f)
        for line in f:
            cols = line.rstrip("\n").split("\t")
            for i, s in enumerate(cols[5].split(".")):
                rows.append((cols[0], i, s))
    return rows


def words(s):
    return len(s.split(" "))


def content(s):
    return [w for w in s.split() if w not in FILLER]


def lsa_reference(rows, k=5):
    """Top-k singular values of the sentence × term matrix
    tf · log10(N/df) over the sentences with at least 5 space-split
    words."""
    docs = [content(s) for _, _, s in rows if words(s) >= 5]
    docs = [d for d in docs if d]
    df = Counter(t for d in docs for t in set(d))
    col = {t: i for i, t in enumerate(df)}
    m = np.zeros((len(docs), len(df)))
    for r, d in enumerate(docs):
        for t, c in Counter(d).items():
            m[r, col[t]] = c * math.log10(len(docs) / df[t])
    return np.linalg.svd(m, compute_uv=False)[:k]


def textrank_reference(rows, iterations=5, damping=0.85, init=0.15):
    """{sentence_id: rank} of the reference TextRank: vertices are the
    sentences with 10 < space-split words < 30 and a non-empty token
    list; weight = |common distinct tokens| / (log2|a| + log2|b| + 1) with
    duplicate-keeping lengths; isolated vertices drop out; fixed damped
    iterations from 0.15."""
    ids, toks = [], []
    for rid, i, s in rows:
        if 10 < words(s) < 30:
            t = [w for w in content(s) if len(w) >= 4]
            if t:
                ids.append(f"{rid}_{i}")
                toks.append(t)
    n = len(ids)
    sets = [set(t) for t in toks]
    lens = np.log2([len(t) for t in toks])
    w = np.zeros((n, n))
    for a in range(n):
        for b in range(a + 1, n):
            c = len(sets[a] & sets[b])
            if c:
                w[a, b] = w[b, a] = c / (lens[a] + lens[b] + 1.0)
    keep = w.sum(axis=1) > 0
    w = w[keep][:, keep]
    ids = [x for x, k in zip(ids, keep) if k]
    norm = w / w.sum(axis=1, keepdims=True)
    r = np.full(len(ids), init)
    for _ in range(iterations):
        r = init + damping * (norm.T @ r)
    return dict(zip(ids, r))


def top_k_matches(program, reference, k=5, tol=1e-6):
    """True when the program's top-k (id, rank) rows are the reference's
    top-k: every rank agrees within tol, and no id outside the program's
    list ranks above its k-th rank by more than tol."""
    if len(program) != min(k, len(reference)):
        return False
    for pid, rank in program:
        if pid not in reference or abs(reference[pid] - rank) > tol:
            return False
    kth = min(rank for _, rank in program)
    chosen = {pid for pid, _ in program}
    return all(r <= kth + tol for x, r in reference.items() if x not in chosen)


def rouge_tokens(text):
    return re.findall(r"[a-z0-9]+", text.lower())


def _prf(overlap, n_sys, n_ref):
    p = overlap / max(n_sys, 1)
    r = overlap / max(n_ref, 1)
    return p, r, (0.0 if p + r == 0 else 2 * p * r / (p + r))


def rouge_n(system, reference, n):
    def grams(t):
        return Counter(tuple(t[i:i + n]) for i in range(len(t) - n + 1))
    s, r = grams(rouge_tokens(system)), grams(rouge_tokens(reference))
    return _prf(sum((s & r).values()), sum(s.values()), sum(r.values()))


def rouge_l(system, reference):
    a, b = rouge_tokens(system), rouge_tokens(reference)
    table = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(len(a)):
        for j in range(len(b)):
            table[i + 1][j + 1] = (table[i][j] + 1 if a[i] == b[j]
                                   else max(table[i][j + 1], table[i + 1][j]))
    return _prf(table[len(a)][len(b)], len(a), len(b))


def registry_oracle(root, table_dir, queries):
    """Runs each query's oracle SQL in DuckDB over the generated tables and
    compares it with the program's parquet output, using the driver-parity
    comparator of `tools/check_oracle.py` (loaded read-only). Returns the
    mismatches."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)
    con = duckdb.connect()
    con.sql("SET threads=2")
    for f in glob.glob(os.path.join(table_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    errs = []
    for q in queries:
        files = sorted(glob.glob(os.path.join(q["dir"], "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        err = oracle.compare(q["name"], got, con.sql(q["oracle"]).df())
        if err:
            errs.append(f"{q['name']} vs DuckDB oracle: {err}")
    return errs
