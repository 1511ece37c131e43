"""Seeded input generator for the benchmark.

Writes the engine's fixture layout (`documents.parquet`,
`embeddings.parquet`) plus the serve workload's request inputs into one
directory. The same seed and parameters give byte-identical files.

Shapes follow the sf0.1 fixture: documents carry doc_id/text/lang/
source/n_chars, embeddings carry vec_id/embedding(float[64])/label with
ten labels. The text is strictly single-spaced `[a-z ]`, so DuckDB's
`\\s+` split equals the engine's `\\s*\\b\\s*` tokenizer on it.

Usage: python3 perfbench/gen.py <out_dir> <workload> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 fixture's 31 words. They take the most frequent Zipf ranks,
# so the engine's fixed SearchQuery ("spark stream window") always hits.
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup").split()

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]

# Per-workload input sizes. All inputs stay far below Spark's storage
# memory (a few MB against GiBs), so every run measures in-memory work.
PARAMS = {
    "tfidf_corpus": dict(docs=2500, vocab=20000, zipf=1.1, min_tokens=20,
                         max_tokens=160, dup_share=0.0),
    "neardup_batch": dict(docs=1000, vocab=20000, zipf=1.1, min_tokens=8,
                          max_tokens=96, dup_share=0.1),
    "serve_mixed": dict(docs=2500, vocab=20000, zipf=1.1, min_tokens=8,
                        max_tokens=96, dup_share=0.1, vectors=2000, dims=64,
                        labels=10, delta=20, requests=4000, ann_queries=512),
}


def vocabulary(rng, size):
    """The fixture words followed by distinct random [a-z] words."""
    words = list(FIXTURE_WORDS)
    seen = set(words)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < size:
        n = int(rng.integers(2, 10))
        w = "".join(letters[rng.integers(0, 26, n)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(size, s):
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return w / w.sum()


def documents(rng, p):
    """Zipf-vocabulary docs; a `dup_share` of them are near-copies of an
    earlier doc (5 % of tokens replaced; one in five copies is exact)."""
    vocab = np.array(vocabulary(rng, p["vocab"]))
    weights = zipf_weights(len(vocab), p["zipf"])
    n = p["docs"]
    lengths = rng.integers(p["min_tokens"], p["max_tokens"] + 1, n)
    is_dup = rng.random(n) < p["dup_share"]
    is_dup[0] = False
    drawn = rng.choice(len(vocab), int(lengths.sum()), p=weights)
    fresh = np.split(drawn, np.cumsum(lengths)[:-1])
    spare = iter(rng.choice(len(vocab), int(lengths.sum()), p=weights))
    token_lists = []
    for i in range(n):
        if is_dup[i]:
            src = token_lists[int(rng.integers(0, i))].copy()
            if rng.random() >= 0.2:
                for j in np.flatnonzero(rng.random(len(src)) < 0.05):
                    src[j] = next(spare)
            token_lists.append(src)
        else:
            token_lists.append(fresh[i])
    planted = int(is_dup.sum())
    texts = [" ".join(vocab[t]) for t in token_lists]
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    sources = rng.integers(0, 20, n)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i}" for i in sources], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    tokens = int(sum(len(t) for t in token_lists))
    used = len(np.unique(np.concatenate(token_lists)))
    props = dict(docs=n, tokens=tokens, vocab_size=len(vocab),
                 vocab_used=used, zipf_exponent=p["zipf"],
                 near_dup_share=round(planted / n, 4))
    return table, vocab, weights, props


def unit_rows(rng, centers, labels, noise):
    v = centers[labels] + noise * rng.standard_normal(
        (len(labels), centers.shape[1]))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def emb_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
    })


def serve_inputs(rng, p, vocab, weights, out):
    """Embeddings (ten noisy clusters on the unit sphere), the appended
    deltas, the ANN probe vectors and the lexical query stream."""
    n, d = p["vectors"], p["dims"]
    centers = rng.standard_normal((p["labels"], d))
    labels = rng.integers(0, p["labels"], n)
    vecs = unit_rows(rng, centers, labels, 1.0)
    write(emb_table(np.arange(n), vecs, labels),
          os.path.join(out, "embeddings.parquet"))
    # appended deltas: ids after the base rows, so no append touches a
    # PQ codebook seed position and none reuses an id
    writes = p["requests"] // 10 + 8
    m = writes * p["delta"]
    dl = rng.integers(0, p["labels"], m)
    write(emb_table(np.arange(n, n + m), unit_rows(rng, centers, dl, 1.0), dl),
          os.path.join(out, "deltas.parquet"))
    # ANN probes: existing vectors plus seeded noise
    src = rng.integers(0, n, p["ann_queries"])
    q = vecs[src] + 0.05 * rng.standard_normal((len(src), d))
    write(emb_table(np.arange(len(src)), q.astype(np.float32), labels[src]),
          os.path.join(out, "ann_queries.parquet"))
    # lexical queries: 1-3 Zipf-weighted terms each
    top = min(len(vocab), 2000)
    w = weights[:top] / weights[:top].sum()
    queries = [" ".join(vocab[rng.choice(top, int(rng.integers(1, 4)), p=w)])
               for _ in range(p["requests"])]
    with open(os.path.join(out, "lexical_queries.txt"), "w") as f:
        f.write("\n".join(queries) + "\n")
    return dict(vectors=n, dims=d, labels=p["labels"], delta_size=p["delta"],
                deltas=writes, ann_queries=len(src),
                lexical_queries=len(queries))


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def generate(out, workload, seed):
    p = PARAMS[workload]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(PARAMS).index(workload)])
    docs, vocab, weights, props = documents(rng, p)
    write(docs, os.path.join(out, "documents.parquet"))
    if workload == "serve_mixed":
        props.update(serve_inputs(rng, p, vocab, weights, out))
    props.update(workload=workload, seed=seed)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    return props


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))))
