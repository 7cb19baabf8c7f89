"""Measures the shape of an sf-N curation corpus, the figures the `curate`
workload's generator (Gen.corpus) is set from:

    python3 perfbench/sf01_shape.py <dir holding documents.parquet and embeddings.parquet>

Prints the doc and embedding counts, the vocabulary, the word-count
distribution, the language and source shares, the exact, near and span
duplicate shares, and the embeddings' norm and cluster figures. Needs pyarrow
and numpy; the benchmark itself does not run it.
"""
import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq

SPAN_K = 25  # words a span duplicate shares with an earlier, unrelated doc


def main(d):
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
    emb = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
    n = len(docs)
    texts = list(docs.text)
    words = [t.split() for t in texts]
    vocab = collections.Counter(w for ws in words for w in ws)
    print(f"docs {n}, embeddings {len(emb)} ({len(emb) / n:.2f} per doc)")
    print(f"vocabulary {len(vocab)}: least/most used word {min(vocab.values())}/{max(vocab.values())} times;",
          " ".join(sorted(vocab)))

    first = {}
    exact = 0
    for i, t in enumerate(texts):
        if t in first:
            exact += 1
        else:
            first[t] = i
    near = [t.endswith(" dup") for t in texts]
    print(f"exact duplicates (text of an earlier doc) {exact} ({exact / n:.4f})")
    based = sum(nd and t[:-4] in first for t, nd in zip(texts, near))
    print(f"near duplicates (a doc's text + ' dup') {sum(near)} ({sum(near) / n:.4f}),",
          f"{based} with their base doc in the corpus")

    plain = [len(ws) for ws, nd in zip(words, near) if not nd]
    print(f"words per plain doc: min {min(plain)}, max {max(plain)},",
          "quintile counts", np.histogram(plain, bins=5)[0].tolist())

    # a span duplicate shares SPAN_K consecutive words with an earlier doc
    # that is not its exact or near twin
    key = [t[:-4] if nd else t for t, nd in zip(texts, near)]
    seen, span = {}, 0
    for i, ws in enumerate(words):
        grams = [tuple(ws[j:j + SPAN_K]) for j in range(len(ws) - SPAN_K + 1)]
        span += any(g in seen and key[seen[g]] != key[i] for g in grams)
        for g in grams:
            seen.setdefault(g, i)
    print(f"span duplicates ({SPAN_K} shared words) {span} ({span / n:.4f})")

    print("languages", {k: round(v / n, 3) for k, v in collections.Counter(docs.lang).most_common()})
    src = collections.Counter(docs.source)
    print(f"sources {len(src)}, docs per source {min(src.values())}-{max(src.values())}")

    x = np.stack(emb.embedding.values)
    labels = emb.label.values
    centers = np.stack([x[labels == k].mean(0) for k in sorted(set(labels))])
    print(f"embedding dim {x.shape[1]}, median norm {np.median(np.linalg.norm(x, axis=1)):.3f},",
          f"labels {len(centers)} of {min(collections.Counter(labels).values())}-"
          f"{max(collections.Counter(labels).values())} vectors,",
          f"mean label-center norm {np.linalg.norm(centers, axis=1).mean():.3f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
