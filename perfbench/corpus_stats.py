#!/usr/bin/env python3
"""Distribution summary of a corpus directory (documents.parquet,
embeddings.parquet), to compare the benchmark's generated corpus with a
reference one. Needs pyarrow and numpy; the benchmark itself does not.

Usage: python3 perfbench/corpus_stats.py <dir> [<dir> ...]
"""

import collections
import sys

import numpy as np
import pyarrow.parquet as pq


def stats(d):
    docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
    texts, langs = docs["text"], docs["lang"]
    toks = [t.split(" ") for t in texts]
    lens = np.array([len(t) for t in toks])
    freq = collections.Counter(w for t in toks for w in t)
    total = sum(freq.values())
    shares = sorted(c / total for w, c in freq.items() if w != "dup")
    # largest over-representation of any token in any language: 1.0 when
    # the language is independent of the text
    by_lang = collections.defaultdict(collections.Counter)
    for t, l in zip(toks, langs):
        by_lang[l].update(t)
    lift = max(c[w] / sum(c.values()) / (freq[w] / total)
               for c in by_lang.values() for w in c if freq[w] >= 100)
    near = sum(t[-1] == "dup" for t in toks)
    lang = collections.Counter(langs)

    emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    v = np.array(emb["embedding"], dtype=np.float64)
    labels = np.array(emb["label"])
    c = v @ v.T
    np.fill_diagonal(c, -np.inf)
    nn = c.argmax(axis=1)
    tenth = -np.sort(-c, axis=1)[:, 9]
    eig = np.linalg.eigvalsh(np.cov(v.T))
    return [
        ("documents", len(texts)),
        ("distinct texts", len(set(texts))),
        ("tokens per doc p10/p50/p90", "/".join(str(int(x)) for x in np.percentile(lens, [10, 50, 90]))),
        ("tokens per doc min-max", f"{lens.min()}-{lens.max()}"),
        ("vocabulary (without dup)", len(freq) - ("dup" in freq)),
        ("token share min/max", f"{shares[0]:.4f}/{shares[-1]:.4f}"),
        ("docs ending in dup", f"{near / len(texts):.3f}"),
        ("lang en share", f"{lang['en'] / len(langs):.3f}"),
        ("max token lift in a lang", f"{lift:.3f}"),
        ("sources", len(set(docs["source"]))),
        ("vectors", len(v)),
        ("norm min/max", f"{np.linalg.norm(v, axis=1).min():.5f}/{np.linalg.norm(v, axis=1).max():.5f}"),
        ("component std", f"{v.std(axis=0).mean():.4f}"),
        ("label share min/max", "/".join(f"{x / len(labels):.3f}" for x in
                                         (np.bincount(labels).min(), np.bincount(labels).max()))),
        ("nn cosine median", f"{np.median(c[np.arange(len(v)), nn]):.3f}"),
        ("10th-nn cosine median", f"{np.median(tenth):.3f}"),
        ("nn shares label", f"{(labels[nn] == labels).mean():.3f}"),
        ("effective rank / dim", f"{eig.sum() ** 2 / (eig ** 2).sum():.1f}/{v.shape[1]}"),
    ]


def main():
    cols = [stats(d) for d in sys.argv[1:]]
    print("| statistic | " + " | ".join(sys.argv[1:]) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for i, (name, _) in enumerate(cols[0]):
        print(f"| {name} | " + " | ".join(str(c[i][1]) for c in cols) + " |")


if __name__ == "__main__":
    main()
