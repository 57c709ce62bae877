"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, sizes): the same seed
writes byte-identical parquet files, another seed writes different
ones. The program under test only ever sees the files written here.

- er_two_catalog: two product catalogs A and B over a Zipf-skewed
  vocabulary, with ids `a<n>` and `b<n>`; part of B are perturbed
  copies of A documents (the gold pairs); a stopword list of the most
  frequent words. Catalogs, gold pairs and stopwords are written in the
  reference's file layout that `graft.er.ErIngest` reads. Catalog A is
  also written as the query catalog's `documents` table, beside its
  other tables written empty.
- state_lifecycle: a token-array corpus for BandedIndex: a base, ingest
  batches (some near-duplicates of earlier documents), probe batches
  with fresh ids, and an erasure batch of live ids.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes used by the benchmark. Tests may pass smaller ones.
ER_SIZES = dict(n_a=2000, n_b=2000, vocab=30000, zipf_s=1.05,
                n_stop=100, dup_rate=0.3, drop_p=0.15, replace_p=0.10,
                min_len=8, max_len=60)
STATE_SIZES = dict(n_base=2000, batches=2, batch_docs=300, probe_docs=150,
                   delete_docs=150, vocab=5000, zipf_s=1.0, near_dup_rate=0.3,
                   drop_p=0.1, min_len=20, max_len=60)

_CONS = "bcdfghjklmnprstvwxyz"
_VOW = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOW]  # 100 syllables


def _word(i):
    """The i-th pseudo-word: 2 syllables below 10000, 3 above, so every
    index maps to a distinct lowercase ASCII word."""
    w = _SYL[i % 100] + _SYL[(i // 100) % 100]
    return w + _SYL[i // 10000] if i >= 10000 else w


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _zipf_vocab(rng, n, s):
    """(words ordered by falling frequency, cumulative Zipf(s)
    probabilities). The seed decides which word gets which rank."""
    words = np.array([_word(i) for i in range(n)], dtype=object)
    cdf = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** s)
    return words[rng.permutation(n)], cdf / cdf[-1]


def _draw(rng, words, cdf, size=None):
    idx = np.minimum(np.searchsorted(cdf, rng.random(size)), len(words) - 1)
    return words[idx]


def _perturb(rng, toks, words, cdf, drop_p, replace_p):
    """A near-duplicate of `toks`: drop and replace a few tokens, insert
    one or two; always differs from the source as a token multiset."""
    while True:
        out = []
        for t in toks:
            u = rng.random()
            if u < drop_p:
                continue
            out.append(_draw(rng, words, cdf)
                       if u < drop_p + replace_p else t)
        for _ in range(rng.integers(1, 3)):
            out.insert(int(rng.integers(0, len(out) + 1)),
                       _draw(rng, words, cdf))
        if sorted(out) != sorted(toks):
            return out


def _render(rng, toks):
    """Product-title style text: random capitalisation and separators,
    so tokenization (lower-case, split on non-word runs) has work."""
    parts = []
    for i, t in enumerate(toks):
        if rng.random() < 0.2:
            t = t.capitalize()
        if i:
            parts.append(", " if rng.random() < 0.1 else
                         " - " if rng.random() < 0.05 else " ")
        parts.append(t)
    return "".join(parts)


def _write_catalog(path, prefix, texts):
    """A product catalog in the reference's line layout, which
    `graft.er.ErIngest` parses: a header, then one
    `"id","title","description","manufacturer","price"` line per
    product, the whole text in the title (it never holds a quote)."""
    with open(path, "w") as f:
        f.write('"id","title","description","manufacturer","price"\n')
        f.writelines(f'"{prefix}{i}","{t}","","","0"\n' for i, t in enumerate(texts))


def _docs(rng, n, words, cdf, lo, hi):
    lens = rng.integers(lo, hi + 1, size=n)
    flat = _draw(rng, words, cdf, int(lens.sum())).tolist()
    ends = np.cumsum(lens).tolist()
    return [flat[e - ln:e] for e, ln in zip(ends, lens.tolist())]


def gen_er(out_dir, seed, sizes=None):
    z = dict(ER_SIZES, **(sizes or {}))
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    words, cdf = _zipf_vocab(rng, z["vocab"], z["zipf_s"])
    stop = sorted(words[:z["n_stop"]])
    a = _docs(rng, z["n_a"], words, cdf, z["min_len"], z["max_len"])
    n_dup = int(z["n_b"] * z["dup_rate"])
    b = _docs(rng, z["n_b"] - n_dup, words, cdf, z["min_len"], z["max_len"])
    src = rng.choice(z["n_a"], size=n_dup, replace=False)
    b += [_perturb(rng, a[i], words, cdf, z["drop_p"], z["replace_p"])
          for i in src]
    order = rng.permutation(z["n_b"])  # copies land at random B ids
    b = [b[i] for i in order]
    pos = np.empty(z["n_b"], dtype=np.int64)
    pos[order] = np.arange(z["n_b"])
    gold_b = pos[np.arange(z["n_b"] - n_dup, z["n_b"])]
    gold = sorted(zip(src.tolist(), gold_b.tolist()))
    os.makedirs(out_dir, exist_ok=True)
    a_text = [_render(rng, t) for t in a]
    _write_catalog(f"{out_dir}/a.csv", "a", a_text)
    _write_catalog(f"{out_dir}/b.csv", "b", [_render(rng, t) for t in b])
    with open(f"{out_dir}/gold.csv", "w") as f:
        f.write('"idAmazon","idGoogleBase"\n')
        f.writelines(f'"a{i}","b{j}"\n' for i, j in gold)
    with open(f"{out_dir}/stopwords.txt", "w") as f:
        f.write("\n".join(stop) + "\n")
    # catalog A as the query catalog's `documents` table, for its ER query
    _write(pa.table({"doc_id": pa.array(range(z["n_a"]), pa.int64()),
                     "text": a_text, "lang": ["en"] * z["n_a"], "source": ["a"] * z["n_a"],
                     "n_chars": pa.array([len(t) for t in a_text], pa.int64())}),
           f"{out_dir}/documents.parquet")
    for name, cols in _CATALOG_SCHEMAS.items():
        _write(pa.schema(cols).empty_table(), f"{out_dir}/{name}.parquet")
    return {"docs_a": z["n_a"], "docs_b": z["n_b"], "gold_pairs": len(gold),
            "vocab": z["vocab"], "zipf_s": z["zipf_s"],
            "stopwords": z["n_stop"], "dup_rate": z["dup_rate"],
            "drop_p": z["drop_p"], "replace_p": z["replace_p"],
            "tokens_per_doc": [z["min_len"], z["max_len"]]}


def gen_state(out_dir, seed, sizes=None):
    z = dict(STATE_SIZES, **(sizes or {}))
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    words, cdf = _zipf_vocab(rng, z["vocab"], z["zipf_s"])
    os.makedirs(out_dir, exist_ok=True)
    corpus = []  # every document ever ingested, for near-dup sources
    next_id = [0]

    def batch(n, name):
        docs = _docs(rng, n, words, cdf, z["min_len"], z["max_len"])
        if corpus:
            k = int(n * z["near_dup_rate"])
            for j in range(k):
                src = corpus[int(rng.integers(0, len(corpus)))]
                docs[j] = _perturb(rng, src, words, cdf, z["drop_p"], 0.0)
        ids = list(range(next_id[0], next_id[0] + n))
        next_id[0] += n
        _write(pa.table({"id": pa.array(ids, pa.int64()),
                         "tokens": pa.array(docs, pa.list_(pa.string()))}),
               f"{out_dir}/{name}.parquet")
        return ids, docs

    base_ids, base = batch(z["n_base"], "base")
    corpus += base
    live = list(base_ids)
    for i in range(z["batches"]):
        ids, docs = batch(z["batch_docs"], f"batch_{i}")
        corpus += docs
        live += ids
        batch(z["probe_docs"], f"probe_{i}")  # fresh ids, never ingested
    victims = sorted(rng.choice(live, size=z["delete_docs"],
                                replace=False).tolist())
    _write(pa.table({"id": pa.array(victims, pa.int64())}),
           f"{out_dir}/delete.parquet")
    return {"base_docs": z["n_base"], "batches": z["batches"],
            "batch_docs": z["batch_docs"], "probe_docs": z["probe_docs"],
            "delete_docs": z["delete_docs"], "vocab": z["vocab"],
            "zipf_s": z["zipf_s"], "near_dup_rate": z["near_dup_rate"],
            "drop_p": z["drop_p"],
            "tokens_per_doc": [z["min_len"], z["max_len"]]}


# The other tables of the query catalog (TESTDATA.md). The catalog's
# oracle script opens all ten, so er_two_catalog writes them empty.
_CATALOG_SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


GENERATORS = {"er_two_catalog": gen_er, "state_lifecycle": gen_state}
