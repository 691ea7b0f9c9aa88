"""Seeded input generator for the scenario benchmark.

Everything the engine reads is made here from the seed: the IMDb-shaped
gz-TSV dumps and users of the reference flow, the document corpus with
injected near-duplicates, the embedding corpus and its ANN queries, and
the lineitem-shaped base table of the snapshot-log workload. The same
seed gives byte-identical inputs.
"""
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENRES = ["Action", "Adventure", "Animation", "Biography", "Comedy", "Crime",
          "Documentary", "Drama", "Family", "Fantasy", "History", "Horror",
          "Music", "Mystery", "Romance", "Sci-Fi", "Sport", "Thriller", "War",
          "Western"]
VOCAB = ["spark", "line", "column", "order", "small", "sort", "fast", "value",
         "scan", "a", "hash", "slow", "group", "batch", "agg", "filter",
         "query", "big", "key", "window", "row", "part", "table", "stream",
         "merge", "data", "the", "customer", "join", "vector", "is", "of",
         "and", "to", "in", "it", "index", "shard", "cache", "plan", "node",
         "page", "block", "read", "write", "log", "segment", "commit"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

# Sizes, fixed per workload; the seed varies content, never shape.
SIZES = {
    "titles": 2500, "users": 300,
    "docs": 1000, "dup_rate": 0.15, "contain_rate": 0.05,
    "vectors": 1000, "dim": 64, "clusters": 16, "ann_queries": 24,
    "lineitem": 20000,
}


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def imdb(rng, out):
    n = SIZES["titles"]
    ttype = rng.choice(["movie", "tvSeries", "short"], n, p=[0.85, 0.1, 0.05])
    adult = (rng.random(n) < 0.02).astype(int)
    year = rng.integers(1950, 2025, n)
    ymiss = rng.random(n) < 0.05
    runtime = rng.integers(60, 181, n)
    basics = ["tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\t"
              "startYear\tendYear\truntimeMinutes\tgenres"]
    ratings = ["tconst\taverageRating\tnumVotes"]
    for i in range(n):
        tc = f"tt{i + 1:07d}"
        w = rng.choice(VOCAB, 2)
        title = f"The {w[0].title()} {w[1].title()} {i}"
        if rng.random() < 0.03:
            genres = "\\N"
        else:
            k = int(rng.integers(1, 4))
            genres = ",".join(sorted(rng.choice(GENRES, k, replace=False)))
        ys = "\\N" if ymiss[i] else str(year[i])
        basics.append(f"{tc}\t{ttype[i]}\t{title}\t{title}\t{adult[i]}\t{ys}"
                      f"\t\\N\t{runtime[i]}\t{genres}")
        if rng.random() < 0.9:
            rating = round(float(np.clip(rng.normal(6.6, 1.3), 1.0, 10.0)), 1)
            votes = int(5 + 2_000_000 * rng.random() ** 12)
            ratings.append(f"{tc}\t{rating}\t{votes}")
    os.makedirs(out, exist_ok=True)
    for name, lines in (("title_basics", basics), ("title_ratings", ratings)):
        with gzip.GzipFile(os.path.join(out, f"{name}.tsv.gz"), "wb",
                           mtime=0) as f:
            f.write(("\n".join(lines) + "\n").encode())
    users, prefs = [], []
    for u in range(SIZES["users"]):
        users.append(f"u{u:05d}")
        k = 0 if rng.random() < 0.1 else int(rng.integers(1, 4))
        prefs.append([str(g) for g in rng.choice(GENRES, k, replace=False)])
    _write(os.path.join(out, "users.parquet"), pa.table({
        "userId": users,
        "preferredGenres": pa.array(prefs, pa.list_(pa.string()))}))


def documents(rng, out):
    """Corpus with near-duplicates and contained copies of original docs
    injected at fixed rates: the duplicate rate sets how much work dedup
    does. Both stay inside the near-dup kernel's stated input contract
    (TextOps.lshPairs): a near-duplicate keeps word-3-shingle Jaccard
    >= 0.9 with its original (one substituted word per 60), a container
    pads its original with 12x its length so their Jaccard stays <= 0.1.
    """
    n = SIZES["docs"]
    texts, originals = [], []
    for i in range(n):
        r = rng.random()
        if originals and r < SIZES["dup_rate"]:
            base = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            subs = len(base) // 60
            if subs:
                for j in rng.choice(len(base), subs, replace=False):
                    base[j] = str(rng.choice(VOCAB))
            texts.append(" ".join(base))
        elif originals and r < SIZES["dup_rate"] + SIZES["contain_rate"]:
            base = texts[originals[int(rng.integers(0, len(originals)))]]
            pad = rng.choice(VOCAB, 12 * len(base.split(" ")))
            texts.append(base + " " + " ".join(pad))
        else:
            k = int(rng.integers(12, 140))
            words = list(rng.choice(VOCAB, k))
            if rng.random() < 0.15:
                words[int(rng.integers(0, k))] += "\n"
            if rng.random() < 0.05:
                words.append("...")
            texts.append(" ".join(words).replace("\n ", "\n"))
            originals.append(i)
    _write(os.path.join(out, "documents.parquet"), pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    return texts


def embeddings(rng, out, texts):
    n, dim, k = SIZES["vectors"], SIZES["dim"], SIZES["clusters"]
    centers = rng.normal(0, 1, (k, dim))
    cl = rng.integers(0, k, n)
    vecs = (centers[cl] + 0.35 * rng.normal(0, 1, (n, dim))).astype(np.float32)
    _write(os.path.join(out, "embeddings.parquet"), pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(cl % 10, pa.int32())}))
    q = SIZES["ann_queries"]
    src = rng.integers(0, n, q)
    qv = (vecs[src] + 0.2 * rng.normal(0, 1, (q, dim))).astype(np.float32)
    qtext = [" ".join(texts[int(s) % len(texts)].split(" ")[:6]) for s in src]
    return pa.table({
        "q_id": pa.array(1_000_000 + np.arange(q), pa.int64()),
        "q_text": qtext,
        "q_emb": pa.array(list(qv), pa.list_(pa.float32()))})


def lineitem(rng, out):
    n = SIZES["lineitem"]
    key = np.arange(n, dtype=np.int64)
    _write(os.path.join(out, "lineitem.parquet"), pa.table({
        "l_key": key,
        "l_orderkey": key // 4,
        "l_partkey": rng.integers(1, 2000, n).astype(np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.int64),
        "l_price_cents": rng.integers(100, 1_000_000, n).astype(np.int64),
        "l_flag": list(rng.choice(["A", "N", "R"], n))}))


def generate(seed, work):
    """Writes <work>/data (the engine's data directory) and
    <work>/inputs (everything the benchmark hands the engine directly)."""
    rng = np.random.default_rng(seed)
    data, inputs = os.path.join(work, "data"), os.path.join(work, "inputs")
    imdb(rng, inputs)
    texts = documents(rng, data)
    _write(os.path.join(inputs, "ann_queries.parquet"),
           embeddings(rng, data, texts))
    lineitem(rng, inputs)
