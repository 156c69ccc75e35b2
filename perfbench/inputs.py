"""Seeded input generation for the benchmark workloads.

Inputs are made once per (workload, size, seed) and cached as parquet
under ``perfbench/.cache``; the engine only ever reads the files. The
same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Crawl fixture per size: synth.gen_fixture with Zipf hosts, 35 % messy
# links, fan-out <= 5 and robots budgets of 1-10 URLs per host per round.
# Its content is fixed (CRAWL_CONTENT_SEED); the run seed permutes each
# table's row order and file split. The crawl is partition-invariant,
# so every seed does the same work, and a run's time varies only with
# the engine and the host.
CRAWL_SIZES = {
    "full": dict(n_urls=3000, n_hosts=150, n_seeds=400),
    "tiny": dict(n_urls=600, n_hosts=40, n_seeds=120),
}
CRAWL_CONTENT_SEED = 42
CRAWL_TABLES = ("corpus", "seeds", "links", "robots")

# Document corpus per size. Its content is fixed (DOCS_CONTENT_SEED);
# the run seed only permutes row order and file split, so the curated
# output must be identical for every seed.
DOCS_SIZES = {
    "full": dict(n_docs=1000, emb_frac=0.4),
    "tiny": dict(n_docs=300, emb_frac=0.4),
}
DOCS_CONTENT_SEED = 20240917

_WORDS = ("batch part spark line column order small sort fast value scan hash "
          "slow group agg filter query big key window row table stream merge "
          "data vector customer join index page crawl fetch host frontier "
          "token shard bloom round commit").split()
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _cache_dir(root: str, workload: str, size: str, seed: int) -> str:
    return os.path.join(root, ".cache", f"{workload}-{size}-{seed}")


def _prune_cache(root: str, keep: int = 48) -> None:
    base = os.path.join(root, ".cache")
    if not os.path.isdir(base):
        return
    entries = sorted((os.path.getmtime(os.path.join(base, d)), d)
                     for d in os.listdir(base))
    for _, d in entries[:-keep]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def cached(root: str, workload: str, size: str, seed: int, make) -> str:
    """Directory holding the inputs for (workload, size, seed); ``make``
    fills a fresh directory when the cache has none. A ``DONE`` marker
    makes a half-written entry (killed run) count as missing."""
    d = _cache_dir(root, workload, size, seed)
    if os.path.exists(os.path.join(d, "DONE")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write("ok\n")
    os.replace(tmp, d)
    _prune_cache(root)
    return d


def _write_shuffled(df: pd.DataFrame, out: str, rng, schema=None) -> None:
    """Write ``df`` in a seeded row order, split over 1-4 parquet files."""
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    os.makedirs(out)
    for k, idx in enumerate(np.array_split(np.arange(len(df)),
                                           int(rng.integers(1, 5)))):
        pq.write_table(pa.Table.from_pandas(df.iloc[idx], schema=schema,
                                            preserve_index=False),
                       os.path.join(out, f"part-{k:02d}.parquet"))


def make_crawl_inputs(size: str, seed: int):
    def make(out: str) -> None:
        from hyperion_crawler_spark.synth import SynthConfig, gen_fixture

        fx = gen_fixture(SynthConfig(seed=CRAWL_CONTENT_SEED, **CRAWL_SIZES[size]))
        rng = np.random.Generator(np.random.PCG64(seed))
        for name in CRAWL_TABLES:
            schema = ROBOTS_SCHEMA if name == "robots" else None
            _write_shuffled(fx[name], os.path.join(out, name), rng, schema)
    return make


# explicit list types: an all-empty prefix column would otherwise be
# inferred as list<null>
ROBOTS_SCHEMA = pa.schema([
    ("host", pa.string()),
    ("disallow_prefixes", pa.list_(pa.string())),
    ("allow_prefixes", pa.list_(pa.string())),
    ("crawl_delay_s", pa.float64()),
    ("max_per_round", pa.int32()),
])


def load_crawl_pandas(d: str) -> dict[str, pd.DataFrame]:
    """The fixture frames as the parity oracle consumes them."""
    return {name: pq.read_table(os.path.join(d, name)).to_pandas()
            for name in CRAWL_TABLES}


def _doc_corpus(n_docs: int, emb_frac: float):
    """Fixed documents + embeddings with planted exact duplicates,
    near duplicates (one appended token), short low-quality pages, PII
    and near-identical embedding pairs — so every curation stage has
    work to remove."""
    rng = np.random.Generator(np.random.PCG64(DOCS_CONTENT_SEED))
    vocab = np.array(_WORDS + _STOP)
    p = np.full(len(vocab), 1.0)
    p[len(_WORDS):] = 4.0                     # stopwords are common
    p /= p.sum()
    n_base = int(n_docs * 0.9)
    lens = np.where(rng.random(n_base) < 0.15,
                    rng.integers(6, 19, n_base),      # short: fails quality
                    rng.integers(20, 120, n_base))
    texts = []
    for i in range(n_base):
        words = list(rng.choice(vocab, size=lens[i], p=p))
        words.insert(int(rng.integers(0, len(words))), f"unique{i}")
        if rng.random() < 0.03:
            words.append(f"contact user{i}@example.com")
        texts.append(" ".join(words))
    n_extra = n_docs - n_base
    src_idx = rng.integers(0, n_base, n_extra)
    exact = rng.random(n_extra) < 0.3
    for j in range(n_extra):
        t = texts[src_idx[j]]
        texts.append(t if exact[j] else t + " trailing")
    doc_ids = rng.permutation(np.arange(10_000, 10_000 + n_docs))
    sources = [f"src{k}" for k in rng.integers(0, 12, n_docs)]
    docs = pd.DataFrame({"doc_id": doc_ids.astype("int64"),
                         "source": sources, "text": texts})

    dim, n_clusters = 64, 8
    n_emb = int(n_docs * emb_frac)
    emb_ids = rng.choice(doc_ids, size=n_emb, replace=False)
    centers = rng.normal(size=(n_clusters, dim))
    vecs = centers[rng.integers(0, n_clusters, n_emb)] \
        + 0.9 * rng.normal(size=(n_emb, dim))
    # ~8 % near-identical pairs: cosine > 0.99 with their partner
    twin = np.nonzero(rng.random(n_emb) < 0.08)[0]
    partner = rng.integers(0, n_emb, len(twin))
    vecs[twin] = vecs[partner] + 0.01 * rng.normal(size=(len(twin), dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pd.DataFrame({"doc_id": emb_ids.astype("int64"),
                         "embedding": list(vecs.astype("float32"))})
    return docs, embs


def make_docs_inputs(size: str, seed: int):
    def make(out: str) -> None:
        docs, embs = _doc_corpus(**DOCS_SIZES[size])
        rng = np.random.Generator(np.random.PCG64(seed))
        _write_shuffled(docs, os.path.join(out, "documents"), rng)
        _write_shuffled(embs, os.path.join(out, "embeddings"), rng, pa.schema(
            [("doc_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]))
    return make
