"""Seeded input generators. The same seed gives the same inputs.

Two corpora:

* ``zipf_docs`` — the synthetic ``t<id>`` corpus of the repo's WAND tools,
  generated inside Spark, with term ids skewed by ``floor(vocab * u**3)``.
  The hash is salted with the seed and kept at 31 bits, so term ids are
  not limited to the 100,000 levels of the tools' ``pmod(…, 100000)``.
* ``text_corpus`` — English-like text over a pseudo-word vocabulary with
  Zipf(1.1) word frequencies, generated in NumPy. Used where the pipeline
  needs prose (tokenize, shingles) rather than term ids.

Queries are drawn from document frequencies by band (``df_bands``), never
from term-id arithmetic: an id-formula query can name terms the corpus
never emitted, which silently measures the no-match floor.
"""

from __future__ import annotations

import numpy as np

_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo ga ge go ka ke ki ko ku la le "
    "li lo lu ma me mi mo mu na ne ni no nu pa pe pi po ra re ri ro ru sa se "
    "si so su ta te ti to tu va ve vi vo za ze zo"
).split()

NO_MATCH_PREFIX = "zznomatch"


def zipf_docs(spark, seed: int, n_docs: int, vocab: int, dl: int, partitions: int):
    """(doc_id, text) with ``dl`` tokens ``t<id>`` per doc."""
    from pyspark.sql import functions as F

    u = (
        f"pmod(xxhash64(concat(cast(id as string), ':', cast(i as string), ':{seed}')),"
        " 2147483647) / 2147483647.0"
    )
    tok = f"concat('t', cast(floor({vocab} * pow({u}, 3.0)) as long))"
    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .withColumn("text", F.expr(f"concat_ws(' ', transform(sequence(1, {dl}), i -> {tok}))"))
        .select(F.col("id").alias("doc_id"), "text")
    )


def vocabulary(size: int) -> list[str]:
    """Distinct pseudo-words, fixed for a given size (seed-independent)."""
    rng = np.random.default_rng(12345)
    words, seen = [], set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def text_corpus(seed: int, n_docs: int, vocab_size: int, min_len: int, max_len: int,
                dup_share: float = 0.0):
    """Returns (rows, planted) where rows is [(doc_id, text)] and planted
    the exact-duplicate pairs (a, b), a < b, made by copying a random
    earlier doc into ``dup_share`` of the slots."""
    rng = np.random.default_rng(seed)
    words = np.array(vocabulary(vocab_size))
    p = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    p /= p.sum()
    lens = rng.integers(min_len, max_len + 1, n_docs)
    flat = rng.choice(vocab_size, size=int(lens.sum()), p=p)
    rows, planted, pos = [], [], 0
    for d in range(n_docs):
        text = " ".join(words[flat[pos:pos + lens[d]]])
        pos += lens[d]
        if d > 0 and rng.random() < dup_share:
            src = int(rng.integers(0, d))
            text = rows[src][1]
            planted.append((src, d))
        rows.append((d, text))
    return rows, planted


def df_bands(terms, dfs) -> dict[str, list[str]]:
    """Split a vocabulary by document frequency into rare / mid / head bands
    (terms sorted by (df, term), so the split is deterministic)."""
    order = sorted(zip(dfs, terms))
    n = len(order)
    cut = lambda lo, hi: [t for _, t in order[int(n * lo):int(n * hi)]]  # noqa: E731
    head = max(int(n * 0.005), 8)
    return {
        "rare": cut(0.0, 0.25),
        "mid": cut(0.40, 0.90),
        "head": [t for _, t in order[n - head:]],
    }


def band_queries(rng: np.random.Generator, bands: dict[str, list[str]], mix: dict[str, int],
                 terms_per_query: int = 4) -> list[tuple[str, str]]:
    """[(band, question)] with ``mix[band]`` queries per band; band
    ``none`` gives no-match queries made of terms absent from any corpus."""
    out = []
    for band, n in mix.items():
        for i in range(n):
            if band == "none":
                q = " ".join(f"{NO_MATCH_PREFIX}{i}x{j}" for j in range(2))
            else:
                pool = bands[band]
                q = " ".join(pool[j] for j in rng.choice(len(pool), terms_per_query, replace=False))
            out.append((band, q))
    return out


def embeddings(seed: int, n: int, dim: int, n_clusters: int):
    """Clustered float vectors (so IVF lists are meaningful)."""
    rng = np.random.default_rng(seed + 7)
    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n)
    return centers[labels] + 0.35 * rng.normal(size=(n, dim))
