"""Seeded fixture generator for the benchmark, with planted truths.

Every corpus is gz-JSONL with ASCII, space-separated lower-case tokens, so
UAX-29 tokenization equals a whitespace split and DuckDB can recount every
truth the engine is checked against.

Text shape follows a Zipf background (rank = floor(V ** u), the s~1 CDF
inversion) mixed with bursty per-document topic words: 30% of positions
draw from the document's 8-word topic set. The 8 head ranks are the Gopher
stopwords, so real quality gates pass regular documents.

Planted truths (kept by the generator's own bookkeeping, never by the
engine):
  * canary phrases with known document counts (tokens contain `x`, which
    no vocabulary word does);
  * exact duplicates and benchmark-contaminated documents per ingest batch,
    hence the survivor count of each batch;
  * short documents every Gopher gate rejects (fewer than 50 words);
  * vectors whose exact nearest neighbours are computed by brute force.

Output is byte-identical for one (workload, seed, size): gzip members carry
mtime 0 and no file name.
"""

import gzip
import io
import json
import os
from collections import Counter

import numpy as np

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
# stopwords every common Gopher stopword list shares; each regular
# document carries at least two of them
CORE_STOPWORDS = ["the", "to", "of", "and", "that"]
_CORE_RANKS = np.array([1 + STOPWORDS.index(w) for w in CORE_STOPWORDS])
_CONS = "bcdfghjklmnprstvw"
_VOWS = "aeiou"
_SYLL = [c + v for c in _CONS for v in _VOWS]  # 85 syllables, never an x

V = 20000          # background vocabulary ranks
TOPIC_WORDS = 8
TOPIC_FRAC = 0.3
MIN_WORDS, MAX_WORDS = 60, 140


def word(i):
    """Vocabulary word i (i >= 0): three or more syllables, unique per i."""
    n = i + len(_SYLL) ** 2
    out = []
    while n:
        n, r = divmod(n, len(_SYLL))
        out.append(_SYLL[r])
    return "".join(reversed(out))


def canary(i):
    """A 3-token phrase no generated document contains unless planted."""
    a = _SYLL[i % len(_SYLL)]
    return f"x{a}ka x{a}lo x{a}mu"


class Vocab:
    """Rank -> word strings: ranks 1..8 are stopwords, topics follow V."""

    def __init__(self, n_topics):
        self.n_topics = n_topics
        words = [""] + STOPWORDS + [word(r) for r in range(9, V)]
        words += [word(V + j) for j in range(n_topics * TOPIC_WORDS)]
        self.words = np.array(words, dtype=object)

    def topic_word(self, t, j):
        return V + t * TOPIC_WORDS + j


def gen_token_ids(rng, vocab, n_docs):
    """A list of int arrays: one array of word ids per document."""
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    total = int(lens.sum())
    ranks = np.floor(np.power(float(V), rng.random(total))).astype(np.int64)
    ranks = np.clip(ranks, 1, V - 1)
    topics = rng.integers(0, vocab.n_topics, size=n_docs)
    doc_of = np.repeat(np.arange(n_docs), lens)
    topical = rng.random(total) < TOPIC_FRAC
    tw = V + topics[doc_of] * TOPIC_WORDS + rng.integers(0, TOPIC_WORDS, size=total)
    ids = np.where(topical, tw, ranks)
    docs = np.split(ids, np.cumsum(lens)[:-1])
    # every regular document carries at least two core stopwords (Gopher)
    for d in docs:
        if np.count_nonzero(np.isin(d, _CORE_RANKS)) < 2:
            pos = rng.choice(len(d), size=2, replace=False)
            d[pos] = rng.choice(_CORE_RANKS, size=2)
    return docs


# Gopher quality rules (Rae et al. 2021, appendix A1.1) at their published
# thresholds; repetition signals are char fractions over space-split tokens
TOP_GRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_GRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
GOPHER_MARGIN = 0.01


def gopher_ok(text):
    """True when `text` passes every Gopher rule with GOPHER_MARGIN to
    spare (single-line documents, so the duplicate-line rules hold)."""
    toks = text.split(" ")
    n, chars = len(toks), len(text)
    if not 50 <= n <= 100000 or not 3 <= chars / n <= 10:
        return False
    if sum(any(c.isalpha() for c in t) for t in toks) < 0.8 * n:
        return False
    if sum(t in CORE_STOPWORDS for t in toks) < 2:
        return False
    for k in range(2, 11):
        grams = Counter(zip(*[toks[i:] for i in range(k)]))
        if k in TOP_GRAM_MAX:
            g, c = max(grams.items(), key=lambda x: x[1])
            frac = c * (sum(map(len, g)) + k - 1) / chars
            limit = TOP_GRAM_MAX[k]
        else:
            frac = sum(c * (sum(map(len, g)) + k - 1) for g, c in grams.items() if c > 1) / chars
            limit = DUP_GRAM_MAX[k]
        if frac > limit - GOPHER_MARGIN:
            return False
    return True


def gen_passing_texts(rng, vocab, n_docs):
    """Regular documents that all pass the Gopher gate (failures redrawn)."""
    texts = texts_of(vocab, gen_token_ids(rng, vocab, n_docs))
    for i, t in enumerate(texts):
        while not gopher_ok(t):
            t = texts_of(vocab, gen_token_ids(rng, vocab, 1))[0]
        texts[i] = t
    return texts


def texts_of(vocab, docs):
    return [" ".join(vocab.words[d]) for d in docs]


def plant(rng, texts, phrase, n):
    """Insert `phrase` once into n distinct documents; returns their rows."""
    rows = rng.choice(len(texts), size=n, replace=False)
    for r in rows:
        toks = texts[r].split(" ")
        at = int(rng.integers(0, len(toks) + 1))
        texts[r] = " ".join(toks[:at] + [phrase] + toks[at:])
    return [int(r) for r in rows]


def short_text(rng, vocab):
    """A document below every Gopher word floor (10-30 words)."""
    n = int(rng.integers(10, 31))
    ids = np.concatenate([[1, 4], rng.integers(9, 2000, size=n - 2)])
    return " ".join(vocab.words[ids])


def write_shards(path_dir, records, n_shards, prefix="part"):
    """Round-robin JSON records into n gz-JSONL shards; returns gz bytes."""
    os.makedirs(path_dir, exist_ok=True)
    total = 0
    for s in range(n_shards):
        buf = io.BytesIO()
        with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0,
                           compresslevel=6) as gz:
            for rec in records[s::n_shards]:
                gz.write((json.dumps(rec, separators=(",", ":")) + "\n").encode())
        data = buf.getvalue()
        with open(os.path.join(path_dir, f"{prefix}-{s:03d}.jsonl.gz"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def _records(texts, id_prefix):
    return [{"id": f"{id_prefix}{i:07d}", "text": t}
            for i, t in enumerate(texts)]


# ---------------------------------------------------------------- workloads

SIZES = {
    "scan_count": {"docs": 8000, "shards": 16},
    "ingest_follow": {"seed_docs": 600, "batch_docs": 1500, "batches": 5,
                      "shards_per_batch": 4, "bench_docs": 100,
                      "late_docs": 300, "vectors": 500, "dim": 32,
                      "vec_queries": 8},
}

SCAN_CANARY_DOCS = [3, 17, 59, 211]
# read-after-write lookups of each kind (phrase, BM25, kNN) per batch
LOOKUPS_PER_KIND = 1


def gen_scan_count(out, seed):
    cfg = SIZES["scan_count"]
    rng = np.random.default_rng([seed, 1])
    vocab = Vocab(max(1, cfg["docs"] // 50))
    texts = texts_of(vocab, gen_token_ids(rng, vocab, cfg["docs"]))
    canaries = {}
    for i, n in enumerate(SCAN_CANARY_DOCS):
        canaries[canary(i)] = len(plant(rng, texts, canary(i), n))
    in_bytes = write_shards(os.path.join(out, "shards"), _records(texts, "s"),
                            cfg["shards"])
    # count battery: 6 head phrases, 6 tail phrases, 4 planted canaries
    w = vocab.words
    tail = rng.integers(V // 4, V - 1, size=3)
    t = rng.integers(0, vocab.n_topics, size=3)
    phrases = (["the", "of", "and", "with", "of the", "to the"]
               + [w[r] for r in tail]
               + [f"{w[vocab.topic_word(x, 0)]} {w[vocab.topic_word(x, 1)]}" for x in t]
               + list(canaries))
    spec = {"shards": os.path.join(out, "shards"), "n_docs": cfg["docs"],
            "input_bytes": in_bytes, "phrases": phrases}
    return spec, {"canary_docs": canaries}


def gen_vectors(rng, n, dim, n_queries, n_clusters=40):
    """Clustered unit vectors; exact top-10 neighbours by brute force."""
    centers = rng.normal(size=(n_clusters, dim))
    lab = rng.integers(0, n_clusters, size=n)
    x = centers[lab] + 0.35 * rng.normal(size=(n, dim))
    q = centers[rng.integers(0, n_clusters, size=n_queries)] \
        + 0.35 * rng.normal(size=(n_queries, dim))
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qn @ xn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    return x, q, top


def write_vectors(path, ids, x):
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pa.table({"id": pa.array(ids, pa.string()),
                  "emb": pa.array([list(map(float, r)) for r in x],
                                  pa.list_(pa.float64()))})
    pq.write_table(t, path, compression="snappy")


def gen_ingest_follow(out, seed):
    """A seed batch plus `batches` drop batches. Each batch: 20% exact
    duplicates (of this batch's or earlier batches' admitted texts), 2%
    benchmark-contaminated texts, 3% short (quality-rejected) texts and a
    per-batch canary planted in admitted originals. Each batch also names
    its read-after-write lookups: its own and the previous batch's canary
    phrases, BM25 queries (topic word, mid-rank word, every other one a
    stopword) and kNN queries (texts of originals nobody copied). Clustered
    parquet vectors with brute-force neighbours serve the exhaustive kNN
    check."""
    cfg = SIZES["ingest_follow"]
    rng = np.random.default_rng([seed, 3])
    n_all = cfg["seed_docs"] + cfg["batches"] * cfg["batch_docs"]
    vocab = Vocab(max(1, n_all // 50))
    bench_texts = gen_passing_texts(rng, vocab, cfg["bench_docs"])
    bench_bytes = write_shards(os.path.join(out, "bench"),
                               _records(bench_texts, "b"), 1)
    admitted = []      # texts admitted so far (the dedup state)
    reserved = set()   # kNN probe texts: never copied, so they stay unique
    batches = []
    next_id = 0
    in_bytes = 0
    for b in range(cfg["batches"] + 1):
        n = cfg["seed_docs"] if b == 0 else cfg["batch_docs"]
        n_dup, n_con, n_short = int(n * 0.20), int(n * 0.02), int(n * 0.03)
        n_orig = n - n_dup - n_con - n_short
        orig = gen_passing_texts(rng, vocab, n_orig)
        can = canary(100 + b)
        can_rows = plant(rng, orig, can, 5 + 3 * b)
        # duplicates: half copy this batch's originals, half earlier batches'
        pool_now = list(orig)
        pool_old = [t for t in admitted if t not in reserved]
        dups = []
        for i in range(n_dup):
            src = pool_old if (pool_old and i % 2) else pool_now
            dups.append(src[int(rng.integers(0, len(src)))])
        cons = [bench_texts[int(r)] for r in rng.integers(0, len(bench_texts), n_con)]
        shorts = [short_text(rng, vocab) for _ in range(n_short)]
        kinds = (["orig"] * n_orig + ["dup"] * n_dup + ["con"] * n_con
                 + ["short"] * n_short)
        texts = orig + dups + cons + shorts
        perm = rng.permutation(len(texts))
        texts = [texts[i] for i in perm]
        kinds = [kinds[i] for i in perm]
        ids = [f"g{next_id + i:07d}" for i in range(len(texts))]
        next_id += len(texts)
        recs = [{"id": i, "text": t} for i, t in zip(ids, texts)]
        d = os.path.join(out, "batches", f"b{b:02d}")
        in_bytes_b = write_shards(d, recs, cfg["shards_per_batch"], prefix=f"b{b:02d}")
        in_bytes += in_bytes_b
        dup_set = set(dups)
        # kNN read-after-write probes: originals that were never copied
        uniq = [i for i, (t, k) in enumerate(zip(texts, kinds))
                if k == "orig" and t not in dup_set]
        knn = [{"text": texts[i], "id": ids[i]}
               for i in rng.choice(uniq, size=LOOKUPS_PER_KIND, replace=False)]
        reserved.update(k["text"] for k in knn)
        bm25 = []
        for j in range(LOOKUPS_PER_KIND):
            x = int(rng.integers(0, vocab.n_topics))
            q = [str(vocab.words[vocab.topic_word(x, int(rng.integers(0, TOPIC_WORDS)))]),
                 str(vocab.words[int(rng.integers(20, 2000))])]
            bm25.append(q + [CORE_STOPWORDS[b % len(CORE_STOPWORDS)]] if j % 2 else q)
        admitted.extend(orig)
        batches.append({
            "dir": d, "docs": len(texts), "gz_bytes": in_bytes_b,
            "survivors": n_orig, "duplicates": n_dup, "contaminated": n_con,
            "short": n_short, "canary": can, "canary_docs": len(can_rows),
            "knn": knn, "bm25": bm25})
    late_texts = texts_of(vocab, gen_token_ids(rng, vocab, cfg["late_docs"]))
    write_shards(os.path.join(out, "late"),
                 _records(late_texts, "late"), 1)
    x, q, top = gen_vectors(rng, cfg["vectors"], cfg["dim"], cfg["vec_queries"])
    vid = [f"v{i:06d}" for i in range(len(x))]
    write_vectors(os.path.join(out, "vectors.parquet"), vid, x)
    write_vectors(os.path.join(out, "vector_queries.parquet"),
                  [f"vq{i:03d}" for i in range(len(q))], q)
    spec = {"batches": batches, "bench": os.path.join(out, "bench"),
            "late": os.path.join(out, "late"), "late_docs": cfg["late_docs"],
            "input_bytes": in_bytes, "bench_bytes": bench_bytes,
            "vectors": os.path.join(out, "vectors.parquet"),
            "vector_queries": os.path.join(out, "vector_queries.parquet")}
    planted = {"survivors": [b["survivors"] for b in batches],
               "duplicates": [b["duplicates"] for b in batches],
               "contaminated": [b["contaminated"] for b in batches],
               "canary_docs": {b["canary"]: b["canary_docs"] for b in batches},
               "vector_top10": {f"vq{i:03d}": [vid[j] for j in top[i]]
                                for i in range(len(q))}}
    return spec, planted


GENERATORS = {"scan_count": gen_scan_count, "ingest_follow": gen_ingest_follow}


def generate(workload, seed, out):
    """Write the fixture into `out`; returns (spec, planted)."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](out, int(seed))
