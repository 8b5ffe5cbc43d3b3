"""Correctness checks: each timed operation's output against the truth
DuckDB recounted (truth.py) or the generator planted (gen.py).

Every check returns None when the output is right, else a short reason;
a failed check counts the operation in `failed`.
"""

import glob
import gzip
import json
import math
import os

from truth import BM25_K

# count-min bound slack: an estimate may exceed the exact count by at
# most SLACK * e * N / width (width and depth are the CLI defaults)
CMS_WIDTH, CMS_SLACK = 1 << 18, 4.0
SCORE_TOL = 2e-6


def read_rows(out_dir):
    """Rows of a CLI `--out` directory (gz JSONL parts)."""
    rows = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            rows += [json.loads(l) for l in fh if l.strip()]
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        raise ValueError(f"no _SUCCESS in {out_dir}")
    return rows


def check_scan(op, truth):
    rows = read_rows(op["out"])
    kind = op["op"]
    if kind == "topk":
        got = [[r["ngram"], r["cnt"]] for r in rows]
        return None if got == truth["topk"] else f"topk {got[:3]} != {truth['topk'][:3]}"
    if kind == "topk_approx":
        if len(rows) != len(truth["topk"]):
            return f"approx returned {len(rows)} rows"
        bound = CMS_SLACK * math.e * truth["n_grams"] / CMS_WIDTH
        for r in rows:
            exact = truth["gram_counts"].get(r["ngram"])
            if exact is None:
                return f"approx gram {r['ngram']} outside the true top 400"
            if not exact <= r["count"] <= exact + bound:
                return f"approx {r['ngram']}: {r['count']} vs exact {exact}"
        return None
    if kind == "count":
        got = {r["phrase"]: r["occurrences"] for r in rows}
        return None if got == truth["count"] else "phrase counts differ"
    if kind == "stats":
        got = rows[0] if len(rows) == 1 else {}
        return None if all(got.get(k) == v for k, v in truth["stats"].items()) \
            else f"stats {got} != {truth['stats']}"
    if kind == "unique":
        n = rows[0].get("n_unique") if len(rows) == 1 else None
        return None if n == truth["n_unique"] else f"unique {n} != {truth['n_unique']}"
    return f"unknown op {kind}"


def check_phrase(rows, want):
    """want = [occurrences, n_docs] for the single queried phrase."""
    if len(rows) != 1:
        return f"{len(rows)} rows for one phrase"
    got = [rows[0]["occurrences"], rows[0]["n_docs"]]
    return None if got == want else f"phrase {rows[0]['phrase']!r}: {got} != {want}"


def check_knn_self(rows, doc_id):
    """Query text = a stored document's text: it must rank first at cos 1."""
    if len(rows) != 10:
        return f"knn returned {len(rows)} rows"
    top = min(rows, key=lambda r: r["rank"])
    if top["id"] != doc_id or top["cos"] < 1 - 1e-9:
        return f"knn top {top} != {doc_id}"
    coss = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
    return None if coss == sorted(coss, reverse=True) else "knn ranks not by cos"


def check_bm25(rows, want):
    """Engine top-k vs the DuckDB replay (which carries 10 extra rows so a
    tie straddling the k-th score is judged, not guessed)."""
    if len(rows) != min(BM25_K, len(want)):
        return f"bm25 returned {len(rows)} rows"
    score = {i: s for i, s in want}
    for (gid, gs), (_, ws) in zip(rows, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"bm25 score {gs} != {ws}"
        if gid not in score or abs(score[gid] - gs) > SCORE_TOL:
            return f"bm25 doc {gid} not at score {gs}"
    return None


def check_vectors(rows, top10):
    """Exhaustive IVF kNN rows (query, neighbour, rank) vs brute force."""
    got = {}
    for q, n, rank in rows:
        got.setdefault(q, []).append((rank, n))
    for q, want in top10.items():
        ids = [n for _, n in sorted(got.get(q, []))]
        if ids != want:
            return f"exhaustive kNN for {q}: {ids[:3]} != {want[:3]}"
    return None


def doc_texts(spec):
    """id -> text over every ingest batch (BM25 rows are judged by text)."""
    out = {}
    for b in spec["batches"]:
        for f in glob.glob(os.path.join(b["dir"], "*.jsonl.gz")):
            with gzip.open(f, "rt") as fh:
                for line in fh:
                    r = json.loads(line)
                    out[r["id"]] = r["text"]
    return out


def count_lines(batch_dir):
    n = 0
    for f in glob.glob(os.path.join(batch_dir, "part-*")):
        with gzip.open(f, "rt") as fh:
            n += sum(1 for _ in fh)
    return n


def check_ingest(op, truth, spec, planted, checks, state, texts):
    kind, b = op["op"], op["unit"]
    tb = truth["batches"][b] if 0 <= b < len(truth["batches"]) else None
    if kind == "ingest":
        dirs = glob.glob(os.path.join(state, "data", f"batch-{b:06d}-*"))
        if len(dirs) != 1:
            return f"batch {b}: {len(dirs)} batch dirs"
        n = count_lines(dirs[0])
        return None if n == tb["survivors"] else f"batch {b}: {n} survivors != {tb['survivors']}"
    if kind == "ann_follow":
        c = checks.get(b, {})
        offered = sum(x["docs"] for x in spec["batches"][: b + 1])
        bad = []
        if c.get("index_docs") != tb["index_docs"]:
            bad.append(f"index holds {c.get('index_docs')} docs != {tb['index_docs']}")
        if c.get("ann_rows") != offered:
            bad.append(f"ann holds {c.get('ann_rows')} rows != {offered}")
        return "; ".join(bad) or None
    if kind == "phrase":
        return check_phrase(read_rows(op["out"]), tb["phrases"][op["q"]])
    if kind == "knn":
        ids = {k["text"]: k["id"] for k in spec["batches"][b]["knn"]}
        return check_knn_self(read_rows(op["out"]), ids[op["q"]])
    if kind == "bm25":
        return check_bm25([[texts().get(i), s] for i, s in op["rows"]], tb["bm25"][op["q"]])
    if kind == "vector_exact":
        return check_vectors(op["rows"], planted["vector_top10"])
    if kind == "compact":
        c = checks.get(b, {})
        offered = sum(x["docs"] for x in spec["batches"][:b]) + spec["late_docs"]
        return None if c.get("ann_rows") == offered else \
            f"ann holds {c.get('ann_rows')} rows after compaction != {offered}"
    return f"unknown op {kind}"
