"""Tests of the benchmark's generator, truths and checks (no engine run).

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""

import copy
import gzip
import json
import os
import shutil
import tempfile
import unittest

import duckdb
import numpy as np

import check
import gen
import run
import truth

SMALL = {
    "scan_count": {"docs": 600, "shards": 4},
    "ingest_follow": {"seed_docs": 300, "batch_docs": 300, "batches": 2,
                      "shards_per_batch": 2, "bench_docs": 40, "late_docs": 20,
                      "vectors": 300, "dim": 8, "vec_queries": 4},
}


class Fixture(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="bench-test-")
        self.saved = copy.deepcopy(gen.SIZES), list(gen.SCAN_CANARY_DOCS)
        gen.SIZES.update(copy.deepcopy(SMALL))
        gen.SCAN_CANARY_DOCS[:] = [1, 2, 5, 9]

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.saved[0])
        gen.SCAN_CANARY_DOCS[:] = self.saved[1]
        shutil.rmtree(self.tmp, ignore_errors=True)

    def make(self, workload, seed, name):
        return gen.generate(workload, seed, os.path.join(self.tmp, name))

    def tree_bytes(self, name):
        root = os.path.join(self.tmp, name)
        out = {}
        for dp, _, files in os.walk(root):
            for f in files:
                with open(os.path.join(dp, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(dp, f), root)] = fh.read()
        return out


class GeneratorTest(Fixture):
    def test_same_seed_gives_identical_bytes(self):
        for w in gen.GENERATORS:
            self.make(w, 5, f"{w}-a")
            self.make(w, 5, f"{w}-b")
            a, b = self.tree_bytes(f"{w}-a"), self.tree_bytes(f"{w}-b")
            self.assertTrue(a)
            self.assertEqual(a, b, w)

    def test_other_seed_gives_other_shards(self):
        for w in gen.GENERATORS:
            self.make(w, 5, f"{w}-a")
            self.make(w, 6, f"{w}-b")
            a, b = self.tree_bytes(f"{w}-a"), self.tree_bytes(f"{w}-b")
            gz = [k for k in a if k.endswith(".gz")]
            self.assertTrue(gz)
            self.assertTrue(all(a[k] != b.get(k) for k in gz), w)

    def test_scan_canaries_match_duckdb_recount(self):
        spec, planted = self.make("scan_count", 3, "s")
        con = duckdb.connect()
        got = con.execute(f"""SELECT count(*) FILTER (WHERE contains(' ' || text || ' ', ' ' || p || ' '))
            FROM read_json('{spec['shards']}/*.jsonl.gz', format='newline_delimited',
                           columns={{'id': 'VARCHAR', 'text': 'VARCHAR'}}),
                 (SELECT unnest(?) AS p) GROUP BY p ORDER BY p""",
                          [sorted(planted["canary_docs"])]).fetchall()
        self.assertEqual([g[0] for g in got],
                         [planted["canary_docs"][p] for p in sorted(planted["canary_docs"])])
        self.assertEqual(truth.truth_scan_count(spec)["canary_docs"], planted["canary_docs"])

    def test_ingest_plants_match_duckdb_replay(self):
        spec, planted = self.make("ingest_follow", 3, "i")
        con = duckdb.connect()
        self.assertEqual(truth.replay_ingest(con, spec), planted["survivors"])
        for b, batch in enumerate(spec["batches"]):
            n_con = con.execute(f"""SELECT count(*) FROM read_json('{batch['dir']}/*.jsonl.gz',
                    format='newline_delimited', columns={{'id': 'VARCHAR', 'text': 'VARCHAR'}}) x
                WHERE x.text IN (SELECT text FROM read_json('{spec['bench']}/*.jsonl.gz',
                    format='newline_delimited', columns={{'id': 'VARCHAR', 'text': 'VARCHAR'}}))"""
                                ).fetchone()[0]
            self.assertEqual(n_con, planted["contaminated"][b])
        for b, batch in enumerate(spec["batches"]):
            n_canary = con.execute("SELECT count(*) FROM adm WHERE contains(text, ?)",
                                   [batch["canary"]]).fetchone()[0]
            self.assertEqual(n_canary, planted["canary_docs"][batch["canary"]])

    def test_vector_neighbours_match_duckdb_brute_force(self):
        spec, planted = self.make("ingest_follow", 3, "v")
        con = duckdb.connect()
        for q, want in planted["vector_top10"].items():
            got = con.execute(f"""SELECT b.id FROM '{spec['vectors']}' b, '{spec['vector_queries']}' q
                WHERE q.id = ? ORDER BY list_cosine_similarity(b.emb, q.emb) DESC LIMIT 10""",
                              [q]).fetchall()
            self.assertEqual([g[0] for g in got], want)

    def test_knn_queries_are_unique_corpus_texts(self):
        spec, _ = self.make("ingest_follow", 3, "k")
        texts = list(check.doc_texts(spec).values())
        for b in spec["batches"]:
            for k in b["knn"]:
                self.assertEqual(texts.count(k["text"]), 1)


class CheckTest(Fixture):
    """Each check passes on the truth and fails on a wrong expected value,
    and a failed check shows as fail_frac > 0."""

    def write_out(self, rows):
        d = tempfile.mkdtemp(dir=self.tmp)
        with gzip.open(os.path.join(d, "part-00000.json.gz"), "wt") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        open(os.path.join(d, "_SUCCESS"), "w").close()
        return d

    def scan_records(self, spec, tr):
        outs = {
            "topk": [{"ngram": g, "cnt": c} for g, c in tr["topk"]],
            "topk_approx": [{"ngram": g, "count": c} for g, c in tr["topk"]],
            "count": [{"phrase": p, "occurrences": c} for p, c in tr["count"].items()],
            "stats": [tr["stats"]],
            "unique": [{"n_unique": tr["n_unique"]}],
        }
        recs = [{"kind": "metric", "name": "setup_s", "value": 1.0, "unit": "s"}]
        recs += [{"kind": "op", "op": k, "unit": 0, "s": 0.5, "ok": True, "err": "",
                  "traced": False, "out": self.write_out(v)} for k, v in outs.items()]
        recs.append({"kind": "unit", "unit": 0, "s": 2.5, "traced": False})
        return recs

    def test_scan_checks_pass_then_fail_on_wrong_truth(self):
        spec, _ = self.make("scan_count", 4, "s")
        tr = truth.truth_scan_count(spec)
        recs = self.scan_records(spec, tr)
        self.assertEqual(run.evaluate("scan_count", recs, spec, tr, {})[:2], (5, 0))
        wrong = copy.deepcopy(tr)
        wrong["topk"][0][1] += 1
        wrong["count"][spec["phrases"][-1]] += 1
        wrong["stats"]["total_tokens"] += 1
        wrong["n_unique"] -= 1
        wrong["gram_counts"] = {g: c + 10 ** 6 for g, c in wrong["gram_counts"].items()}
        attempted, failed, reasons = run.evaluate("scan_count", recs, spec, wrong, {})
        self.assertEqual((attempted, failed), (5, 5), reasons)
        self.assertEqual(run.fail_frac(attempted, failed), 1.0)
        recs[1]["ok"] = False  # a thrown op fails even against the right truth
        attempted, failed, _ = run.evaluate("scan_count", recs, spec, tr, {})
        self.assertEqual(run.fail_frac(attempted, failed), 0.2)

    def test_lookup_checks_fail_on_wrong_truth(self):
        spec, planted = self.make("ingest_follow", 4, "q")
        tr = truth.truth_ingest_follow(spec)
        b = 1
        tb, batch = tr["batches"][b], spec["batches"][b]
        p, knn, q = batch["canary"], batch["knn"][0], " ".join(batch["bm25"][0])
        by_text = {t: i for i, t in check.doc_texts(spec).items()}
        recs = [
            {"kind": "op", "op": "phrase", "unit": b, "s": 0.1, "ok": True, "err": "",
             "q": p, "out": self.write_out([{"phrase": p, "occurrences": tb["phrases"][p][0],
                                              "n_docs": tb["phrases"][p][1]}])},
            {"kind": "op", "op": "bm25", "unit": b, "s": 0.1, "ok": True, "err": "",
             "q": q, "rows": [[by_text[t], s] for t, s in tb["bm25"][q][: truth.BM25_K]]},
            {"kind": "op", "op": "knn", "unit": b, "s": 0.1, "ok": True, "err": "",
             "q": knn["text"], "out": self.write_out(
                 [{"id": knn["id"], "cos": 1.0, "rank": 1}]
                 + [{"id": f"z{i}", "cos": 0.5 - i / 100, "rank": i + 2} for i in range(9)])},
            {"kind": "op", "op": "vector_exact", "unit": 3, "s": 0.1, "ok": True, "err": "",
             "rows": [[q, n, r + 1] for q, ids in planted["vector_top10"].items()
                      for r, n in enumerate(ids)]},
        ]
        self.assertEqual(run.evaluate("ingest_follow", recs, spec, tr, planted)[:2], (4, 0))
        wrong_tr = copy.deepcopy(tr)
        wrong_tr["batches"][b]["phrases"][p][1] += 1
        wrong_tr["batches"][b]["bm25"][q][0][1] += 0.01
        wrong_spec = copy.deepcopy(spec)
        wrong_spec["batches"][b]["knn"][0]["id"] = "not-a-doc"
        wrong_pl = copy.deepcopy(planted)
        q0 = next(iter(wrong_pl["vector_top10"]))
        wrong_pl["vector_top10"][q0].reverse()
        attempted, failed, reasons = run.evaluate("ingest_follow", recs, wrong_spec, wrong_tr, wrong_pl)
        self.assertEqual((attempted, failed), (4, 4), reasons)

    def test_ingest_survivor_check_fails_on_wrong_truth(self):
        spec, planted = self.make("ingest_follow", 4, "g")
        tr = truth.truth_ingest_follow(spec)
        state = os.path.join(self.tmp, "state")
        d = os.path.join(state, "data", "batch-000001-abc")
        os.makedirs(d)
        with gzip.open(os.path.join(d, "part-00000.json.gz"), "wt") as f:
            f.writelines("{}\n" for _ in range(tr["batches"][1]["survivors"]))
        recs = [{"kind": "paths", "state": state},
                {"kind": "op", "op": "ingest", "unit": 1, "s": 1.0, "ok": True, "err": ""}]
        self.assertEqual(run.evaluate("ingest_follow", recs, spec, tr, planted)[:2], (1, 0))
        wrong = copy.deepcopy(tr)
        wrong["batches"][1]["survivors"] += 1
        self.assertEqual(run.evaluate("ingest_follow", recs, spec, wrong, planted)[:2], (1, 1))


if __name__ == "__main__":
    unittest.main()
