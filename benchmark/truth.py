"""Truths for every checked operation, recounted by DuckDB over the
generated gz-JSONL (never by the engine under test).

Tokens are ASCII words separated by single spaces, so the engine's UAX-29
tokenization equals DuckDB's `string_split(text, ' ')`.
"""

import glob
import os

import duckdb

K1, B = 1.2, 0.75
BM25_K = 10


def _con():
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


def _load(con, name, paths):
    files = sorted(f for p in paths for f in glob.glob(os.path.join(p, "*.jsonl.gz")))
    if not files:
        raise FileNotFoundError(f"no shards under {paths}")
    lst = ", ".join(f"'{f}'" for f in files)
    con.execute(f"""CREATE OR REPLACE TABLE {name} AS
        SELECT id, text, string_split(text, ' ') AS w
        FROM read_json([{lst}], format='newline_delimited',
                       columns={{'id': 'VARCHAR', 'text': 'VARCHAR'}})""")


def _grams(con, src, n, name):
    parts = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
    con.execute(f"""CREATE OR REPLACE TABLE {name} AS
        SELECT id, {parts} AS g FROM
          (SELECT id, w, unnest(range(1, len(w) - {n - 2})) AS i FROM {src})""")


def phrase_counts(con, src, phrases):
    """{phrase: [occurrences, n_docs]} over table `src` (overlapping)."""
    out = {}
    by_len = {}
    for p in sorted(set(phrases)):
        by_len.setdefault(len(p.split(" ")), []).append(p)
    for n, ps in by_len.items():
        _grams(con, src, n, "__g")
        con.execute("CREATE OR REPLACE TEMP TABLE __p AS SELECT unnest(?) AS g", [ps])
        rows = con.execute("""SELECT __p.g, count(__g.id), count(DISTINCT __g.id)
            FROM __p LEFT JOIN __g USING (g) GROUP BY __p.g""").fetchall()
        out.update({g: [int(c), int(d)] for g, c, d in rows})
    return out


def truth_scan_count(spec):
    con = _con()
    _load(con, "d", [spec["shards"]])
    _grams(con, "d", 3, "g3")
    top = con.execute("""SELECT g, count(*) AS c FROM g3 GROUP BY g
        ORDER BY c DESC, g ASC LIMIT 20""").fetchall()
    n_grams, n_unique = con.execute(
        "SELECT count(*), count(DISTINCT g) FROM g3").fetchone()
    approx_cand = con.execute("""SELECT g, count(*) FROM g3 GROUP BY g
        ORDER BY count(*) DESC, g ASC LIMIT 400""").fetchall()
    st = con.execute("""SELECT count(*), sum(len(w)), sum(length(text)),
        sum(octet_length(text::BLOB)), max(len(w)), min(len(w)) FROM d""").fetchone()
    counts = phrase_counts(con, "d", spec["phrases"])
    canary_docs = {p: counts[p][1] for p in spec["phrases"] if p.startswith("x")}
    return {
        "topk": [[g, int(c)] for g, c in top],
        "n_grams": int(n_grams), "n_unique": int(n_unique),
        "gram_counts": {g: int(c) for g, c in approx_cand},
        "stats": {"n_docs": st[0], "total_tokens": int(st[1]),
                  "total_chars": int(st[2]), "total_bytes": int(st[3]),
                  "max_tokens": st[4], "min_tokens": st[5]},
        "count": {p: counts[p][0] for p in spec["phrases"]},
        "canary_docs": canary_docs,
    }


def _bm25_tables(con, src):
    con.execute(f"""CREATE OR REPLACE TABLE tf AS
        SELECT id, term, count(*) AS tf, any_value(dl) AS dl FROM
          (SELECT id, unnest(w) AS term, len(w) AS dl FROM {src})
        GROUP BY id, term""")
    return con.execute(f"SELECT count(*), avg(len(w)) FROM {src}").fetchone()


def bm25(con, n_docs, avgdl, terms, k):
    """Lucene BM25 replay: top-k [id, score], score rounded to 6 places."""
    weights = {}
    for t in terms:
        weights[t] = weights.get(t, 0) + 1
    con.execute("CREATE OR REPLACE TEMP TABLE __q AS SELECT unnest(?) AS term, unnest(?) AS m",
                [list(weights), list(weights.values())])
    rows = con.execute(f"""
        WITH c AS (SELECT tf.* , __q.m FROM tf JOIN __q USING (term)),
             df AS (SELECT term, count(*) AS df FROM c GROUP BY term)
        SELECT id, round(sum(ln(1 + ({n_docs} - df + 0.5) / (df + 0.5))
                 * tf * {K1 + 1} / (tf + {K1} * (1 - {B} + {B} * dl / {avgdl}))
                 * m), 6) AS score
        FROM c JOIN df USING (term) GROUP BY id
        ORDER BY score DESC, id ASC LIMIT {k}""").fetchall()
    return [[i, float(s)] for i, s in rows]


def replay_ingest(con, spec):
    """Replay the ingest pipeline's contract in SQL: Gopher word floor,
    exact dedup against everything admitted before, exact decontamination
    against the benchmark texts. Returns per-batch admitted counts and
    leaves the admitted texts in table `adm` with their batch number."""
    _load(con, "bench", [spec["bench"]])
    con.execute("CREATE OR REPLACE TABLE adm (text VARCHAR, b INTEGER)")
    survivors = []
    for b, batch in enumerate(spec["batches"]):
        _load(con, "x", [batch["dir"]])
        con.execute(f"""INSERT INTO adm
            SELECT DISTINCT text, {b} FROM x
            WHERE len(w) >= 50
              AND text NOT IN (SELECT text FROM bench)
              AND text NOT IN (SELECT text FROM adm)""")
        survivors.append(con.execute(
            f"SELECT count(*) FROM adm WHERE b = {b}").fetchone()[0])
    return survivors


def truth_ingest_follow(spec):
    """Per batch: survivors, index size, and the read-after-write lookups
    over every document admitted so far. BM25 rows carry the document
    TEXT as id: which copy of a duplicated text survives is the engine's
    choice, its text is not."""
    con = _con()
    survivors = replay_ingest(con, spec)
    con.execute("""CREATE OR REPLACE TABLE adm_w AS
        SELECT b, text AS id, text, string_split(text, ' ') AS w FROM adm""")
    per_batch = []
    for b, batch in enumerate(spec["batches"]):
        tb = {"survivors": int(survivors[b]), "index_docs": int(sum(survivors[: b + 1]))}
        # lookups run after the timed batches: not after the seed batch
        # (set-up) nor the last one (held out for the operator probes)
        if 0 < b < len(spec["batches"]) - 1:
            con.execute(f"CREATE OR REPLACE TABLE upto AS SELECT * FROM adm_w WHERE b <= {b}")
            n_docs, avgdl = _bm25_tables(con, "upto")
            prev = spec["batches"][b - 1]["canary"]
            tb["phrases"] = phrase_counts(con, "upto", [batch["canary"], prev])
            tb["bm25"] = {" ".join(q): bm25(con, n_docs, avgdl, q, BM25_K + 10)
                          for q in batch["bm25"]}
        per_batch.append(tb)
    return {"batches": per_batch}


TRUTHS = {"scan_count": truth_scan_count, "ingest_follow": truth_ingest_follow}
