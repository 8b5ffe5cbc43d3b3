package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.NgramOps
import graft.queries.DuckSql.{ngrams => ng}

/** The Rust CLI command surface (SURVEY §2.3 A1, A6-A11) as oracle-checked
  * queries over the `documents` table. The synthetic corpus is single-space
  * separated, so the oracle-checked tokenization is split-on-space
  * (`uax29 = false`); UAX-29 parity is pinned separately by ScalaTest golden
  * vectors (reference src/tokens.rs:56-133).
  */
object NgramQueries extends QueryPack {

  private val phrases = Seq("batch batch", "spark window", "data line", "no such phrase xyz")
  private val patterns = Seq("sp[a-z]+", "jo[a-z]*n", "b[aeiou]tch", "zz+")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_stats" -> ((s, dir) =>
      NgramOps.stats(Tables(s, dir, "documents"), "text", uax29 = false)
        .select(col("n_docs"), col("total_tokens").cast("long").as("total_tokens"),
          col("total_chars").cast("long").as("total_chars"),
          col("total_bytes").cast("long").as("total_bytes"),
          col("max_tokens").cast("long").as("max_tokens"),
          col("min_tokens").cast("long").as("min_tokens"))),

    "a6_topk_3gram" -> ((s, dir) =>
      NgramOps.topK(Tables(s, dir, "documents"), "text", n = 3, k = 50, uax29 = false)),

    "a7_botk_2gram" -> ((s, dir) =>
      NgramOps.botK(Tables(s, dir, "documents"), "text", n = 2, k = 50, uax29 = false)),

    "a8_unique_ngrams" -> ((s, dir) =>
      NgramOps.uniqueExactMulti(Tables(s, dir, "documents"), "text", Seq(1, 2, 3),
        uax29 = false).orderBy("n")),

    "a9_count_phrases" -> ((s, dir) =>
      NgramOps.countPhrases(Tables(s, dir, "documents"), "text", phrases, uax29 = false)
        .orderBy("phrase")),

    // A9 at BATTERY scale: >WidePhraseGate phrases route through the
    // MultiPhraseCounts kernel — every anchored occurrence of every
    // phrase in ONE document walk (overlap semantics == CountTokenSeq)
    "a20_count_phrases_wide" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val battery = d.where(col("doc_id") % 4 === 0 && size(toks) >= 2)
        .select(concat_ws(" ", slice(toks, 1, 2)).as("p"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      NgramOps.countPhrases(d, "text", battery, uax29 = false)
        .orderBy("phrase")
    }),

    "a10_search_regex" -> ((s, dir) =>
      NgramOps.searchRegex(Tables(s, dir, "documents"), "text", patterns)
        .select(col("pattern"), col("matches").cast("long").as("matches"))
        .orderBy("pattern")),

    "a10_locations" -> ((s, dir) =>
      graft.operators.SearchOps.locationSummary(
        Tables(s, dir, "documents"), "text", "doc_id", patterns)
        .orderBy("pattern", "line_num")),

    "a11_duplicate_counts" -> ((s, dir) => {
      val hc = Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
      hc.agg(
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).cast("long").as("duplicates"),
        sum("c").cast("long").as("total"),
        count(when(col("c") > 1, lit(1))).as("uniq_duplicates"),
        count(lit(1)).as("uniq_total"))
    }),

    // the long-n production path: 50-gram topk shuffling HASHES of the
    // n-grams, strings joined back only for the k winners (oracle run uses
    // md5 so DuckDB replicates the tie-break; production default xxhash64)
    "a6_topk_50gram_hashed" -> ((s, dir) =>
      NgramOps.topKHashed(Tables(s, dir, "documents"), "text", n = 50, k = 20,
        uax29 = false, hash = c => md5(c))),

    // A1 extremes: argmax/argmin doc pointers with ties kept
    "a1_extremes" -> ((s, dir) =>
      NgramOps.statsExtremes(Tables(s, dir, "documents"), "text", "doc_id",
        uax29 = false)
        .select(col("doc_id"), col("toks").cast("long").as("toks"), col("kind"))
        .orderBy("kind", "doc_id")),

    // corpus power-law statistic: least-squares slope of ln(freq) vs
    // ln(rank) over the unigram distribution
    "a13_zipf" -> ((s, dir) =>
      NgramOps.zipfStats(Tables(s, dir, "documents"), "text", uax29 = false)),

    // Heaps'-law companion to a13: vocabulary size as the corpus
    // accumulates in doc_id order, 8 value-checkpoint rows
    "a19_vocab_growth" -> ((s, dir) =>
      NgramOps.vocabGrowth(Tables(s, dir, "documents"), "doc_id", "text",
        checkpoints = 8, uax29 = false).orderBy("checkpoint")),

    // GPT-3-style span contamination: held-out docs (doc_id % 10 = 0)
    // scored against the rest of the corpus as "training" data
    "a14_ngram_contamination" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      graft.operators.Dedup.ngramContamination(
        d.where(col("doc_id") % 10 =!= 0), "text",
        d.where(col("doc_id") % 10 === 0), "doc_id", "text",
        n = 3, hash = c => c).orderBy("doc_id")
    }),

    // faceted topk: the k most frequent 2-grams WITHIN each source — the
    // per-dataset loop of runs/run_analysis.sh as one query (rank window
    // over the aggregated per-group vocab, not the corpus)
    "a17_topk_per_source" -> ((s, dir) =>
      NgramOps.topKPerGroup(Tables(s, dir, "documents"), "source", "text",
        n = 2, k = 5, uax29 = false)
        .select(col("source"), col("ngram"), col("cnt"),
          col("rank").cast("long").as("rank"))
        .orderBy("source", "rank")),

    // keyword extraction: top-3 TF-IDF terms per document (ranked on the
    // rounded score so both engines tie-break identically)
    "t_tfidf_top" -> ((s, dir) =>
      NgramOps.tfidfTerms(Tables(s, dir, "documents"), "doc_id", "text", k = 3,
        uax29 = false).orderBy("doc_id", "rank")),

    "p10_length_hist" -> ((s, dir) =>
      // both histograms in one corpus pass: each doc emits a (dim, value)
      // pair per dimension
      Tables(s, dir, "documents").select(explode(array(
          struct(lit("chars").as("dim"), length(col("text")).cast("long").as("value")),
          struct(lit("tokens").as("dim"),
            size(split(col("text"), " ")).cast("long").as("value")))).as("d"))
        .select(col("d.dim").as("dim"), col("d.value").as("value"))
        .groupBy("dim", "value").agg(count(lit(1)).as("cnt"))
        .orderBy("dim", "value")),

    // A4 + J3-approx contracts made driver-checkable: the approximate
    // surfaces' VALUES aren't SQL-replayable (CMS estimates, HLL, Bloom
    // bits), but their bound contracts are — each row counts violations
    // that must be zero BY CONSTRUCTION (CMS never under-counts, a Bloom
    // filter never false-negatives, HLL's deterministic estimate sits
    // inside a generous tolerance). The oracle replays the exact sides
    // (checked counts) and asserts the zeros; a sketch bug shows up as a
    // non-zero violations cell and a hash mismatch.
    "a4_sketch_contract" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      def contractRow(df: DataFrame, name: String) =
        df.select(lit(name).as("contract"), col("checked").cast("long"),
          col("violations").cast("long"))
      // the contract rows below branch over these frames 2-3× each, and
      // self-join arms get NO exchange reuse (measured here: 37 exchanges,
      // 0 reused) — materialize each shared subtree ONCE, bounded to
      // vocab-/k-sized frames, so the gram scan runs once. ONE tagged
      // pass (the uniqueExactMulti shape) carries both the 2-gram counts
      // the CMS contracts need and the 1-gram vocab the HLL contract
      // needs — tokenization runs once per doc instead of once per n
      val toks = split(col("text"), " ")
      val gramCounts = graft.Par.fanOut(d)
        .select(explode(flatten(array(Seq(1, 2).map(n =>
          transform(graft.functions.TextFunctions.ngrams(toks, n),
            g => struct(lit(n).as("n"), g.as("ngram")))): _*))).as("t"))
        .select(col("t.n").as("n"), col("t.ngram").as("ngram"))
        .groupBy("n", "ngram").agg(count(lit(1)).as("exact_cnt"))
        .localCheckpoint()
      val exact = gramCounts.where(col("n") === 2).select("ngram", "exact_cnt")
      // CMS top-k: every reported estimate ≥ the exact count of that gram
      // and ≤ the total gram stream size. The bound contracts hold for ANY
      // sketch geometry (min-of-k never under-counts; nothing exceeds the
      // stream total), so use an index-sized table here: the 1<<18 default
      // is a 10.5 MB Array[Long] per partition sketch, allocated, shipped
      // and merged once per partition (measured under the former Kryo
      // aggregate: 3-11 s at width 1<<18 vs <0.5 s at 1<<15).
      // Built FROM the exact counts this query needs anyway (row-identical
      // to the stream formulation, see topKApproxFromCounts): the sketch's
      // two gram passes collapse into the one exact aggregation above, and
      // the partition sketch count follows the vocab frame's partitions
      // instead of the corpus scan's
      val approx = NgramOps.topKApproxFromCounts(exact, "ngram", "exact_cnt",
        k = 20, width = 1 << 15)
      val joined = approx.join(exact, "ngram").localCheckpoint()
      val cmsLower = contractRow(joined.agg(
        count(lit(1)).as("checked"),
        sum(when(col("count") < col("exact_cnt"), 1L).otherwise(0L)).as("violations")),
        "cms_no_underestimate")
      val cmsUpper = contractRow(
        joined.crossJoin(exact.agg(sum("exact_cnt").as("tot"))).agg(
          count(lit(1)).as("checked"),
          sum(when(col("count") > col("tot"), 1L).otherwise(0L)).as("violations")),
        "cms_estimate_capped")
      // HLL unique: deterministic estimate within 15% of exact (rsd 0.05).
      // Both sides derive from the tagged frame's 1-gram slice — HLL
      // registers are max-of-hashes, so the estimate over the distinct
      // vocab is bit-identical to the estimate over the raw token stream,
      // and the exact side is the slice's row count: zero extra scans
      val uniq1 = gramCounts.where(col("n") === 1).select("ngram")
      val hll = contractRow(
        uniq1.agg(approx_count_distinct(col("ngram"), 0.05).as("approx"))
          .crossJoin(uniq1.agg(count(lit(1)).as("exact")))
          .select(lit(1L).as("checked"),
            when(abs(col("approx") - col("exact")) >
              lit(0.15) * col("exact"), 1L).otherwise(0L).as("violations")),
        "hll_unique_tolerance")
      // Bloom decontamination vs the exact anti-join: nothing contaminated
      // survives (no false negatives), and the approx-kept set only ever
      // shrinks the exact-kept set (false positives drop extra)
      val bench = d.where(col("doc_id") % 20 === 0)
      // membership checks key on md5(text) — the same key the
      // decontamination operators use — so the checkpointed frames hold
      // 32-hex hashes, not corpus text (the text-carrying keptApprox
      // checkpoint was most of this query's block-manager footprint)
      val benchHashes = bench.select(md5(col("text")).as("__bh")).distinct()
        .localCheckpoint()
      // both kept frames feed two contract rows each; project to the
      // columns the contracts read before materializing (doc_id + hash is
      // all the membership checks need). The blocklist side of BOTH
      // operators is the checkpointed hash frame, not a bench re-scan —
      // a Bloom filter over the distinct hashes is bit-identical
      // (duplicate adds are idempotent), and decontaminate distincts its
      // blocklist anyway
      val keptApprox = graft.operators.Dedup.decontaminateApprox(
        d, md5(col("text")), benchHashes, col("__bh"),
        expectedItems = 1000L, fpp = 0.001)
        .select(col("doc_id"), md5(col("text")).as("__h")).localCheckpoint()
      val keptExact = graft.operators.Dedup.decontaminate(
        d, md5(col("text")), benchHashes, col("__bh"))
        .select("doc_id").localCheckpoint()
      // contaminated count = total − exact-kept (the anti-join's exact
      // complement) — no third corpus scan just to count the semi join
      val nDocs = d.select(lit(1)).count()
      val noFalseNeg = contractRow(
        keptExact.agg((lit(nDocs) - count(lit(1))).as("checked"))
          .crossJoin(keptApprox
            .join(benchHashes, col("__h") === col("__bh"), "left_semi")
            .agg(count(lit(1)).as("violations"))),
        "bloom_no_false_negative")
      val subset = contractRow(
        keptExact.agg(count(lit(1)).as("checked"))
          .crossJoin(keptApprox.join(keptExact.select("doc_id"),
              Seq("doc_id"), "left_anti")
            .agg(count(lit(1)).as("violations"))),
        "bloom_subset_of_exact")
      cmsLower.union(cmsUpper).union(hll).union(noFalseNeg).union(subset)
        .orderBy("contract")
    })
  )

  override val oracles: Map[String, String] = Map(
    "a1_stats" ->
      """SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS total_tokens,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars,
        | CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        | CAST(max(len(t)) AS BIGINT) AS max_tokens,
        | CAST(min(len(t)) AS BIGINT) AS min_tokens
        |FROM (SELECT text, string_split(text, ' ') AS t FROM documents)""".stripMargin,

    "a6_topk_3gram" ->
      s"""SELECT ngram, count(*) AS cnt FROM (${ng(3)})
         |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin,

    "a7_botk_2gram" ->
      s"""SELECT ngram, count(*) AS cnt FROM (${ng(2)})
         |GROUP BY ngram ORDER BY cnt ASC, ngram LIMIT 50""".stripMargin,

    "a8_unique_ngrams" ->
      s"""SELECT CAST(1 AS BIGINT) AS n, count(DISTINCT ngram) AS n_unique FROM (${ng(1)})
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), count(DISTINCT ngram) FROM (${ng(2)})
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), count(DISTINCT ngram) FROM (${ng(3)})
         |ORDER BY n""".stripMargin,

    // every battery phrase is exactly 2 tokens, so occurrence counting is
    // equality against the 2-gram stream (overlaps included by
    // construction of the stream)
    "a20_count_phrases_wide" ->
      s"""WITH ph AS (SELECT DISTINCT
         |  array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS phrase
         | FROM documents
         | WHERE doc_id % 4 = 0 AND len(string_split(text, ' ')) >= 2),
         |ngs AS (SELECT ngram FROM (${ng(2)}))
         |SELECT phrase, count(ngram) AS occurrences
         |FROM ph LEFT JOIN ngs ON ngs.ngram = ph.phrase
         |GROUP BY phrase ORDER BY phrase""".stripMargin,

    "a9_count_phrases" ->
      s"""WITH ph(phrase) AS (SELECT * FROM (VALUES ('batch batch'), ('spark window'),
         |  ('data line'), ('no such phrase xyz')) v(p)),
         |ngs AS (
         |  SELECT 2 AS plen, ngram FROM (${ng(2)})
         |  UNION ALL
         |  SELECT 4 AS plen, ngram FROM (${ng(4)})
         |)
         |SELECT phrase, count(ngram) AS occurrences
         |FROM ph LEFT JOIN ngs ON ngs.ngram = ph.phrase
         |  AND ngs.plen = len(string_split(ph.phrase, ' '))
         |GROUP BY phrase ORDER BY phrase""".stripMargin,

    "a10_search_regex" ->
      """WITH pat(pattern) AS (SELECT * FROM (VALUES ('sp[a-z]+'), ('jo[a-z]*n'),
        |  ('b[aeiou]tch'), ('zz+')) v(p))
        |SELECT pattern,
        | CAST(coalesce(sum(len(regexp_extract_all(text, pattern))), 0) AS BIGINT) AS matches
        |FROM pat LEFT JOIN documents ON true
        |GROUP BY pattern ORDER BY pattern""".stripMargin,

    // match spans checked via total matched chars: sum(end-start) must equal
    // the length of the concatenated regexp_extract_all substrings
    "a10_locations" ->
      """WITH pat(pattern) AS (SELECT * FROM (VALUES ('sp[a-z]+'), ('jo[a-z]*n'),
        |  ('b[aeiou]tch'), ('zz+')) v(p)),
        |m AS (SELECT pattern, doc_id AS line_num,
        |  regexp_extract_all(text, pattern) AS ms FROM pat JOIN documents ON true)
        |SELECT pattern, line_num, CAST(len(ms) AS BIGINT) AS n_matches,
        | CAST(length(array_to_string(ms, '')) AS BIGINT) AS matched_chars
        |FROM m WHERE len(ms) > 0 ORDER BY pattern, line_num""".stripMargin,

    "a11_duplicate_counts" ->
      """WITH hc AS (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)
        |SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS duplicates,
        | CAST(sum(c) AS BIGINT) AS total,
        | count(CASE WHEN c > 1 THEN 1 END) AS uniq_duplicates,
        | count(*) AS uniq_total
        |FROM hc""".stripMargin,

    "a6_topk_50gram_hashed" ->
      s"""WITH g AS (${ng(50)}),
         |winners AS (SELECT md5(ngram) AS h, count(*) AS cnt FROM g
         | GROUP BY 1 ORDER BY cnt DESC, h LIMIT 20)
         |SELECT ngram, cnt FROM (SELECT DISTINCT ngram, md5(ngram) AS h FROM g) d
         |JOIN winners USING (h)
         |ORDER BY cnt DESC, ngram""".stripMargin,

    "a1_extremes" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |r AS (SELECT doc_id, toks,
        |  rank() OVER (ORDER BY toks DESC) AS rmax,
        |  rank() OVER (ORDER BY toks ASC) AS rmin FROM t)
        |SELECT doc_id, CAST(toks AS BIGINT) AS toks,
        | CASE WHEN rmax = 1 THEN 'max' ELSE 'min' END AS kind
        |FROM r WHERE rmax = 1 OR rmin = 1
        |ORDER BY kind, doc_id""".stripMargin,

    "a13_zipf" ->
      """WITH cnt AS (SELECT w, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM cnt)
        |SELECT CAST(count(*) AS BIGINT) AS n_vocab,
        | round(covar_pop(ln(CAST(r AS DOUBLE)), ln(CAST(c AS DOUBLE)))
        |   / var_pop(ln(CAST(r AS DOUBLE))), 6) AS zipf_slope
        |FROM rk""".stripMargin,

    "a19_vocab_growth" ->
      """WITH mm AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |ks AS (SELECT unnest(generate_series(1, 8)) AS checkpoint),
        |bounds AS (SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
        |  CAST(lo + ((hi - lo) * checkpoint) // 8 AS BIGINT) AS bound FROM ks, mm),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |fd AS (SELECT w, min(doc_id) AS fd FROM
        |  (SELECT doc_id, unnest(t) AS w FROM tok) GROUP BY w),
        |ds AS (SELECT checkpoint, bound, CAST(count(*) AS BIGINT) AS docs_seen,
        |   CAST(sum(len(t)) AS BIGINT) AS tokens_seen
        | FROM bounds JOIN tok ON tok.doc_id <= bound GROUP BY checkpoint, bound),
        |vs AS (SELECT checkpoint, CAST(count(*) AS BIGINT) AS vocab
        | FROM bounds JOIN fd ON fd.fd <= bound GROUP BY checkpoint)
        |SELECT checkpoint, bound, docs_seen, tokens_seen, vocab
        |FROM ds JOIN vs USING (checkpoint) ORDER BY checkpoint""".stripMargin,

    "a14_ngram_contamination" ->
      """WITH tr AS (SELECT DISTINCT s FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 2),
        |   i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 10 <> 0))),
        |te AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
        |   i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 10 = 0)))
        |SELECT te.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        | CAST(sum(CASE WHEN tr.s IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
        | round(CAST(sum(CASE WHEN tr.s IS NULL THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) AS contaminated_frac
        |FROM te LEFT JOIN tr ON tr.s = te.s
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin,

    "a17_topk_per_source" ->
      """WITH g AS (SELECT source,
        |  unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS ngram
        |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)),
        |c AS (SELECT source, ngram, count(*) AS cnt FROM g GROUP BY 1, 2),
        |r AS (SELECT source, ngram, cnt,
        |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, ngram) AS rank
        | FROM c)
        |SELECT source, ngram, cnt, CAST(rank AS BIGINT) AS rank FROM r
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "t_tfidf_top" ->
      """WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT doc_id, tf.w AS w, tf, df,
        |  round(tf * ln(n / df), 6) AS tfidf,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY round(tf * ln(n / df), 6) DESC, tf.w) AS rank
        | FROM tf JOIN dfq USING (w) CROSS JOIN n)
        |SELECT doc_id, w, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        | tfidf, CAST(rank AS BIGINT) AS rank
        |FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "p10_length_hist" ->
      """SELECT dim, value, count(*) AS cnt FROM (
        |  SELECT 'chars' AS dim, CAST(length(text) AS BIGINT) AS value FROM documents
        |  UNION ALL
        |  SELECT 'tokens', CAST(len(string_split(text, ' ')) AS BIGINT) FROM documents
        |) GROUP BY dim, value ORDER BY dim, value""".stripMargin,

    // the exact sides (checked counts) are genuinely replayed; the zero
    // violation cells are the CONTRACT — a sketch bound break on the Spark
    // side hash-mismatches against them
    "a4_sketch_contract" ->
      s"""WITH ex AS (SELECT ngram, count(*) AS c FROM (${ng(2)}) GROUP BY ngram),
         |ng2 AS (SELECT count(*) AS c FROM ex),
         |bench AS (SELECT DISTINCT text FROM documents WHERE doc_id % 20 = 0),
         |cont AS (SELECT count(*) AS c FROM documents d
         |  WHERE EXISTS (SELECT 1 FROM bench b WHERE b.text = d.text)),
         |keptex AS (SELECT count(*) AS c FROM documents d
         |  WHERE NOT EXISTS (SELECT 1 FROM bench b WHERE b.text = d.text))
         |SELECT * FROM (
         | SELECT 'bloom_no_false_negative' AS contract,
         |  CAST(cont.c AS BIGINT) AS checked, CAST(0 AS BIGINT) AS violations FROM cont
         | UNION ALL
         | SELECT 'bloom_subset_of_exact', CAST(keptex.c AS BIGINT), CAST(0 AS BIGINT) FROM keptex
         | UNION ALL
         | SELECT 'cms_estimate_capped', CAST(LEAST(20, ng2.c) AS BIGINT), CAST(0 AS BIGINT) FROM ng2
         | UNION ALL
         | SELECT 'cms_no_underestimate', CAST(LEAST(20, ng2.c) AS BIGINT), CAST(0 AS BIGINT) FROM ng2
         | UNION ALL
         | SELECT 'hll_unique_tolerance', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
         |) ORDER BY contract""".stripMargin
  )
}
