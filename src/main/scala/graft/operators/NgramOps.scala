package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions._

/** The reference CLI's counting commands re-expressed as declarative Spark
  * plans (reference: src/cmd/{topk,botk,count,search,stats,unique}.rs).
  *
  * Scale notes (100 TB design):
  *  - every pipeline is scan → narrow project/explode → partial agg →
  *    shuffle on the group key → final agg; no driver-side loops.
  *  - topk/botk end in TakeOrderedAndProject (k rows per partition are
  *    pre-selected map-side, only k×partitions rows reach the driver).
  *  - `topk --approx` ([[topKApprox]]) is the exception: two scan-fused
  *    passes whose only driver traffic is partition sketches and k rows
  *    per partition; no gram crosses an exchange.
  *  - for very large n (n=100 grams) use [[TopK.hashed]] which shuffles an
  *    8-byte xxhash64 of the n-gram instead of the string and joins the k
  *    winning strings back afterwards.
  */
object NgramOps {

  /** tokens column for a text column: UAX-29 by default. */
  def tokens(text: Column, uax29: Boolean = true): Column =
    if (uax29) tokenize(text) else splitTokens(text)

  private def ngramCounts(docs: DataFrame, textCol: String, n: Int, uax29: Boolean): DataFrame =
    graft.Par.fanOut(docs)
      .select(explode(ngrams(tokens(col(textCol), uax29), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))

  /** `wimbd topk` exact mode (reference src/cmd/topk.rs:106-343). Determinism:
    * ties broken by n-gram ascending. Stays the single-shuffle STRING
    * plan: the r13-verdict adoption probe re-ran BOTH ways (tools
    * .TopkProbe) — r13 under host load measured hashed 1.3× faster
    * (1.29 vs 1.70 s), the r14 quiet-host re-measure inverts it (strings
    * 0.56 vs hash-first 0.75 s min-of-5: at sf0.1 the second gram pass's
    * fixed costs outweigh the shuffle-byte saving) — so the ≥1.3×
    * adoption bar is NOT met and the exact contract keeps the simplest
    * plan. [[topKHashFirst]] is the same contract on hash-first
    * execution for network-bound cluster runs where shuffle BYTES, not
    * local fixed costs, dominate.
    */
  def topK(docs: DataFrame, textCol: String, n: Int, k: Int, uax29: Boolean = true): DataFrame =
    topKStrings(docs, textCol, n, k, uax29)

  /** [[topK]]'s exact contract on HASH-FIRST execution — the opt-in for
    * cluster runs where the n-gram-string shuffle is the bottleneck:
    * counts shuffle as 8-byte xxhash64 keys; the winning STRINGS come
    * from a second gram pass that re-counts only the candidate hashes
    * (broadcast sorted-long probe fused into the scan — candidate-sized
    * shuffle). Exactness is preserved, not approximated:
    *  - candidates = every hash whose count ≥ the rank-k hash count,
    *    gathered through a k+slack TakeOrdered; if the slack window ends
    *    ON the boundary count the tie set may be incomplete → fall back
    *    to the string plan (correct, just slower);
    *  - a 64-bit collision can only merge counts UPWARD, so a true
    *    top-k gram always clears the threshold; a collision INSIDE the
    *    candidate set (the one case that could split a merged count
    *    below the boundary) is detected exactly — the re-count returns
    *    more distinct grams than candidate hashes — and falls back;
    *  - the recovered per-gram counts are TRUE counts (collision-split
    *    by the string re-count), final order replayed with the same
    *    (cnt desc, ngram asc) sort the string path uses.
    */
  def topKHashFirst(docs: DataFrame, textCol: String, n: Int, k: Int,
                    uax29: Boolean = true): DataFrame = {
    val grams = graft.Par.fanOut(docs)
      .select(explode(ngrams(tokens(col(textCol), uax29), n)).as("ngram"))
    val slack = math.max(64, 4 * k)
    val top = grams.select(xxhash64(col("ngram")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("h")).limit(k + slack).collect()
    if (top.isEmpty)
      return topKStrings(docs, textCol, n, k, uax29) // empty corpus: trivial either way
    val candidates =
      if (top.length <= k) top
      else {
        val ckt = top(k - 1).getLong(1)
        // slack window truncated exactly on the boundary count: hashes
        // tied at ckt may extend past the gather — completeness lost
        if (top.length == k + slack && top.last.getLong(1) == ckt)
          return topKStrings(docs, textCol, n, k, uax29)
        top.filter(_.getLong(1) >= ckt)
      }
    val hs = candidates.map(_.getLong(0)); java.util.Arrays.sort(hs)
    val bc = docs.sparkSession.sparkContext.broadcast(hs)
    val probe = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.LongSetContains(
        org.apache.spark.sql.graft.Bridge.expression(xxhash64(col("ngram"))), bc))
    val rec = grams.where(probe)
      .groupBy("ngram").agg(count(lit(1)).as("cnt")).collect()
    if (rec.length != candidates.length) // candidate-hash collision: exact split unknowable from hashes
      return topKStrings(docs, textCol, n, k, uax29)
    val spark = docs.sparkSession
    spark.createDataFrame(java.util.Arrays.asList(rec: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ngram",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType, nullable = false))))
      .orderBy(desc("cnt"), asc("ngram")).limit(k)
  }

  /** The single-shuffle string formulation of [[topK]] — the fallback
    * for boundary-tie overflow / detected hash collisions, and the
    * reference the hash-first plan is differential-tested against.
    */
  private[graft] def topKStrings(docs: DataFrame, textCol: String, n: Int,
                                 k: Int, uax29: Boolean = true): DataFrame =
    ngramCounts(docs, textCol, n, uax29)
      .orderBy(desc("cnt"), asc("ngram")).limit(k)

  /** `wimbd botk` in one pass — the reference needs two passes and an
    * inverted sketch (src/cmd/botk.rs:103-359); exact group-by needs neither.
    */
  def botK(docs: DataFrame, textCol: String, n: Int, k: Int, uax29: Boolean = true): DataFrame =
    ngramCounts(docs, textCol, n, uax29)
      .orderBy(asc("cnt"), asc("ngram")).limit(k)

  /** topk for very long n-grams: shuffle xxhash64(ngram) (8 bytes) instead of
    * the n-gram string, then recover the winning strings with a second
    * cheap aggregation filtered to the k winning hashes (broadcast).
    *
    * Measured (tools.TopkProbe, sf0.1, n=3): r13 under host load had the
    * hashed path ~25% faster than [[topK]] (1.29 vs 1.70 s steady); the
    * r14 quiet-host re-measure INVERTS it (hashed 0.72 vs strings
    * 0.56 s min-of-5) — at single-node sf0.1 the second gram pass's
    * fixed costs outweigh the shuffle-byte saving, so the byte argument
    * only pays off network-bound at cluster scale. [[topK]] stays the
    * default for its exact lexicographic tie-break contract; prefer
    * [[topKHashFirst]] (same exact contract) or this looser variant in
    * shuffle-bound cluster jobs.
    */
  def topKHashed(docs: DataFrame, textCol: String, n: Int, k: Int,
                 uax29: Boolean = true,
                 hash: Column => Column = c => xxhash64(c)): DataFrame = {
    val grams = graft.Par.fanOut(docs)
      .select(explode(ngrams(tokens(col(textCol), uax29), n)).as("ngram"))
    val winners = grams.select(hash(col("ngram")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("h")).limit(k)
    grams.select(col("ngram"), hash(col("ngram")).as("h")).dropDuplicates("h")
      .join(broadcast(winners), "h")
      .select(col("ngram"), col("cnt"))
      .orderBy(desc("cnt"), asc("ngram"))
  }

  /** `wimbd unique` exact (reference src/cmd/unique.rs:65-161 is a biased
    * Bloom estimate; exact distinct is the batch-native answer).
    */
  def uniqueExact(docs: DataFrame, textCol: String, n: Int, uax29: Boolean = true): DataFrame =
    graft.Par.fanOut(docs)
      .select(explode(ngrams(tokens(col(textCol), uax29), n)).as("ngram"))
      .agg(count_distinct(col("ngram")).as("n_unique"))

  /** `wimbd topk` APPROXIMATE mode — the reference's memory-bounded
    * counting-sketch contract (sketch build src/ngrams/counter.rs:43-194,
    * threshold gate + upper-bound reporting src/cmd/topk.rs:205-242,315-321)
    * restated for a cluster as two scan-fused passes, neither of which
    * shuffles the gram stream:
    *  - pass 1 ([[graft.functions.sketch.Sketches.buildCms]]): each input
    *    partition fills one local sketch from the grams' UTF-8 bytes; the
    *    partition sketches merge on the driver through `treeReduce`;
    *  - pass 2: the merged sketch is broadcast, the grams re-stream through
    *    the codegen'd [[graft.functions.expressions.CmsEstimate]] probe,
    *    and each partition keeps at most `k` distinct (estimate desc,
    *    gram asc) entries among those clearing `threshold` (the
    *    reference's `--threshold` pruning; see [[TopDistinct]]). The
    *    driver merges those k × partitions rows.
    * Exact against the group-by-gram formulation: with the sketch fixed,
    * the estimate depends only on the gram, so a gram in the global top-k
    * is in the local top-k of every partition holding it. Reported
    * `count` is an upper bound (`≤`), exactly as the reference prints.
    * Memory is O(width × depth) per task regardless of corpus size.
    */
  def topKApprox(docs: DataFrame, textCol: String, n: Int, k: Int,
                 width: Int = 1 << 18, depth: Int = 5, seed: Int = 42,
                 threshold: Long = 1L, uax29: Boolean = true): DataFrame = {
    val grams = graft.Par.fanOut(docs)
      .select(explode(ngrams(tokens(col(textCol), uax29), n)).as("ngram"))
    val cms = graft.functions.sketch.Sketches.buildCms(grams, "ngram", width, depth, seed)
    approxTopK(grams, "ngram", cms, k, threshold)
  }

  /** [[topKApprox]] computed from a PRE-COUNTED `(gram, count)` vocab
    * frame instead of re-scanning the corpus — for consumers that already
    * paid the exact aggregation (the A4 contract query builds it for the
    * bound checks anyway). Output is row-identical to [[topKApprox]] on
    * the stream those counts summarize: the sketch ingests per-gram
    * counts (cell-bit-identical to per-occurrence adds, since increments
    * are saturating sums) and each distinct gram probes once. Two
    * vocab-sized passes, zero corpus scans.
    */
  def topKApproxFromCounts(counts: DataFrame, gramCol: String,
                           cntCol: String, k: Int,
                           width: Int = 1 << 18, depth: Int = 5,
                           seed: Int = 42, threshold: Long = 1L): DataFrame = {
    val cms = graft.functions.sketch.Sketches.buildCms(counts, gramCol, width, depth, seed,
      weight = Some(cntCol))
    approxTopK(counts, gramCol, cms, k, threshold)
  }

  /** Pass 2 of the count-min top-k: probe every gram of `grams` against
    * the broadcast sketch, select per partition, merge on the driver, and
    * return the ranked `(ngram, count)` rows as a local frame.
    */
  private def approxTopK(grams: DataFrame, gramCol: String,
                         cms: graft.functions.sketch.Sketches.CMS,
                         k: Int, threshold: Long): DataFrame = {
    val spark = grams.sparkSession
    val bc = spark.sparkContext.broadcast(cms)
    // codegen'd probe (no ScalaUDF boundary): pass 2 stays one fused stage
    val est = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.CmsEstimate(
        org.apache.spark.sql.graft.Bridge.expression(col(gramCol)), bc))
    val local = grams.select(col(gramCol), est).queryExecution.toRdd
      .mapPartitions { rows =>
        val top = new TopDistinct(k, threshold)
        rows.foreach(r => if (!r.isNullAt(0)) top.offer(r.getLong(1), r.getUTF8String(0)))
        top.entries.iterator
      }.collect()
    bc.destroy()
    val top = new TopDistinct(k, threshold)
    local.foreach(e => top.offer(e.est, e.gram))
    val rows = top.entries.map(e => Row(e.gram.toString, e.est))
    // orderBy + limit plans one ordered output partition, as topK's does
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("ngram", StringType), StructField("count", LongType))))
      .orderBy(desc("count"), asc("ngram")).limit(k)
  }

  /** One ranked entry of [[TopDistinct]]. */
  private[graft] final case class Ranked(est: Long, gram: UTF8String)

  /** Bounded ordered set of at most `k` DISTINCT (est desc, gram asc)
    * entries with `est >= threshold` — the per-partition selector of
    * [[topKApprox]]'s pass 2 and its driver-side merge. Grams compare as
    * UTF8String bytes, Spark's `asc` order on strings. Offered grams are
    * copied only when admitted, so callers may pass row-owned buffers.
    * Exact for keys that depend only on the gram: an entry evicted by k
    * better ones can never re-qualify, since the k-th key only tightens.
    */
  private[graft] final class TopDistinct(k: Int, threshold: Long) {
    private val set = new java.util.TreeSet[Ranked]((a: Ranked, b: Ranked) =>
      if (a.est != b.est) java.lang.Long.compare(b.est, a.est)
      else a.gram.binaryCompare(b.gram))

    def offer(est: Long, gram: UTF8String): Unit =
      if (est >= threshold && k > 0) {
        val e = Ranked(est, gram)
        if ((set.size < k || set.comparator.compare(e, set.last) < 0) && !set.contains(e)) {
          set.add(Ranked(est, gram.copy()))
          if (set.size > k) set.pollLast()
        }
      }

    /** The kept entries, best first. */
    def entries: Array[Ranked] = set.toArray(new Array[Ranked](0))
  }

  /** Distinct n-gram counts for SEVERAL n in one corpus pass: every doc
    * emits its n-grams tagged by n, one aggregation — instead of one scan
    * per requested n.
    */
  def uniqueExactMulti(docs: DataFrame, textCol: String, ns: Seq[Int],
                       uax29: Boolean = true): DataFrame = {
    val toks = tokens(col(textCol), uax29)
    val tagged = flatten(array(ns.map { n =>
      transform(ngrams(toks, n),
        g => struct(lit(n.toLong).as("n"), g.as("ngram")))
    }: _*))
    graft.Par.fanOut(docs).select(explode(tagged).as("t"))
      .select(col("t.n").as("n"), col("t.ngram").as("ngram"))
      .groupBy("n").agg(count_distinct(col("ngram")).as("n_unique"))
  }

  /** `wimbd unique` approximate — HLL++, a strictly better estimator than the
    * reference's collision-biased Bloom cell count.
    */
  def uniqueApprox(docs: DataFrame, textCol: String, n: Int, rsd: Double = 0.01,
                   uax29: Boolean = true): DataFrame =
    graft.Par.fanOut(docs)
      .select(explode(ngrams(tokens(col(textCol), uax29), n)).as("ngram"))
      .agg(approx_count_distinct(col("ngram"), rsd).as("n_unique"))

  /** `wimbd count` — total (overlapping) occurrences of each exact token
    * sequence (reference src/cmd/count.rs:191-208). Implemented as a
    * broadcast semi-join of the corpus n-gram stream against the phrase
    * table, one pass per distinct phrase length; phrases with zero hits are
    * kept (left join), matching the reference's pre-initialized counters.
    */
  def countPhrases(docs: DataFrame, textCol: String, phrases: Seq[String],
                   uax29: Boolean = true): DataFrame = {
    // search strings are tokenized with the same tokenizer as documents
    // (reference src/cmd/count.rs:120-131), then counted by a scan-fused
    // sliding-window expression — one scalar aggregation over the corpus,
    // no n-gram explode, no join, regardless of how many phrases
    val phraseToks: Seq[Array[String]] = phrases.map { p =>
      if (uax29) graft.functions.Tokenizer.tokenize(p) else p.split(" ")
    }
    val toks = tokens(col(textCol), uax29)
    // battery scale: one MultiPhraseCounts walk per document instead of
    // one CountTokenSeq column per phrase (O(P) per row AND per plan) —
    // per-occurrence bit-parity with the per-column sums (spec-pinned)
    if (phrases.length > graft.search.Searcher.WidePhraseGate) {
      val spark = docs.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(phraseToks.map(_.map(
        org.apache.spark.unsafe.types.UTF8String.fromString(_)).toArray).toArray)
      val countsCol = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.expressions.MultiPhraseCounts(
          org.apache.spark.sql.graft.Bridge.expression(toks), bc))
      return graft.search.Searcher.zeroHitCounts(
          graft.Par.fanOut(docs).select(explode(countsCol).as("__pc")),
          col("__pc.idx"), Some(col("__pc.n")),
          phrases.zipWithIndex.map { case (p, i) => (i, p) }
            .toDF("__idx", "phrase"))
        .select(col("phrase"),
          coalesce(col("__n"), lit(0L)).as("occurrences"))
    }
    val perPhrase = phraseToks.map { pt =>
      org.apache.spark.sql.graft.Bridge.column(
        graft.functions.expressions.CountTokenSeq(
          org.apache.spark.sql.graft.Bridge.expression(toks),
          org.apache.spark.sql.graft.Bridge.expression(typedLit(pt))))
    }
    val aggs = perPhrase.zipWithIndex.map { case (c, i) =>
      coalesce(sum(c), lit(0L)).as(s"c$i")
    }
    val row = graft.Par.fanOut(docs).agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(phrases.indices.map { i =>
        struct(lit(phrases(i)).as("phrase"), col(s"c$i").cast("long").as("occurrences"))
      }: _*)).as("pc"))
      .select(col("pc.phrase").as("phrase"), col("pc.occurrences").as("occurrences"))
  }

  /** `wimbd search` — regex match counts per pattern (reference
    * src/cmd/search.rs:74-330, minus `--with-locations`; see
    * [[graft.operators.SearchOps.regexLocations]]).
    */
  def searchRegex(docs: DataFrame, textCol: String, patterns: Seq[String]): DataFrame = {
    // ONE corpus pass for all patterns: per-pattern partial sums in a single
    // scalar aggregation, stacked to (pattern, matches) rows afterwards —
    // a union-per-pattern formulation would scan the corpus |patterns| times
    val aggs = patterns.zipWithIndex.map { case (p, i) =>
      coalesce(sum(regexp_count(col(textCol), lit(p))), lit(0L)).as(s"m$i")
    }
    graft.Par.fanOut(docs).agg(aggs.head, aggs.tail: _*)
      .select(explode(array(patterns.indices.map { i =>
        struct(lit(patterns(i)).as("pattern"), col(s"m$i").cast("long").as("matches"))
      }: _*)).as("pm"))
      .select(col("pm.pattern").as("pattern"), col("pm.matches").as("matches"))
  }

  /** `wimbd stats` — corpus summary (reference src/cmd/stats.rs:61-374):
    * doc count, token sum, char sum, max/min tokens per doc.
    */
  def stats(docs: DataFrame, textCol: String, uax29: Boolean = true): DataFrame =
    graft.Par.fanOut(docs)
      .select(size(tokens(col(textCol), uax29)).as("toks"), length(col(textCol)).as("chars"),
        octet_length(col(textCol)).as("bytes"))
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("total_tokens"),
        sum("chars").as("total_chars"), sum("bytes").as("total_bytes"),
        max("toks").as("max_tokens"), min("toks").as("min_tokens"))

  /** Zipf rank-frequency fit over the unigram distribution: least-squares
    * slope of ln(count) on ln(rank) — the corpus-level power-law statistic
    * reported alongside WIMBD-style summary stats (natural text ≈ -1;
    * boilerplate-heavy or templated corpora flatten it). Returned slope is
    * negative. The (rank, count) pair multiset is invariant under tie
    * permutations (equal counts swap equal y values between x positions),
    * so the fit is deterministic.
    *
    * Scale shape: one hash-aggregate for counts; rank is then a DISTRIBUTED
    * row_number — range-partition the vocab on the sort key, per-bucket
    * local row_number, tiny triangular self-join of the `buckets`-row
    * totals frame for the bucket offsets (the Packing.tokenOffsets
    * two-phase prefix-sum pattern, minus its global window). A plain
    * `row_number().over(Window.orderBy(...))` funnels the whole vocabulary
    * (1e8–1e9 rows at 100 TB) through ONE task; nothing here does —
    * PlanPropertySpec asserts no empty-partitionSpec window in the plan.
    * Range boundaries only balance the buckets, so the result is
    * bucket-count invariant.
    */
  def zipfStats(docs: DataFrame, textCol: String, topV: Int = 0,
                uax29: Boolean = false, buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.Par.fanOut(docs)
      .select(explode(tokens(col(textCol), uax29)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // persisted: the offsets branch reads this frame too, and exchange
    // reuse does not fire across differently-projected branches — without
    // an anchor the corpus explode + agg would run twice.
    // LIFETIME: blocks stay cached for the session (the returned aggregate
    // is lazy, so unpersisting here would defeat the anchor) — long-lived
    // sessions sweeping many corpora should spark.catalog.clearCache()
    // between workloads; CacheManager dedupes repeat calls on one corpus.
    val local = counts.repartitionByRange(buckets, col("c").desc, col("w").asc)
      .withColumn("b", spark_partition_id())
      .withColumn("lr", row_number().over(
        Window.partitionBy("b").orderBy(col("c").desc, col("w").asc)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bucket offsets: buckets² ≤ ~10³ comparison rows — a left self-join
    // beats a global window (no single-partition sort anywhere in the plan)
    val totals = local.groupBy("b").agg(count(lit(1)).as("bn"))
    val offsets = totals.as("x")
      .join(totals.as("y"), col("y.b") < col("x.b"), "left")
      .groupBy(col("x.b")).agg(coalesce(sum(col("y.bn")), lit(0L)).as("boff"))
      .select(col("b"), col("boff"))
    val ranked0 = local.join(broadcast(offsets), "b")
      .select(col("w"), col("c"), (col("boff") + col("lr")).as("r"))
    val ranked = if (topV > 0) ranked0.where(col("r") <= topV) else ranked0
    ranked.select(log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
      .agg(count(lit(1)).cast("long").as("n_vocab"),
        round(covar_pop(col("x"), col("y")) / var_pop(col("x")), 6).as("zipf_slope"))
  }

  /** Heaps'-law vocabulary-growth curve — distinct-term count as the
    * corpus accumulates in `idCol` order, the companion diagnostic to
    * [[zipfStats]] (V(n) ≈ K·n^β for natural text; templated or heavily
    * duplicated corpora flatten early). Emits `checkpoints` rows
    * (checkpoint, bound, docs_seen, tokens_seen, vocab): the id axis is
    * cut at VALUE checkpoints `lo + (hi−lo)·i/K` (integer floor), and each
    * row reports the exact docs/tokens/vocab accumulated through that
    * bound — the (tokens_seen, vocab) pairs are the Heaps points whatever
    * the id distribution, since the x coordinate is measured, not assumed
    * uniform. A term is "seen" at the smallest containing doc id.
    *
    * Scale shape: NO global sort or rank anywhere — value checkpoints
    * come from one min/max aggregate (a rank-based cut would need a
    * distributed order statistic for no extra information in the output).
    * First occurrences are one groupBy(term) shuffle — vocabulary-sized,
    * the same exchange [[uniqueNgrams]] pays. Both curve aggregates join
    * a broadcast K-row bounds frame (≤ K× row expansion, combined
    * map-side into K groups before any exchange). Empty corpus → empty
    * result. Ids are assumed unique (the corpus contract everywhere else
    * here); duplicate ids would only merge their docs into one x position.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  checkpoints: Int = 10, uax29: Boolean = true): DataFrame = {
    require(checkpoints >= 1, "need at least one checkpoint")
    val spark = docs.sparkSession
    val base = graft.Par.fanOut(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol), uax29).as("__t"))
    val mm = base.agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
    val bounds = spark.range(1, checkpoints + 1).toDF("checkpoint")
      .crossJoin(broadcast(mm))
      .select(col("checkpoint"),
        expr(s"__lo + ((__hi - __lo) * checkpoint) div $checkpoints")
          .as("bound"))
      .where(col("bound").isNotNull)
    val ds = base.select(col("doc_id"), size(col("__t")).cast("long").as("__dl"))
      .join(broadcast(bounds), col("doc_id") <= col("bound"))
      .groupBy("checkpoint", "bound")
      .agg(count(lit(1)).as("docs_seen"), sum("__dl").as("tokens_seen"))
    val vs = base.select(col("doc_id"), explode(col("__t")).as("__w"))
      .groupBy("__w").agg(min("doc_id").as("__fd"))
      .join(broadcast(bounds.select("checkpoint", "bound")),
        col("__fd") <= col("bound"))
      .groupBy("checkpoint").agg(count(lit(1)).as("vocab"))
    // left join + coalesce: a prefix of empty/punctuation-only docs has
    // docs_seen > 0 but no vocabulary yet — the curve must report
    // vocab = 0, not silently drop the checkpoint row
    ds.join(vs, Seq("checkpoint"), "left")
      .select(col("checkpoint"), col("bound"), col("docs_seen"),
        coalesce(col("tokens_seen"), lit(0L)).as("tokens_seen"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
  }

  /** Grouped top-k: the k most frequent n-grams WITHIN each group (per
    * source, per language, per domain) — the faceted variant of `wimbd topk`
    * (reference src/cmd/topk.rs runs once per corpus; per-subset runs are
    * how runs/run_analysis.sh loops over datasets). Ties break n-gram
    * ascending, like [[topK]].
    *
    * Scale shape: the explode+aggregate is the same partial-agg pipeline as
    * [[topK]]; the rank window then runs over the AGGREGATED (group, ngram)
    * frame — vocabulary-sized per group, orders of magnitude below the
    * corpus — partitioned by group, so no global sort and no single-task
    * window. Skewed groups sort only their own vocab.
    */
  def topKPerGroup(docs: DataFrame, groupCol: String, textCol: String, n: Int,
                   k: Int, uax29: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Par.fanOut(docs)
      .select(col(groupCol), explode(ngrams(tokens(col(textCol), uax29), n)).as("ngram"))
      .groupBy(col(groupCol), col("ngram")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(desc("cnt"), asc("ngram"))))
      .where(col("rank") <= k)
  }

  /** Per-document top-k TF-IDF terms — the keyword-extraction card next to
    * the frequency surfaces: tf(d,w) · ln(N / df(w)), ranked within each
    * document. What "characterizes this document against the corpus" —
    * the summarization/labeling primitive corpus browsers build on.
    *
    * Scale shape: ONE corpus scan — explode + (id, w) partial-agg for term
    * frequencies, then df(w) as a count window PARTITIONED BY TERM over
    * the (doc, term) frame (Zipf value skew lives in partition sizes, not
    * join keys; no second scan, no self-join — a dfreq-joined formulation
    * measured 10 exchanges with zero reuse, Spark does not dedup self-join
    * arms); the rank window partitions by document over each doc's own
    * distinct terms. Nothing global sorts.
    */
  def tfidfTerms(docs: DataFrame, idCol: String, textCol: String, k: Int,
                 uax29: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nRow = docs.agg(count(lit(1)).cast("double").as("__n"))
    graft.Par.fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol), uax29)).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .crossJoin(broadcast(nRow))
      .withColumn("tfidf", round(col("tf") * log(col("__n") / col("df")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(desc("tfidf"), asc("w"))))
      .where(col("rank") <= k)
      .select(col(idCol), col("w"), col("tf"), col("df"),
        col("tfidf"), col("rank").cast("long").as("rank"))
  }

  /** stats doc pointers: the argmax/argmin documents by token count with ties
    * kept (reference src/cmd/stats.rs:89-135 keeps lists of ties).
    */
  def statsExtremes(docs: DataFrame, textCol: String, idCol: String,
                    uax29: Boolean = true): DataFrame = {
    val t = graft.Par.fanOut(docs)
      .select(col(idCol), size(tokens(col(textCol), uax29)).as("toks"))
    // agg the two scalars, broadcast them back, filter — ties kept for
    // free. The rank-window formulation this replaces funneled the whole
    // corpus-cardinality (id, toks) frame through ONE task, twice; this
    // is two scans (map-side-combined agg + filter) and no global sort.
    val ext = t.agg(max("toks").as("__mx"), min("toks").as("__mn"))
    t.crossJoin(broadcast(ext))
      .where(col("toks") === col("__mx") || col("toks") === col("__mn"))
      .select(col(idCol), col("toks"),
        when(col("toks") === col("__mx"), lit("max")).otherwise(lit("min")).as("kind"))
  }
}
