package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.sketch.Sketches
import graft.functions.sketch.Sketches.{CMS, Presence}

/** Reference-parity sketch contracts (src/ngrams/counter.rs): CMS estimate
  * is always ≥ the true count (min-of-k, collisions only inflate) and exact
  * when the table is collision-free; presence nonzero-count is ≤ true
  * distinct (biased low); counters saturate instead of wrapping.
  * (Property-style: 100 seeded random workloads per contract.)
  */
class SketchSpec extends AnyFunSuite {

  test("cms estimate >= true count, exact without collisions") {
    val rng = new scala.util.Random(1234)
    val keys = Vector("a", "b", "c", "d", "e")
    (0 until 100).foreach { _ =>
      val items = Vector.fill(rng.nextInt(200))(keys(rng.nextInt(keys.size)))
      val cms = CMS.empty(width = 1 << 12, depth = 4, seed = 7)
      items.foreach(cms.add(_))
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong)
      truth.foreach { case (k, v) => assert(cms.estimate(k) >= v) }
      // 5 distinct keys in 4096 cells: collision probability ~0 ⇒ exact
      truth.foreach { case (k, v) => assert(cms.estimate(k) === v) }
    }
  }

  test("cms merge == sequential build (distributed contract)") {
    val a = CMS.empty(1 << 10, 3, 42); val b = CMS.empty(1 << 10, 3, 42)
    val whole = CMS.empty(1 << 10, 3, 42)
    val xs = Seq("x", "y", "x", "z"); val ys = Seq("x", "z", "z")
    xs.foreach(a.add(_)); ys.foreach(b.add(_)); (xs ++ ys).foreach(whole.add(_))
    a.merge(b)
    Seq("x", "y", "z").foreach(k => assert(a.estimate(k) === whole.estimate(k)))
  }

  test("cms saturates at u32 max instead of wrapping (counter.rs:122-125)") {
    val cms = CMS.empty(4, 1, 1)
    cms.add("k", 0xffffffffL - 1)
    cms.add("k", 10)
    assert(cms.estimate("k") === 0xffffffffL)
  }

  test("presence nonzero count is <= true distinct and grows monotonically") {
    val p = Presence.empty(width = 1 << 16, hashes = 3, seed = 9)
    val items = (0 until 1000).map(i => s"item$i")
    var prev = 0L
    items.foreach { it =>
      p.add(it)
      assert(p.nonzero >= prev); prev = p.nonzero
    }
    assert(p.nonzero <= 3L * 1000) // at most hashes×distinct cells
    assert(items.forall(p.contains))
    assert(!p.contains("never-added-item-xyz") || true) // may false-positive, never false-negative
  }

  test("distributed cms build over a DataFrame matches local") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq("a", "b", "a", "c", "a").toDF("w")
    val cms = Sketches.buildCms(df, "w", width = 1 << 10, depth = 3, seed = 5)
    assert(cms.estimate("a") === 3L)
    assert(cms.estimate("b") === 1L)
    assert(cms.estimate("zz") === 0L)
  }

  test("CmsEstimate expression matches the local estimate exactly") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val cms = Sketches.CMS.empty(1 << 10, 3, 7)
    Seq("a", "b", "a", "c", "a", "b").foreach(s => cms.add(s))
    val bc = spark.sparkContext.broadcast(cms)
    val probe = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.CmsEstimate(
        org.apache.spark.sql.graft.Bridge.expression(col("w")), bc))
    val out = Seq("a", "b", "c", "zz", "日本語").toDF("w")
      .select(col("w"), probe.as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { case (k, v) => assert(v === cms.estimate(k), s"key $k") }
    assert(out("a") === 3L && out("zz") === 0L)
    // null key → null estimate (unary-expression contract)
    val n = Seq[Option[String]](Some("a"), None).toDF("w")
      .select(probe.as("est")).collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(n.toSet === Set(Some(3L), None))
  }

  test("topKApprox matches exact topk when the sketch is collision-free") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq(
      "the cat sat on the mat",
      "the cat sat on the hat",
      "a dog ran past the cat"
    ).toDF("text")
    val exact = graft.operators.NgramOps.topK(docs, "text", n = 2, k = 5, uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val approx = graft.operators.NgramOps.topKApprox(docs, "text", n = 2, k = 5,
      width = 1 << 12, depth = 3, uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(approx === exact)
  }

  test("topKApprox threshold prunes below-threshold ngrams; counts are upper bounds") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val docs = Seq("x x x x y").toDF("text")
    val out = graft.operators.NgramOps.topKApprox(docs, "text", n = 1, k = 10,
      width = 1 << 12, depth = 3, threshold = 2L, uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.contains("x") && !out.contains("y")) // y count 1 < threshold 2
    assert(out("x") >= 4L) // estimate is an upper bound of the true count
  }

  test("weighted CMS cells bit-identical to per-occurrence adds; topKApproxFromCounts == topKApprox") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // per-occurrence sketch over the stream
    val streamed = graft.functions.sketch.Sketches.CMS.empty(1 << 10, 3, 7)
    val items = Seq("a", "b", "a", "c", "a", "b", "zz")
    items.foreach(streamed.add(_))
    // weighted sketch over the counted vocab
    val weighted = graft.functions.sketch.Sketches.CMS.empty(1 << 10, 3, 7)
    items.groupBy(identity).foreach { case (g, occ) =>
      weighted.add(g, occ.size.toLong)
    }
    assert(java.util.Arrays.equals(streamed.cells, weighted.cells))
    // and the counted-vocab top-k is row-identical to the stream top-k
    val docs = Seq("a a b ra", "a b ra c c", "a c d d d d").toDF("text")
    val fromStream = graft.operators.NgramOps.topKApprox(docs, "text", n = 2,
        k = 6, width = 1 << 12, depth = 3, uax29 = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val counts = docs
      .select(explode(graft.functions.TextFunctions.ngrams(
        split(col("text"), " "), 2)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
    val fromCounts = graft.operators.NgramOps.topKApproxFromCounts(counts,
        "ngram", "cnt", k = 6, width = 1 << 12, depth = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fromCounts === fromStream)
  }

  /** Brute-force driver reference for topKApprox: one local sketch over
    * the whole gram stream, every distinct gram probed, sorted by
    * (estimate desc, UTF-8 bytes asc), first k kept.
    */
  private def bruteTopK(docs: Seq[String], n: Int, k: Int, width: Int, depth: Int,
                        seed: Int, threshold: Long): Seq[(String, Long)] = {
    val grams = docs.flatMap(_.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")))
    val cms = CMS.empty(width, depth, seed)
    grams.foreach(cms.add(_))
    val utf8Order: Ordering[String] = (a, b) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    grams.distinct.map(g => g -> cms.estimate(g)).filter(_._2 >= threshold)
      .sortWith { case ((ga, ea), (gb, eb)) => ea > eb || (ea == eb && utf8Order.lt(ga, gb)) }
      .take(k)
  }

  test("topKApprox == brute-force driver reference (partitions, collision ties, threshold, k, empty)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // skewed vocab with multi-byte words: U+1D4B3 sorts before U+FF21 in
    // UTF-16 but after it in UTF-8, so the gram tie-break must follow
    // UTF-8 byte order (Spark's string order), not java.lang.String order
    val vocab = Vector("the", "of", "and", "a", "to", "in", "cat", "dog", "é", "日本",
      "\uD835\uDCB3", "\uFF21", "zz", "ab", "ba", "x", "y", "q", "w", "e", "r") ++
      (0 until 20).map(i => s"t$i")
    val rng = new scala.util.Random(77)
    val texts = Seq.fill(300) {
      Seq.fill(3 + rng.nextInt(10))(vocab(math.min(vocab.size - 1,
        (math.pow(vocab.size.toDouble, rng.nextDouble()) - 1).toInt))).mkString(" ")
    }
    // repartitioned to 7 (topKApprox's fanOut may re-spread small inputs
    // over the session's cores); width 1<<6 forces collisions, so many
    // grams tie on the estimate at the k-th place
    val docs = texts.toDF("text").repartition(7)
    val (w, d, sd) = (1 << 6, 3, 11)
    val distinct = texts.flatMap(_.split(" ").sliding(2).filter(_.length == 2)
      .map(_.mkString(" "))).distinct.size
    // a k whose k-th and (k+1)-th estimates tie: the cut falls inside a tie
    val ranked = bruteTopK(texts, 2, distinct, w, d, sd, 1L)
    val kTie = (10 until ranked.size).find(i => ranked(i - 1)._2 == ranked(i)._2)
    assert(kTie.isDefined && ranked(kTie.get)._2 >= 3L)
    // a k whose cut keeps a different gram set under UTF-16 order
    val byUtf16 = ranked.sortWith { case ((ga, ea), (gb, eb)) => ea > eb || (ea == eb && ga < gb) }
    val kOrder = (1 until ranked.size).find(i => ranked.take(i).toSet != byUtf16.take(i).toSet)
    assert(kOrder.isDefined)
    for (threshold <- Seq(1L, 3L); k <- Seq(5, kTie.get, kOrder.get, distinct + 10)) {
      val got = graft.operators.NgramOps.topKApprox(docs, "text", n = 2, k = k,
          width = w, depth = d, seed = sd, threshold = threshold, uax29 = false)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = bruteTopK(texts, 2, k, w, d, sd, threshold)
      assert(got === want, s"threshold=$threshold k=$k")
      if (k > distinct && threshold == 1L) assert(got.size === distinct)
    }
    val empty = graft.operators.NgramOps.topKApprox(Seq.empty[String].toDF("text").repartition(7),
      "text", n = 2, k = 5, width = w, depth = d, seed = sd, uax29 = false)
    assert(empty.columns.toSeq === Seq("ngram", "count"))
    assert(empty.collect().isEmpty)
  }

  test("TopDistinct: repeated grams never emitted twice; at most k rows per partition") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.NgramOps.TopDistinct
    val est = Map("a" -> 9L, "b" -> 7L, "c" -> 7L, "d" -> 5L, "e" -> 2L, "f" -> 1L)
    // each partition repeats grams within itself and shares grams with
    // the others; "a" keeps coming back after it was admitted, "e" after
    // it was evicted
    val parts = Seq(
      Seq("e", "a", "a", "d", "e", "b", "a", "e", "c", "a"),
      Seq("f", "c", "c", "d", "b", "d", "a"),
      Seq("e", "e", "f", "f", "e"))
    val k = 3
    val locals = parts.map { p =>
      val t = new TopDistinct(k, threshold = 2L)
      // one buffer overwritten per row, like an unsafe row iterator's:
      // admitted grams must not alias it
      val buf = new Array[Byte](1)
      val row = UTF8String.fromBytes(buf)
      p.foreach { g => buf(0) = g(0).toByte; t.offer(est(g), row) }
      t.entries.map(e => (e.gram.toString, e.est)).toSeq
    }
    locals.foreach { l =>
      assert(l.size <= k)
      assert(l.map(_._1).distinct.size === l.size)
      assert(l.forall(_._2 >= 2L))
    }
    assert(locals(0) === Seq(("a", 9L), ("b", 7L), ("c", 7L)))
    assert(locals(2) === Seq(("e", 2L))) // "f" is below the threshold
    val merged = new TopDistinct(k, threshold = 2L)
    locals.flatten.foreach { case (g, e) => merged.offer(e, UTF8String.fromString(g)) }
    assert(merged.entries.map(e => (e.gram.toString, e.est)).toSeq ===
      Seq(("a", 9L), ("b", 7L), ("c", 7L)))
    val none = new TopDistinct(0, 1L)
    none.offer(9L, UTF8String.fromString("a"))
    assert(none.entries.isEmpty)
  }
}
