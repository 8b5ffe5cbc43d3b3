package graft.bench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{Cli, Par, Sessions}
import graft.functions.TextFunctions
import graft.operators.{Dedup, FeatureHash, NgramOps, TextQuality}
import graft.search.{AnnIndex, InvertedIndex}
import graft.sources.Corpus

/** In-process runner for one benchmark run. Reads a `key<TAB>value` spec
  * written by `benchmark/run.py`, drives the engine through `Cli.run` and
  * the public functions of `sources`, `operators` and `search`, and
  * appends one JSON object per line to the result file: `op` records
  * (one per timed operation, with its output location or rows, which the
  * Python side checks against DuckDB truths) and `metric` records.
  *
  * With `trace=1` a [[Tracer]] is registered, every other unit of work is
  * tagged for it, and layer probes (timed plan cuts around public
  * functions) run after the timed loop.
  */
object Main extends AdaptiveSparkPlanHelper {

  final class Spec(m: Map[String, Seq[String]]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"spec lacks $k")).last
    def all(k: String): Seq[String] = m.getOrElse(k, Nil)
    def int(k: String): Int = apply(k).toInt
  }

  def readSpec(path: String): Spec = {
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
    new Spec(lines.filter(_.contains("\t")).map { l =>
      val i = l.indexOf('\t'); (l.take(i), l.drop(i + 1))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq })
  }

  final class Out(path: String) {
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8))
    private def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def json(v: Any): String = v match {
      case null => "null"
      case s: String => q(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => json(f.toDouble)
      case n: Number => n.toString
      case b: Boolean => b.toString
      case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
      case a: Array[_] => json(a.toSeq)
      case r: Row => json(r.toSeq)
      case o => q(o.toString)
    }
    private val start = System.nanoTime()
    /** One record; `t` = seconds since the runner started. */
    def rec(fields: (String, Any)*): Unit = synchronized {
      w.write(json(fields.toMap + ("t" -> (System.nanoTime() - start) / 1e9))); w.newLine(); w.flush()
    }
    def metric(name: String, value: Double): Unit =
      rec("kind" -> "metric", "name" -> name, "value" -> value)
    def close(): Unit = w.close()
  }

  def main(args: Array[String]): Unit = {
    val spec = readSpec(args(0))
    val out = new Out(spec("result"))
    try new Run(spec, out).run() finally out.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val m = s.size / 2; if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }

  def secs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Sum of a named SQL metric over the file scans of an executed plan. */
  def scanMetric(df: DataFrame, name: String): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get(name).map(_.value).getOrElse(0L)
    }.sum

  final class Run(spec: Spec, out: Out) {
    private val workload = spec("workload")
    private val seconds = spec("seconds").toDouble
    private val trace = spec("trace") == "1"
    private val cores = spec.int("cores")
    private val reps = spec.int("setup_reps")
    private val work = spec("work")
    private val t0 = System.nanoTime()

    private val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .getOrCreate()
    Sessions.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    private val sessionS = (System.nanoTime() - t0) / 1e9
    private val tracer: Option[Tracer] =
      if (trace) { val t = new Tracer; spark.sparkContext.addSparkListener(t); Some(t) } else None
    import spark.implicits._

    private var outSeq = 0
    private def outDir(kind: String): String = {
      outSeq += 1; s"$work/out/$kind-$outSeq"
    }

    /** Runs `body` with jobs tagged `tag` for the tracer (None = untagged). */
    private def tagged[A](tag: Option[String])(body: => A): A = {
      val sc = spark.sparkContext
      tag.foreach(t => sc.setLocalProperty("bench.op", t))
      try body finally sc.setLocalProperty("bench.op", null)
    }

    /** One timed operation; failures are recorded, never thrown. */
    private def op(kind: String, unit: Int, tag: Option[String],
                   extra: (String, Any)*)(body: => Any): Double = {
      val t = System.nanoTime()
      val (ok, err, res) =
        try (true, "", tagged(tag)(body))
        catch { case e: Throwable => (false, e.toString.take(500), null) }
      val s = (System.nanoTime() - t) / 1e9
      val fields = Seq("kind" -> "op", "op" -> kind, "unit" -> unit, "s" -> s,
        "ok" -> ok, "err" -> err, "traced" -> tag.nonEmpty) ++ extra ++
        (res match { case rows: Array[Row] => Seq("rows" -> rows.toSeq); case _ => Nil })
      out.rec(fields: _*)
      s
    }

    private def cli(argv: Seq[String]): Unit = Cli.run(spark, argv.toArray)

    private def heapPeakMb(): Double =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

    private def resetHeapPeak(): Unit =
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    private def elapsed(since: Long): Double = (System.nanoTime() - since) / 1e9

    /** Units 1 and 2 of every 4 are traced (A B B A), so warm-up drift
      * cancels out of the traced-vs-untraced comparison.
      */
    private def traced(unit: Int): Boolean = trace && (unit % 4 == 1 || unit % 4 == 2)

    /** Median wall of `n` runs of a plan cut. */
    private def cutS(n: Int)(f: => Any): Double = median((1 to n).map(_ => secs(f)._1))

    private def setup(body: Int => Unit): Unit = {
      val times = (0 until reps).map(r => secs(body(r))._1)
      out.rec("kind" -> "setup", "session_s" -> sessionS, "reps" -> times)
      out.metric("setup_s", sessionS + median(times))
    }

    def run(): Unit = {
      workload match {
        case "scan_count" => scanCount()
        case "ingest_follow" => ingestFollow()
        case w => sys.error(s"unknown workload $w")
      }
      out.rec("kind" -> "done")
      spark.stop()
    }

    // ------------------------------------------------------------ scan_count

    private def battery(path: String): Seq[(String, Seq[String])] = Seq(
      "topk" -> Seq("topk", path, "--ngram", "3", "--topk", "20"),
      "topk_approx" -> Seq("topk", path, "--approx", "--ngram", "3", "--topk", "20"),
      "count" -> (Seq("count", path) ++ spec.all("phrase").flatMap(p => Seq("--search", p))),
      "stats" -> Seq("stats", path),
      "unique" -> Seq("unique", path, "--ngram", "3"))

    private def scanCount(): Unit = {
      val shards = spec("shards")
      setup { _ =>
        battery(spec("warm_shard")).foreach { case (k, argv) =>
          cli(argv ++ Seq("--out", outDir(s"warm-$k"), "--force"))
        }
      }
      resetHeapPeak()
      val start = System.nanoTime()
      var i = 0
      while (i < spec.int("min_units") || elapsed(start) < seconds) {
        val tag = if (traced(i)) Some("scan") else None
        val bs = secs(battery(shards).foreach { case (k, argv) =>
          val dir = outDir(k)
          op(k, i, tag.map(t => s"$t.$k"), "out" -> dir)(cli(argv ++ Seq("--out", dir, "--force")))
        })._1
        out.rec("kind" -> "unit", "unit" -> i, "s" -> bs, "traced" -> tag.nonEmpty)
        i += 1
      }
      if (trace) {
        val topkCut = textProbes(shards, spec("input_bytes").toDouble)
        out.rec("kind" -> "probe", "name" -> "topk_collect_s", "value" -> topkCut)
        finishTrace("scan", storageFiles = Nil)
      }
    }

    /** sources → functions → operators plan cuts over one corpus; returns
      * the exact top-k collect wall (the library call under `topk`).
      */
    private def textProbes(path: String, gzBytes: Double): Double = {
      def docs = Par.fanOut(Corpus.readJsonl(spark, Seq(path)))
      def toks = NgramOps.tokens(col("text"))
      def grams = docs.select(explode(TextFunctions.ngrams(toks, 3)).as("g"))
      val decode = cutS(3)(Corpus.readJsonl(spark, Seq(path)).write.format("noop").mode("overwrite").save())
      val tok = cutS(3)(docs.agg(sum(size(toks))).collect())
      val expl = cutS(3)(grams.agg(count(lit(1))).collect())
      val agg = cutS(3)(grams.groupBy("g").agg(count(lit(1)).as("c")).agg(sum("c")).collect())
      val topk = cutS(3)(NgramOps.topK(Corpus.readJsonl(spark, Seq(path)), "text", 3, 20).collect())
      val cms = cutS(3)(NgramOps.topKApprox(Corpus.readJsonl(spark, Seq(path)), "text", 3, 20).collect())
      out.metric("sources.decode_s", decode)
      out.metric("sources.input_mb_per_s", gzBytes / (1 << 20) / decode)
      out.metric("functions.tokenize_s", tok - decode)
      out.metric("operators.ngram_explode_s", expl - tok)
      out.metric("operators.ngram_agg_s", agg - expl)
      out.metric("operators.topk_select_s", topk - agg)
      out.metric("operators.cms_s", cms - 2 * expl)
      topk
    }

    // ------------------------------------------------------------- lookups

    private val knnK = 10

    private def phraseOp(table: String, p: String, unit: Int, tag: Option[String]): Double = {
      val dir = outDir("phrase")
      op("phrase", unit, tag, "out" -> dir, "q" -> p)(
        cli(Seq("index", "--table", table, "--search", p, "--out", dir, "--force")))
    }

    private def knnOp(table: String, text: String, unit: Int, tag: Option[String]): Double = {
      val dir = outDir("knn")
      op("knn", unit, tag, "out" -> dir, "q" -> text)(
        cli(Seq("ann", "--table", table, "--query-text", text, "--topk", knnK.toString,
          "--out", dir, "--force")))
    }

    private def bm25(table: String, terms: String): DataFrame = {
      val post = InvertedIndex.readIndex(spark, table)
      InvertedIndex.bm25TopK(post, InvertedIndex.normsOf(spark, table, post), terms.split(" ").toSeq, knnK)
    }

    private def bm25Op(table: String, terms: String, unit: Int, tag: Option[String]): Double =
      op("bm25", unit, tag, "q" -> terms)(bm25(table, terms).collect())

    /** Timed plan cuts around the public functions each lookup calls:
      * plan = build + `executedPlan`, exec = collect.
      */
    private def searchProbes(t: String, a: String, phrases: Seq[String],
                             knnTexts: Seq[String], bm25Qs: Seq[String]): Unit = {
      val catalog = mutable.ArrayBuffer.empty[Double]
      def cut(kind: String, n: Int)(build: Int => DataFrame)(hits: Array[Row] => Long): Unit = {
        val res = (0 until n).map { i =>
          val t0 = System.nanoTime()
          val df = build(i)
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          val rows = df.collect()
          val t2 = System.nanoTime()
          ((t1 - t0) / 1e6, (t2 - t1) / 1e6, scanMetric(df, "numFiles").toDouble,
            scanMetric(df, "numOutputRows").toDouble, hits(rows).toDouble)
        }
        out.metric(s"search.plan_ms.$kind", median(res.map(_._1)))
        out.metric(s"search.exec_ms.$kind", median(res.map(_._2)))
        out.metric(s"search.files_read_per_op.$kind", res.map(_._3).sum / n)
        out.metric(s"search.rows_scanned_per_hit.$kind",
          res.map(_._4).sum / math.max(1.0, res.map(_._5).sum))
      }
      cut("phrase", phrases.size) { i =>
        catalog += secs(spark.catalog.tableExists(t))._1 * 1e3
        InvertedIndex.phraseHits(InvertedIndex.readIndex(spark, t), Seq(phrases(i)))
      }(rows => rows.map(_.getAs[Long]("n_docs")).sum)
      cut("bm25", bm25Qs.size)(i => bm25(t, bm25Qs(i)))(_.length.toLong)
      cut("knn", knnTexts.size) { i =>
        catalog += secs(AnnIndex.registerIvfIndex(spark, a))._1 * 1e3
        val q = FeatureHash.hashedEmbeddings(Seq(("__query", knnTexts(i))).toDF("id", "text"),
          "id", "text", 64, uax29 = true)
        AnnIndex.ivfKnnIndexed(spark, a, q, "id", "emb", k = knnK, nprobe = 3)
      }(_.length.toLong)
      out.metric("search.catalog_ms", median(catalog.toSeq))
    }

    // --------------------------------------------------------- ingest_follow

    private def copyShards(from: String, to: String): Unit = {
      Files.createDirectories(Paths.get(to))
      new File(from).listFiles().filter(_.getName.endsWith(".gz")).foreach { f =>
        Files.copy(f.toPath, Paths.get(to, f.getName), StandardCopyOption.REPLACE_EXISTING)
      }
    }

    private def ingestFollow(): Unit = {
      val batches = spec.all("batch")
      val bench = spec("bench")
      val timed = spec.int("timed_batches")
      val canaries = spec.all("canary")
      // per batch: LOOKUPS_PER_KIND BM25 queries and kNN texts, in order
      val perBatch = spec.all("bm25").size / batches.size
      val (bm25s, knns) = (spec.all("bm25").grouped(perBatch).toSeq, spec.all("knn").grouped(perBatch).toSeq)
      def dirs(r: Int) = (s"$work/drop$r", s"$work/state$r", s"$work/annstate$r", s"idx$r", s"ann$r")
      def ingestBatch(r: Int, b: Int, unit: Int, tag: Option[String]): (Double, Double) = {
        val (drop, state, annState, t, a) = dirs(r)
        copyShards(batches(b), drop)
        val si = op("ingest", unit, tag.map(_ + ".ingest"), "batch" -> b, "state" -> state)(
          cli(Seq("ingest", drop, "--follow", state, "--bench", bench, "--table", t)))
        val sa = op("ann_follow", unit, tag.map(_ + ".ann"), "batch" -> b)(
          cli(Seq("ann", drop, "--table", a, "--follow", annState)))
        (si, sa)
      }
      setup { r =>
        ingestBatch(r, 0, -1, None)
        val (_, _, _, t, a) = dirs(r)
        cli(Seq("index", "--table", t, "--search", canaries.head, "--out", outDir("warm"), "--force"))
        bm25(t, bm25s.head.head).collect()
        cli(Seq("ann", "--table", a, "--query-text", knns.head.head, "--out", outDir("warm"), "--force"))
      }
      val r = reps - 1
      val (_, state, _, t, a) = dirs(r)
      out.rec("kind" -> "paths", "state" -> state, "tables" -> Seq(t, a),
        "warehouse" -> s"$work/warehouse")
      resetHeapPeak()
      for (b <- 1 to timed) {
        val tag = if (traced(b - 1)) Some("ingest") else None
        val (si, sa) = ingestBatch(r, b, b, tag)
        out.rec("kind" -> "unit", "unit" -> b, "s" -> (si + sa), "traced" -> tag.nonEmpty)
        // untimed checks: index and ANN contents after the batch
        out.rec("kind" -> "check", "unit" -> b,
          "index_docs" -> InvertedIndex.readIndex(spark, t).select("doc_id").distinct().count(),
          "ann_rows" -> spark.table(a).count())
        // read-after-write lookups, interleaved by kind: canary phrases
        // (this batch's, then the previous one's), BM25, kNN
        def look(kind: String) = tag.map(_ => s"ingest.$kind")
        Seq(canaries(b), canaries(b - 1)).zip(bm25s(b)).zip(knns(b)).foreach { case ((p, q), k) =>
          phraseOp(t, p, b, look("phrase"))
          bm25Op(t, q, b, look("bm25"))
          knnOp(a, k, b, look("knn"))
        }
      }
      val late = FeatureHash.hashedEmbeddings(Corpus.readJsonl(spark, Seq(spec("late"))),
        "id", "text", 64, uax29 = true)
      val compactS = op("compact", timed + 1, None) {
        AnnIndex.compactIvfIndex(spark, a, AnnIndex.assignNew(spark, a, late, "id", "emb"))
      }
      out.rec("kind" -> "check", "unit" -> (timed + 1), "ann_rows" -> spark.table(a).count())
      // exhaustive kNN (nprobe = every list) over planted vectors
      op("vector_exact", timed + 1, None) {
        AnnIndex.writeIvfIndex(spark.read.parquet(spec("vectors")), "id", "emb",
          step = 100, table = "vec", buckets = 4, force = true, hashedIds = true)
        val lists = AnnIndex.centroidCountOf(spark, "vec").toInt
        AnnIndex.ivfKnnIndexed(spark, "vec", spark.read.parquet(spec("vector_queries")),
          "id", "emb", k = 10, nprobe = lists).select("query_id", "neighbor_id", "rank").collect()
      }
      if (trace) {
        val probeDir = batches.last
        textProbes(probeDir, spec("probe_bytes").toDouble)
        val raw = Corpus.readJsonl(spark, Seq(probeDir))
        val cols = raw.columns.toSeq
        val keyed = Corpus.withFileLineId(raw.where(col("text").isNotNull), "__iid", fullPath = true)
        val gated = TextQuality.gopherFilter(keyed, "__iid", "text", passthrough = cols)
          .where(col("keep")).select(("__iid" +: cols).map(col): _*)
        val deduped = Dedup.dedupIncremental(gated, md5(col("text")), Seq(col("__iid")), s"$state/hashes")
        val clean = Dedup.decontaminate(deduped, md5(col("text")),
          Corpus.readJsonl(spark, Seq(bench)), md5(col("text")))
        val decode = cutS(3)(raw.write.format("noop").mode("overwrite").save())
        val (tq, td, tc) = (cutS(3)(gated.count()), cutS(3)(deduped.count()), cutS(3)(clean.count()))
        val (nq, nd) = (gated.count(), deduped.count())
        out.metric("operators.quality_gate_s", tq - decode)
        out.metric("operators.dedup_s", td - tq)
        out.metric("operators.decontam_s", tc - td)
        out.metric("operators.dedup_drop_ratio", 1.0 - nd.toDouble / math.max(1L, nq))
        val lookups = 1 to timed
        searchProbes(t, a, lookups.map(canaries), lookups.map(b => knns(b).head),
          lookups.map(b => bm25s(b).head))
        out.metric("search.ann_compact_s", compactS)
        finishTrace("ingest", storageFiles = Seq(t, a))
      }
    }

    // ---------------------------------------------------------------- trace

    private def dataFiles(table: String): Int = {
      val wh = new File(s"$work/warehouse")
      Option(wh.listFiles()).toSeq.flatten
        .filter(d => d.getName == table || d.getName.startsWith(table + "__"))
        .map(d => Files.walk(d.toPath).iterator().asScala.count { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
        }).sum
    }

    /** Per-layer metrics from the tracer, normalized per traced unit. */
    private def finishTrace(prefix: String, storageFiles: Seq[String]): Unit = {
      val tr = tracer.get
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      out.metric("jvm.heap_peak_mb", heapPeakMb())
      val aggs = tr.ops(prefix + ".")
      def total(f: tr.Agg => Long): Double = aggs.map(f).sum.toDouble
      out.rec("kind" -> "trace", "jobs" -> total(_.jobs),
        "stages" -> total(_.stages), "tasks" -> total(_.tasks), "cpu_ns" -> total(_.cpuNs),
        "gc_ms" -> total(_.gcMs), "shuffle_w" -> total(_.shuffleW),
        "shuffle_r" -> total(_.shuffleR), "spill" -> total(_.spill),
        "out_bytes" -> total(_.outBytes),
        "skew" -> tr.scanSkew(prefix + "."),
        "module_jobs" -> Seq("sources", "operators", "search", "functions", "cli", "other")
          .map(m => m -> aggs.map(_.moduleJobs(m)).sum).toMap,
        "module_ms" -> Seq("sources", "operators", "search", "functions", "cli", "other")
          .map(m => m -> aggs.map(_.moduleMs(m)).sum).toMap,
        "ops" -> Seq("phrase", "bm25", "knn", "ingest", "ann").map { k =>
          val s = tr.ops(s"$prefix.$k")
          k -> Map("jobs" -> s.map(_.jobs).sum, "tasks" -> s.map(_.tasks).sum,
            "search_ms" -> s.map(_.moduleMs("search")).sum,
            "write_ms" -> s.map(_.sourceWriteMs("writeJsonl")).sum,
            "out_bytes" -> s.map(_.outBytes).sum)
        }.toMap,
        "index_files" -> storageFiles.map(dataFiles).sum)
    }
  }
}
