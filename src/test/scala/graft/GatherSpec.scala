package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The bounded driver gather: its cap boundaries, its one-job cost in a
  * session nobody tuned, and the rule that it is the engine's only one.
  */
class GatherSpec extends SparkTestBase {

  /** Spark jobs `f` submits from this thread, with their stage names. */
  private def jobsOf(s: SparkSession)(f: => Any): (Int, Seq[String]) = {
    val tracker = s.sparkContext.statusTracker
    val jobs = jobIdsOf(s)(f)
    (jobs.length, jobs.flatMap(tracker.getJobInfo(_).toSeq)
      .flatMap(_.stageIds.toSeq).flatMap(tracker.getStageInfo(_).toSeq)
      .map(_.name))
  }

  test("cap boundaries: exactly cap rows is Some, cap + 1 is None") {
    val df = spark.range(0, 10, 1, 3).toDF("id")
    assert(Gather.bounded(df, 10).map(_.map(_.getLong(0)).toSeq) ===
      Some(0L until 10L))
    assert(Gather.bounded(df, 9).isEmpty)
    assert(Gather.bounded(df, 0).isEmpty)
    val empty = df.where(lit(false))
    assert(Gather.bounded(empty, 0).map(_.length) === Some(0))
    assert(Gather.boundedCount(empty, 0) === Some(0L))
    Seq(10L, 11L, 1000L).foreach(cap =>
      assert(Gather.boundedCount(df, cap) === Some(df.count()), cap))
    Seq(0L, 1L, 9L).foreach(cap =>
      assert(Gather.boundedCount(df, cap).isEmpty, cap))
    // a filtered frame: the cap applies to the rows that survive
    val odd = df.where(col("id") % 2 === 1)
    assert(Gather.boundedCount(odd, 5) === Some(5L))
    assert(Gather.bounded(odd, 4).isEmpty)
    Seq(-1L, Int.MaxValue.toLong).foreach { cap =>
      intercept[IllegalArgumentException](Gather.boundedCount(df, cap))
      intercept[IllegalArgumentException](Gather.bounded(df, cap.toInt))
    }
  }

  test("rows equal collect(): order, nulls, arrays and structs") {
    import spark.implicits._
    val df = Seq[(Long, String, Seq[Double])](
        (3L, "c", Seq(1.0, 2.0)), (1L, null, null), (2L, "b", Seq()))
      .toDF("id", "s", "v").repartition(2, col("id"))
      .withColumn("st", struct(col("s"), col("id")))
    assert(Gather.bounded(df, 3).get.toSeq === df.collect().toSeq)
  }

  test("one Spark job over a 64-partition frame in a session never tuned") {
    val untuned = spark.newSession()
    // Spark's default: a LIMIT's first round scans one partition
    assert(untuned.conf.get("spark.sql.limit.initialNumPartitions") === "1")
    val df: DataFrame = untuned.range(0, 640, 1, 64).toDF("id")
      .where(col("id") % 2 === 0)
    assert(df.rdd.getNumPartitions === 64)
    val cases = Seq[(String, () => Any)](
      "bounded under cap" -> (() => assert(Gather.bounded(df, 320).get.length === 320)),
      "bounded over cap" -> (() => assert(Gather.bounded(df, 100).isEmpty)),
      "emptiness probe" -> (() => assert(Gather.bounded(df, 0).isEmpty)),
      "count under cap" -> (() => assert(Gather.boundedCount(df, 320) === Some(320L))),
      "count over cap" -> (() => assert(Gather.boundedCount(df, 100).isEmpty)))
    cases.foreach { case (what, run) =>
      val (jobs, stages) = jobsOf(untuned)(run())
      assert(jobs === 1, what)
      // the job is named after the calling frame, not the helper
      assert(stages.forall(_.startsWith("boundedGather at GatherSpec.scala:")),
        s"$what: $stages")
    }
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
  }

  test("no hand-rolled limit(cap + 1) gather outside Gather in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    // `.limit(<expr> + 1)` (one level of parentheses inside) and the
    // `.limit(1).count()` existence probe, across line breaks. An ordered
    // top-k `orderBy(...).limit(k)` matches neither and stays allowed.
    val capped = ("""\.limit\(\s*(?:[^()]|\([^()]*\))*?\+\s*1\s*\)|""" +
      """\.limit\(\s*1\s*\)\s*\.count\(\)""").r
    val files = {
      val it = java.nio.file.Files.walk(root)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    assert(files.size > 50)
    val hits = files.filterNot(_.getFileName.toString == "Gather.scala")
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        capped.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          s"$f:$line: ${m.matched}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
    // the detector itself fires on the shapes it replaced
    Seq(".limit(cap + 1)", ".limit(budget / ts.length + 1)",
        ".limit(localCap.toInt + 1)", ".limit(\n  cap+1)", ".limit(1)\n  .count()")
      .foreach(s => assert(capped.findFirstIn(s).nonEmpty, s))
    Seq(".limit(k)", ".limit(k + slack)", ".limit(10)", ".limit(1).collect()")
      .foreach(s => assert(capped.findFirstIn(s).isEmpty, s))
  }
}
