package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution

/** The engine's one bounded driver gather, for frames that are small by
  * contract (centroid samples, prune lists, dedup sets, benchmark
  * batteries, batch probes) under a caller-supplied cap.
  *
  * Each call is ONE Spark job over every partition, whatever the session
  * settings: each task keeps at most `cap + 1` rows and the result
  * handler stops keeping partition results once the total passes `cap`,
  * so the driver holds O(cap) rows. (An unordered `limit(cap + 1)
  * .collect()` ramps over the partitions in several jobs.) Rows come back
  * in partition order, as `collect()` returns them.
  */
object Gather {

  /** All rows of `df` when there are at most `cap`, else None. */
  def bounded(df: DataFrame, cap: Int): Option[Array[Row]] = {
    // a cap-0 answer never carries rows: ship none
    if (cap == 0) return boundedCount(df, 0).map(_ => Array.empty[Row])
    requireCap(cap)
    val n = cap + 1
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    run(df, cap)(_.take(n).map(_.copy()).toArray)(_.length)
      .map(_.flatten.map(toRow))
  }

  /** The row count of `df` when it is at most `cap`, else None; no rows
    * leave the executors. A Long cap, held to [[bounded]]'s range.
    */
  def boundedCount(df: DataFrame, cap: Long): Option[Long] = {
    requireCap(cap)
    val n = cap.toInt + 1
    run(df.select(), cap)(_.take(n).size)(identity).map(_.map(_.toLong).sum)
  }

  private def requireCap(cap: Long): Unit =
    require(cap >= 0 && cap < Int.MaxValue,
      s"bounded gather cap must lie in [0, Int.MaxValue), got $cap")

  private def run[T: scala.reflect.ClassTag](df: DataFrame, cap: Long)(
      perPart: Iterator[InternalRow] => T)(size: T => Int): Option[Array[T]] = {
    val qe = df.queryExecution
    val sc = df.sparkSession.sparkContext
    atCaller(sc)(SQLExecution.withNewExecutionId(qe, Some("boundedGather")) {
      val rdd = qe.toRdd
      val parts = new Array[T](rdd.partitions.length)
      var total = 0L
      sc.runJob(rdd, perPart, (i: Int, r: T) => {
        total += size(r)
        if (total <= cap) parts(i) = r
      })
      if (total > cap) None else Some(parts)
    })
  }

  /** Runs `body` with its jobs' call site at the frame that called into
    * this object, as a Dataset action names its caller, so job listeners
    * attribute the gather to the operator that asked for it. A call site
    * already set on the thread is kept.
    */
  private def atCaller[A](sc: SparkContext)(body: => A): A = {
    val keys = Seq("callSite.short", "callSite.long")
    val before = keys.map(sc.getLocalProperty)
    if (before.forall(_ == null)) {
      def self(f: StackTraceElement) = f.getClassName == "graft.Gather" ||
        f.getClassName.startsWith("graft.Gather$")
      val frames = Thread.currentThread.getStackTrace.toSeq
        .dropWhile(!self(_)).dropWhile(self)
      val site = frames.headOption.fold("<unknown>")(f =>
        s"${f.getFileName}:${f.getLineNumber}")
      sc.setLocalProperty(keys(0), s"boundedGather at $site")
      sc.setLocalProperty(keys(1), frames.take(20).mkString("\n"))
    }
    try body
    finally keys.zip(before).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
