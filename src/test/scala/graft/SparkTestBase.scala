package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = Sessions.tune(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate())
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Ids of the Spark jobs `f` submits from this thread in `s`'s
    * context (AQE stage jobs included) — a job group plus the status
    * tracker, read after the listener bus drains.
    */
  def jobIdsOf(s: SparkSession = spark)(f: => Any): Seq[Int] = {
    val sc = s.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }
}
