package graft

import org.apache.spark.sql.functions._

import graft.search.AnnIndex

/** Spark job budgets for the persisted-ANN query and maintenance calls.
  * Job counts are deterministic on a fixed fixture and plan, so they
  * catch a lost job-elision (an extra sizing count, a gather that ramps
  * over partitions) where wall clock on a shared host cannot. Budgets
  * are upper bounds, each the count measured when it was set. Lower one
  * when a change saves a job; never raise one to hide a regression.
  */
class AnnJobBudgetSpec extends SparkTestBase {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private val Budgets = Seq(
    "ivfKnnIndexed" -> 5,
    "ivfPqKnnIndexed" -> 7,
    "upsertIvfIndex" -> 12,
    "compactIvfIndex" -> 9)

  private def jobsOf(f: => Any): Int = jobIdsOf()(f).length

  test("indexed kNN, upsert and compact stay within their job budgets") {
    val ivf = "annbudget_ivf"
    val pq = "annbudget_pq"
    def reset(): Unit = Seq(ivf, pq).foreach(t => graft.queries.Tables.reset(
      spark, t, s"${t}__centroids", s"${t}__codebook", s"${t}__meta",
      s"${t}__compacting", s"${t}__old"))
    reset()
    try {
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = ivf, buckets = 4, force = true)
      AnnIndex.writeIvfPqIndex(emb, "vec_id", "embedding", step = 50, m = 8,
        table = pq, buckets = 4, codeStep = 50, force = true)
      val q = emb.where(col("vec_id") % 100 === 0)
      val late = emb.where(col("vec_id") % 97 === 5)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val measured = Seq(
        "ivfKnnIndexed" -> jobsOf(AnnIndex.ivfKnnIndexed(spark, ivf, q,
          "vec_id", "embedding", k = 5, nprobe = 3).collect()),
        "ivfPqKnnIndexed" -> jobsOf(AnnIndex.ivfPqKnnIndexed(spark, pq, q,
          "vec_id", "embedding", k = 5, nprobe = 3).collect()),
        "upsertIvfIndex" -> jobsOf(AnnIndex.upsertIvfIndex(spark, ivf,
          emb.where(col("vec_id") % 3 === 1), "vec_id", "embedding")),
        "compactIvfIndex" -> jobsOf(AnnIndex.compactIvfIndex(spark, ivf,
          AnnIndex.assignNew(spark, ivf, late, "vec_id", "embedding"))))
      info(measured.map { case (k, v) => s"$k=$v" }.mkString(" "))
      Budgets.zip(measured).foreach { case ((name, budget), (_, got)) =>
        assert(got <= budget, s"$name ran $got Spark jobs (budget $budget)")
      }
    } finally reset()
  }
}
