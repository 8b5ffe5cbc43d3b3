package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The benchmark's one Spark listener. Only jobs submitted while the
  * calling thread carries the local property `bench.op` are recorded, so
  * untraced operations in the same SparkSession cost nothing but event
  * dispatch. Each job is attributed to the `graft.<module>` frame nearest
  * its call site (the long call site Spark stores on the result stage).
  */
class Tracer extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleW = 0L; var shuffleR = 0L
    var spill = 0L; var outBytes = 0L
    val moduleJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val moduleMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sourceWriteMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }

  private val byOp = mutable.Map.empty[String, Agg]
  private val jobOp = mutable.Map.empty[Int, (String, Long, String, String)]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageInput = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  private val execSite = mutable.Map.empty[Long, String]
  private def agg(op: String): Agg = byOp.getOrElseUpdate(op, new Agg)

  /** (module, innermost graft frame) of a long-form call site. */
  private def attribute(details: String): (String, String) = {
    val frame = details.split("\n").map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.bench."))
    frame match {
      case None => ("other", "")
      case Some(f) =>
        val m = """^graft\.(sources|operators|search|functions)\..*""".r
        f match {
          case m(mod) => (mod, f)
          case _ if f.startsWith("graft.Cli") => ("cli", f)
          case _ => ("other", f)
        }
    }
  }

  /** Jobs of a SQL execution (AQE stage materializations run on pool
    * threads) are attributed through the execution's own call site.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSite(s.executionId) = s.details }
    case s: SparkListenerSQLExecutionEnd => synchronized { execSite.remove(s.executionId) }
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    prop("bench.op").foreach { o =>
      val details = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
        .getOrElse(if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).details)
      val (mod, frame) = attribute(details)
      jobOp(js.jobId) = (o, js.time, mod, frame)
      js.stageIds.foreach(s => stageOp(s) = o)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(je.jobId).foreach { case (o, t0, mod, frame) =>
      val a = agg(o); val ms = je.time - t0
      a.jobs += 1
      a.moduleJobs(mod) += 1; a.moduleMs(mod) += ms
      if (mod == "sources" && frame.contains("writeJsonl")) a.sourceWriteMs("writeJsonl") += ms
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(sc.stageInfo.stageId).foreach(o => agg(o).stages += 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(te.stageId).foreach { o =>
      val a = agg(o); a.tasks += 1
      stageTasks.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += te.taskInfo.duration
      val m = te.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        stageInput(te.stageId) += m.inputMetrics.bytesRead
      }
    }
  }

  def ops(prefix: String): Seq[Agg] = synchronized {
    byOp.collect { case (k, v) if k.startsWith(prefix) => v }.toSeq
  }

  /** Median over scan stages (stages that read input) of max/median task time. */
  def scanSkew(prefix: String): Double = synchronized {
    val skews = stageTasks.collect {
      case (s, ts) if stageInput(s) > 0 && stageOp.get(s).exists(_.startsWith(prefix)) && ts.nonEmpty =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        sorted.last / math.max(med, 1.0)
    }.toSeq.sorted
    if (skews.isEmpty) 0.0 else skews(skews.size / 2)
  }
}
