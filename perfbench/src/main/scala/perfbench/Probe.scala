package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters, gathered only through public listener APIs.
  *
  * Events are recorded with their own timestamps and aggregated after the
  * fact, so a time window or a job group can be attributed without waiting
  * on the asynchronous listener bus at every boundary: call [[quiesce]]
  * once, then ask for any window.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())

  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // a schema-inference job reads parquet footers for DataFrameReader;
    // its long call site starts with the reader's frame
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    val schemaRead = details.linesIterator.nextOption().exists(
      _.contains("DataFrameReader.parquet")) &&
      (details.contains("graft.Tables$.load") || details.contains("graft.queries.Catalog$.table"))
    val rec = JobRec(e.jobId, group, e.time, schemaRead)
    e.stageIds.foreach(stageJob.put(_, rec))
    jobs.add(rec)
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val job = Option(stageJob.get(si.stageId))
    stages.add(StageRec(
      job.map(_.group).getOrElse(""),
      si.completionTime.getOrElse(System.currentTimeMillis()),
      si.numTasks,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    phases.add(PhaseRec(start, ms("analysis"), ms("optimization"), ms("planning")))
    touch()
  }

  /** Wait until every started job has ended and the bus has been idle for
    * a moment, so later aggregates see every event of the work done so far.
    */
  def quiesce(maxWaitMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    def settled = jobs.asScala.forall(j => jobEnds.containsKey(j.id)) &&
      System.currentTimeMillis() - lastEventMs.get() >= 250
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(25)
  }

  private def endOf(j: JobRec): Long =
    Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)

  /** Spark counts for jobs submitted in [t0, t1) (epoch ms). */
  def window(t0: Long, t1: Long): Counts =
    counts(j => j.startMs >= t0 && j.startMs < t1,
      s => s.endMs >= t0 && s.endMs < t1 + 1, t0, t1)

  /** Spark counts for one job group (the server's per-request query id). */
  def group(g: String): Counts =
    counts(_.group == g, _.group == g, 0L, 0L)

  private def counts(jp: JobRec => Boolean, sp: StageRec => Boolean,
                     t0: Long, t1: Long): Counts = {
    val js = jobs.asScala.filter(jp).toSeq
    val ss = stages.asScala.filter(sp).toSeq
    val ps = if (t1 > t0) phases.asScala.filter(p => p.startMs >= t0 && p.startMs < t1).toSeq
             else Seq.empty
    Counts(
      jobs = js.size,
      stages = ss.size,
      tasks = ss.map(_.tasks.toLong).sum,
      schemaReadJobs = js.count(_.schemaRead),
      busyMs = busy(js.map(j => (j.startMs, endOf(j))), t0, t1),
      analysisMs = ps.map(_.analysisMs).sum,
      optimizerMs = ps.map(_.optimizerMs).sum,
      planningMs = ps.map(_.planningMs).sum,
      shuffleWriteBytes = ss.map(_.shuffleWrite).sum,
      inputBytes = ss.map(_.input).sum,
      spillBytes = ss.map(_.spill).sum)
  }
}

object Probe {
  final case class JobRec(id: Int, group: String, startMs: Long, schemaRead: Boolean)
  final case class StageRec(group: String, endMs: Long, tasks: Int,
                            shuffleWrite: Long, input: Long, spill: Long)
  final case class PhaseRec(startMs: Long, analysisMs: Long, optimizerMs: Long,
                            planningMs: Long)

  final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Long = 0L,
                          schemaReadJobs: Int = 0, busyMs: Long = 0L,
                          analysisMs: Long = 0L, optimizerMs: Long = 0L,
                          planningMs: Long = 0L, shuffleWriteBytes: Long = 0L,
                          inputBytes: Long = 0L, spillBytes: Long = 0L) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, schemaReadJobs + o.schemaReadJobs, busyMs + o.busyMs,
      analysisMs + o.analysisMs, optimizerMs + o.optimizerMs,
      planningMs + o.planningMs, shuffleWriteBytes + o.shuffleWriteBytes,
      inputBytes + o.inputBytes, spillBytes + o.spillBytes)
  }

  /** Length of the union of intervals, clipped to [t0, t1] when t1 > t0. */
  def busy(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = iv.map { case (a, b) =>
      if (t1 > t0) (math.max(a, t0), math.min(b, t1)) else (a, b)
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  /** Cumulative codegen compile time of this JVM, in milliseconds. */
  def codegenMs: Double = CodeGenerator.compileTime / 1e6

  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
