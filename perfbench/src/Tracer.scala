package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local filesystem that counts namespace operations. Hadoop's own
  * statistics carry bytes but not listings, so the traced run installs
  * this as `fs.file.impl`. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet(); super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int) = {
    CountingLocalFs.opens.incrementAndGet(); super.open(p, bufferSize)
  }
  override def getFileStatus(p: Path): FileStatus = {
    CountingLocalFs.stats.incrementAndGet(); super.getFileStatus(p)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    CountingLocalFs.writes.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CountingLocalFs.writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    CountingLocalFs.writes.incrementAndGet(); super.mkdirs(p, perm)
  }
}

object CountingLocalFs {
  val lists, opens, stats, writes = new AtomicLong
}

/** Reservoir wrapper that also keeps the exact sum of every update, so a
  * codegen histogram yields per-op totals (compile ms, source chars). */
final class SummingReservoir(inner: Reservoir) extends Reservoir {
  val sum = new LongAdder
  override def size(): Int = inner.size()
  override def update(v: Long): Unit = { sum.add(v); inner.update(v) }
  override def getSnapshot: Snapshot = inner.getSnapshot
}

/** Counters read synchronously on the op's own thread. */
final case class SyncCounters(
    compileMs: Long, sourceChars: Long, classes: Long,
    bytesRead: Long, bytesWritten: Long,
    readOps: Long, writeOps: Long, listOps: Long) {
  def -(o: SyncCounters): SyncCounters = SyncCounters(
    compileMs - o.compileMs,
    sourceChars - o.sourceChars, classes - o.classes,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten,
    readOps - o.readOps, writeOps - o.writeOps, listOps - o.listOps)
}

object SyncCounters {
  private def summing(h: Histogram): SummingReservoir = {
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.get(h) match {
      case s: SummingReservoir => s
      case r: Reservoir =>
        val s = new SummingReservoir(r); f.set(h, s); s
    }
  }
  private lazy val compileMs = summing(CodegenMetrics.METRIC_COMPILATION_TIME)
  private lazy val sourceChars = summing(CodegenMetrics.METRIC_SOURCE_CODE_SIZE)

  def install(): Unit = { compileMs; sourceChars }

  /** Codegen and filesystem totals so far. Bytes come from Hadoop's
    * per-scheme statistics (always on); namespace ops from [[CountingLocalFs]]. */
  def read(): SyncCounters = {
    import scala.jdk.CollectionConverters._
    val fsStats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    SyncCounters(
      compileMs.sum.sum(),
      sourceChars.sum.sum(), CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      fsStats.map(_.getBytesRead).sum, fsStats.map(_.getBytesWritten).sum,
      CountingLocalFs.opens.get + CountingLocalFs.stats.get,
      CountingLocalFs.writes.get, CountingLocalFs.lists.get)
  }

  /** Bytes written so far, without the tracer (Hadoop statistics only). */
  def bytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum
  }
}

/** One Spark job as the listener saw it, with its tasks' totals. */
final class JobSpan(val id: Int, val startMs: Long) {
  var endMs: Long = startMs
  var ok = true
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spillBytes = 0L
}

/** One executed query plan: its Catalyst phases as (start, end) ms. */
final case class PlanSpan(func: String, phases: Seq[(String, Long, Long)])

/** Listener side of the traced run. Everything the bus delivers between
  * two [[drain]] calls belongs to the op that ran between them. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val plans = mutable.ArrayBuffer.empty[PlanSpan]
  private val jobOfStage = mutable.Map.empty[Int, JobSpan]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobSpan(e.jobId, e.time)
    e.stageIds.foreach(jobOfStage(_) = j)
    jobs += j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.diskBytesSpilled
      }
      stageSubmitted.get(e.stageId).foreach { s =>
        j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    record(func, qe)
  private def record(func: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.toSeq.collect {
      case (name, s) if name != "parsing" => (name, s.startTimeMs, s.endTimeMs)
    }
    plans += PlanSpan(func, ph)
  }

  /** Waits for the bus, then hands back (and forgets) what it delivered. */
  def drain(): (Seq[JobSpan], Seq[PlanSpan]) = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    synchronized {
      val out = (jobs.toList, plans.toList)
      jobs.clear(); plans.clear(); jobOfStage.clear(); stageSubmitted.clear()
      out
    }
  }
}

object Tracer {
  def attach(spark: SparkSession): Tracer = {
    SyncCounters.install()
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Total length of the union of [start, end) intervals inside [lo, hi). */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
