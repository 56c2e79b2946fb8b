package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType}

/** What an op produced: row count plus an order-insensitive content hash
  * (the sum of per-row xxhash64 values), or a model summary for fits. */
final case class Outcome(rows: Long, hash: String)

/** One timed call into the library. `build` runs the program's
  * construction step (a query builder, an estimator, a table call that
  * returns a frame) and hands back the forcing action; the harness times
  * both halves. `check` judges the outcome; it runs outside the timer. */
trait Op {
  def name: String
  /** read | write | fit | transform | optimize */
  def kind: String
  /** The module the call enters: queries, ml or manifest. */
  def layer: String
  /** Rows the op submits to the table (writes only). */
  def rowsIn: Long = 0L
  def build(): () => Outcome
  def check(o: Outcome): Option[String]
}

/** What the harness records per op: the span and its counters. */
final class OpRecord {
  val f = mutable.LinkedHashMap.empty[String, Any]
}

object Harness {

  def session(cpus: Int, work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the session posture graft.Bench times: byte-driven AQE
      // coalescing and the scan-parallelism floor
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.sql.files.minPartitionNum", (2 * cpus).toString)
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The session's first answer: a small grouped scan of the corpus. */
  def firstQuery(spark: SparkSession, corpus: String): Long =
    spark.read.parquet(s"$corpus/nation.parquet").groupBy("n_regionkey")
      .count().collect().length.toLong

  /** Row hash over every column. Maps are hashed as sorted entry arrays
    * (their iteration order is not part of their value); columns are
    * renamed positionally so duplicate output names stay addressable. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = r.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case ArrayType(_: MapType, _) => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    r.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))
  }

  /** Forces a frame through the noop sink, as graft.Bench does, and reads
    * the observed count and hash from the same execution. */
  def force(df: DataFrame): Outcome = {
    val obs = Observation("perfbench")
    observed(df, obs).write.mode("overwrite").format("noop").save()
    val m = obs.get
    Outcome(m("n").asInstanceOf[Long], m("h").toString)
  }

  /** CPU time of each live Java thread: the program's own threads, without
    * the JIT compiler and GC threads the JVM keeps out of this view. */
  def threadCpuNs(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** Time the JVM has spent in garbage collection so far. Collector
    * threads are not Java threads, so an op's CPU time adds this. */
  def gcNs(): Long = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    (0 until beans.size).map(i => math.max(0L, beans.get(i).getCollectionTime)).sum * 1000000L
  }

  /** CPU time of the whole JVM since it started: every thread, the JIT
    * compiler and GC threads included. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def rssKb(key: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(key + ":") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally src.close()
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val work = a("work")
    val cpus = a("cpus").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val corpus = a("corpus")
    val spark = session(cpus, work, trace)
    if (trace) {
      // seat the counting filesystem before anything caches the default
      org.apache.hadoop.fs.FileSystem.closeAll()
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    }
    val sessionMs = System.currentTimeMillis()
    firstQuery(spark, corpus)
    val answeredMs = System.currentTimeMillis()
    val out = mutable.LinkedHashMap[String, Any](
      "answered_ms" -> answeredMs,
      "setup_cpu_s" -> processCpuNs() / 1e9,
      "session_ms" -> sessionMs)
    try a("mode") match {
      case "run" => out ++= Runner(spark, a, trace).run()
      case "survey" => out ++= Survey.run(spark, a)
    } finally {
      out("peak_rss_kb") = rssKb("VmHWM")
      Json.write(a("out"), out)
      spark.stop()
    }
  }
}

/** Runs one workload: a cold pass in this fresh JVM, then a fixed number
  * of warm passes. The measuring window only caps the warm passes: none
  * starts once it is spent, except the first. */
final case class Runner(spark: SparkSession, a: Map[String, String], trace: Boolean) {
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val warmPasses = a("warm_passes").toInt
  private val tracer = if (trace) Some(Tracer.attach(spark)) else None
  private val workload = Workloads(spark, a)

  def run(): Map[String, Any] = {
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var p = 0
    while (p < 2 || (p <= warmPasses && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val rng = new Random(seed * 7919 + p)
      val ops = workload.pass(p, rng)
      val ps = System.nanoTime()
      val recs = ops.map(runOp)
      val wall = (System.nanoTime() - ps) / 1e9
      passes += Map("index" -> p, "wall_s" -> wall,
        "ops" -> recs.map(_.f.toMap)) ++ workload.afterPass(p)
      p += 1
    }
    Map("passes" -> passes.toList)
  }

  private def runOp(op: Op): OpRecord = {
    val r = new OpRecord
    r.f("name") = op.name
    r.f("kind") = op.kind
    r.f("layer") = op.layer
    r.f("rows_in") = op.rowsIn
    val c0 = tracer.map(_ => SyncCounters.read())
    val w0 = SyncCounters.bytesWritten()
    val cpu0 = Harness.threadCpuNs()
    val gc0 = Harness.gcNs()
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var m1 = m0
    var c1 = c0
    val res: Either[Throwable, Outcome] =
      try {
        val act = op.build()
        t1 = System.nanoTime(); m1 = System.currentTimeMillis()
        c1 = tracer.map(_ => SyncCounters.read())
        Right(act())
      } catch { case e: Throwable => Left(e) }
    val t2 = System.nanoTime()
    val m2 = System.currentTimeMillis()
    r.f("cpu_s") = (Harness.threadCpuNs().map { case (id, ns) =>
      ns - cpu0.getOrElse(id, 0L) }.sum + Harness.gcNs() - gc0) / 1e9
    val c2 = tracer.map(_ => SyncCounters.read())
    r.f("wall_s") = (t2 - t0) / 1e9
    r.f("build_s") = (t1 - t0) / 1e9
    r.f("action_s") = (t2 - t1) / 1e9
    r.f("bytes_written") = SyncCounters.bytesWritten() - w0
    res match {
      case Right(o) =>
        r.f("rows") = o.rows
        r.f("hash") = o.hash
        val bad = try op.check(o) catch { case e: Throwable => Some("check threw " + e) }
        r.f("ok") = bad.isEmpty
        bad.foreach(b => r.f("err") = b)
      case Left(e) =>
        if (e.isInstanceOf[java.util.ConcurrentModificationException]) r.f("conflicts") = 1
        r.f("ok") = false
        r.f("err") = e.toString.take(300)
    }
    tracer.foreach { t =>
      val (jobs, plans) = t.drain()
      traced(r, jobs, plans, m0, m1, m2, c0.get, c1.get, c2.get)
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    r.f("leaked_blocks") = storage.map(_.numCachedPartitions.toLong).sum
    r.f("leaked_bytes") = storage.map(s => s.memSize + s.diskSize).sum
    // ops stay independent: nothing one op cached survives into the next,
    // and no op pays for collecting the garbage of the one before it
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    // what the program still holds once the op's garbage is gone
    r.f("live_heap_bytes") =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    workload.afterOp(op, r)
    r
  }

  private def traced(r: OpRecord, jobs: Seq[JobSpan], plans: Seq[PlanSpan],
      m0: Long, m1: Long, m2: Long,
      c0: SyncCounters, c1: SyncCounters, c2: SyncCounters): Unit = {
    val iv = jobs.map(j => (j.startMs, j.endMs))
    val pv = plans.flatMap(_.phases.map(p => (p._2, p._3)))
    r.f("jobs_b") = jobs.count(_.startMs < m1)
    r.f("jobs") = jobs.size
    r.f("exec_b_s") = Tracer.unionMs(iv, m0, m1) / 1e3
    r.f("exec_a_s") = Tracer.unionMs(iv, m1, m2 + 1) / 1e3
    r.f("plan_b_s") = Tracer.unionMs(pv, m0, m1) / 1e3
    r.f("plan_a_s") = Tracer.unionMs(pv, m1, m2 + 1) / 1e3
    r.f("executions") = plans.size
    val b = c1 - c0
    val x = c2 - c1
    r.f("cg_b_s") = b.compileMs / 1e3
    r.f("cg_a_s") = x.compileMs / 1e3
    val all = c2 - c0
    r.f("cg_classes") = all.classes
    r.f("cg_source_kb") = all.sourceChars / 1024.0
    r.f("fs_read_bytes") = all.bytesRead
    r.f("fs_write_bytes") = all.bytesWritten
    r.f("fs_read_ops") = all.readOps
    r.f("fs_write_ops") = all.writeOps
    r.f("fs_list_ops") = all.listOps
    r.f("stages") = jobs.map(_.stages).sum
    r.f("tasks") = jobs.map(_.tasks).sum
    r.f("failed_tasks") = jobs.map(_.failedTasks).sum
    r.f("task_run_s") = jobs.map(_.runMs).sum / 1e3
    r.f("task_cpu_s") = jobs.map(_.cpuNs).sum / 1e9
    r.f("gc_s") = jobs.map(_.gcMs).sum / 1e3
    r.f("sched_wait_s") = jobs.map(_.schedWaitMs).sum / 1e3
    r.f("input_bytes") = jobs.map(_.inputBytes).sum
    r.f("shuffle_write_bytes") = jobs.map(_.shuffleWrite).sum
    r.f("shuffle_read_bytes") = jobs.map(_.shuffleRead).sum
    r.f("spill_bytes") = jobs.map(_.spillBytes).sum
    r.f("job_spans") = jobs.map(j => List(j.id, j.startMs - m0, j.endMs - m0))
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case arr: Array[_] => render(arr.toSeq)
    case o => render(o.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (render(v) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
