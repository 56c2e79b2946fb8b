package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.ManifestTable
import graft.operators.ManifestTable.{ColGe, ColLt}

/** The harness's own model of a churned table: live rows by key, the
  * snapshot of every retained version, and each version's row events. */
final class TableModel {
  import TableModel.R
  var live: Map[Long, R] = Map.empty
  val snapshots = mutable.LinkedHashMap.empty[Long, Map[Long, R]]
  val events = mutable.Map.empty[Long, (Seq[R], Seq[R])]
  /** The latest version whose predecessor's files it does not keep. */
  var lastRewrite = -1L

  def head: Long = snapshots.keys.last

  def publish(v: Long, next: Map[Long, R], ins: Seq[R], del: Seq[R]): Unit = {
    live = next
    snapshots(v) = next
    events(v) = (ins, del)
  }

  /** Snapshots dropped by expire, so published versions stay countable. */
  var expired = 0

  def expire(keepLast: Int): Unit = {
    val drop = snapshots.keys.toList.dropRight(keepLast)
    expired += drop.size
    drop.foreach(snapshots.remove)
  }

  def hashRows(rows: Iterable[R]): Outcome =
    Outcome(rows.size.toLong, rows.iterator.map(r => BigInt(TableModel.rowHash(
      r._1, r._2, r._3))).sum.toString)

  /** Expected change feed for versions (from, head]. */
  def changes(from: Long): Outcome = {
    val evs = events.toSeq.filter { case (v, _) => v > from }.flatMap {
      case (v, (ins, del)) =>
        ins.map(r => (r, "insert", v)) ++ del.map(r => (r, "delete", v))
    }
    Outcome(evs.size.toLong, evs.iterator.map { case (r, t, v) =>
      BigInt(TableModel.rowHash(r._1, r._2, r._3, t, v))
    }.sum.toString)
  }
}

object TableModel {
  type R = (Long, Long, String)

  /** Spark's `xxhash64` of one row, evaluated on literals. */
  def rowHash(vals: Any*): Long =
    XxHash64(vals.map(v => Literal(v)), 42L).eval(null).asInstanceOf[Long]
}

/** A seeded closed loop against a fresh ManifestTable directory per pass:
  * an initial commit, then writes (append with stats and bloom columns,
  * merge-on-read upsert, delete, fused delete+upsert), each followed by
  * two reads (head, pruned, time travel, change feed), then optimize and
  * expire. Upsert keys are skewed toward a hot set. Every outcome is
  * checked against [[TableModel]]. */
final class ChurnWorkload(spark: SparkSession, base: String) extends Workload {
  val initialRows = 4000
  val hotKeys = 200
  val keepLast = 3
  val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType),
    StructField("tag", StringType)))
  private val statsCols = Seq("id", "v")
  private val bloomCols = Seq("tag")

  private var dir = ""
  private var model = new TableModel
  private var nextId = 0L
  private var rng: Random = _

  private def tagOf(id: Long, v: Long): String = s"t${(id * 31 + v) % 50}"
  private def row(id: Long): (Long, Long, String) = {
    val v = rng.nextInt(1000000).toLong
    (id, v, tagOf(id, v))
  }
  private def frame(rows: Seq[(Long, Long, String)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, schema)
  }
  private def freshRows(n: Int): Seq[(Long, Long, String)] = {
    val out = (nextId until nextId + n).map(row)
    nextId += n
    out
  }
  /** Distinct keys, most from the hot set, some cold, a few new. */
  private def skewedKeys(n: Int): Seq[Long] = {
    val ks = mutable.LinkedHashSet.empty[Long]
    while (ks.size < n) {
      val x = rng.nextDouble()
      ks += (if (x < 0.7) rng.nextInt(hotKeys).toLong
             else if (x < 0.95) rng.nextLong(nextId)
             else { nextId += 1; nextId - 1 })
    }
    ks.toSeq
  }

  private def upsertInto(m: Map[Long, TableModel.R], ups: Seq[TableModel.R])
      : (Map[Long, TableModel.R], Seq[TableModel.R], Seq[TableModel.R]) = {
    val del = ups.flatMap(u => m.get(u._1))
    (m ++ ups.map(u => u._1 -> u), ups, del)
  }

  private def op(n: String, k: String, in: Long = 0L)(body: => () => Outcome)(
      chk: Outcome => Option[String]): Op = new Op {
    def name = n
    def kind = k
    def layer = "manifest"
    override def rowsIn: Long = in
    def build(): () => Outcome = body
    def check(o: Outcome): Option[String] = chk(o)
  }

  private def expectEq(got: Outcome, want: Outcome): Option[String] =
    if (got == want) None else Some(s"got $got, model says $want")

  private def publishOp(n: String, k: String, rowsIn: Long)(
      call: => Long)(next: => (Map[Long, TableModel.R], Seq[TableModel.R], Seq[TableModel.R])): Op = {
    var v = -1L
    op(n, k, rowsIn)(() => { v = call; Outcome(v, "") }) { _ =>
      val before = model.head
      val (m, ins, del) = next
      if (v == before) {
        if (ins.nonEmpty || del.nonEmpty) Some("no version published for a change") else None
      } else if (v < before) Some(s"version $v not after $before")
      else { model.publish(v, m, ins, del); None }
    }
  }

  private def commitOp(): Op = {
    val rows = freshRows(300)
    publishOp("commit", "write", rows.size)(ManifestTable.commit(spark, dir, frame(rows),
      statsCols = statsCols, bloomCols = bloomCols)) {
      (model.live ++ rows.map(r => r._1 -> r), rows, Nil)
    }
  }

  private def upsertOp(): Op = {
    val ups = skewedKeys(150).map(row)
    publishOp("upsert_mor", "write", ups.size)(ManifestTable.upsertMor(spark, dir, frame(ups),
      Seq("id"), statsCols = statsCols, bloomCols = bloomCols))(upsertInto(model.live, ups))
  }

  private def deleteOp(): Op = {
    val r = rng.nextInt(37)
    val keep = (x: Long) => x % 37 != r
    publishOp("delete_where", "write", 0L)(ManifestTable.deleteWhere(spark, dir,
      col("id") % 37 === r)) {
      val (kept, gone) = model.live.partition { case (id, _) => keep(id) }
      (kept, Nil, gone.values.toSeq)
    }
  }

  private def deleteUpsertOp(): Op = {
    val t = s"t${rng.nextInt(50)}"
    val ups = skewedKeys(100).map(row)
    var vs = (-1L, -1L)
    op("delete_then_upsert_mor", "write", ups.size)(() => {
      vs = ManifestTable.deleteThenUpsertMor(spark, dir, col("tag") === t, frame(ups),
        Seq("id"), statsCols = statsCols, bloomCols = bloomCols)
      Outcome(vs._2, "")
    }) { _ =>
      val before = model.head
      val (kept, gone) = model.live.partition { case (_, r) => r._3 != t }
      if (gone.nonEmpty != (vs._1 != before)) Some(s"delete published $vs from $before")
      else {
        if (gone.nonEmpty) model.publish(vs._1, kept, Nil, gone.values.toSeq)
        val (m, ins, del) = upsertInto(kept, ups)
        model.publish(vs._2, m, ins, del)
        None
      }
    }
  }

  private def optimizeOp(): Op = {
    var v = -1L
    op("optimize", "optimize")(() => {
      v = ManifestTable.optimize(spark, dir, 2, statsCols = statsCols, bloomCols = bloomCols)
      Outcome(v, "")
    }) { _ =>
      model.publish(v, model.live, Nil, Nil)
      model.lastRewrite = v
      None
    }
  }

  private def expireOp(): Op =
    op("expire", "write")(() => { ManifestTable.expire(spark, dir, keepLast); Outcome(0, "") }) {
      _ => model.expire(keepLast); None
    }

  private def readOp(): Op = {
    val want = model.hashRows(model.live.values)
    op("read", "read")({ val df = ManifestTable.read(spark, dir); () => Harness.force(df) })(
      expectEq(_, want))
  }

  /** A 400-key range inside the initial load, so the pruned read always
    * opens the initial batch plus whatever later batches overlap it. */
  private def prunedOp(): Op = {
    val lo = rng.nextInt(initialRows - 400).toLong
    val hi = lo + 400
    pruneRange = (lo, hi)
    val want = model.hashRows(model.live.values.filter(r => r._1 >= lo && r._1 < hi))
    op("read_pruned", "read")({
      val df = ManifestTable.readPruned(spark, dir, Seq(ColGe("id", lo), ColLt("id", hi)))
      () => Harness.force(df)
    })(expectEq(_, want))
  }

  /** Time travel to the oldest retained snapshot (in a pass, the initial
    * load), so the read's size does not depend on the seed. */
  private def timeTravelOp(): Op = {
    val v = model.snapshots.keys.head
    if (v == model.head) return readOp()
    val want = model.hashRows(model.snapshots(v).values)
    op("read_version", "read")({
      val df = ManifestTable.read(spark, dir, v); () => Harness.force(df)
    })(expectEq(_, want))
  }

  /** The change feed of the latest commit: what a consumer that keeps up
    * with the table reads after each write. */
  private def changesOp(): Op = {
    val f = model.snapshots.keys.toSeq.filter(_ >= model.lastRewrite).dropRight(1).lastOption
    if (f.isEmpty) return readOp()
    val want = model.changes(f.get)
    op("changes", "read")({
      val df = ManifestTable.changes(spark, dir, f.get); () => Harness.force(df)
    })(expectEq(_, want))
  }

  /** Every pass runs the same ops: the initial commit, each write kind
    * once, each followed by two reads in seeded order (every read kind
    * twice in all), then optimize and expire. An op's
    * parameters are drawn when the previous op has run, since they depend
    * on the table state the model then holds. */
  def pass(p: Int, passRng: Random): Seq[Op] = {
    rng = passRng
    dir = s"$base/p$p"
    model = new TableModel
    nextId = 0L
    headFiles = Set.empty
    publishedBefore = 0
    val init = freshRows(initialRows)
    val first = op("commit_initial", "write", init.size)(() => {
      val v = ManifestTable.commit(spark, dir, frame(init), statsCols = statsCols,
        bloomCols = bloomCols)
      Outcome(v, "")
    }) { o =>
      model.publish(o.rows, init.map(r => r._1 -> r).toMap, init, Nil)
      None
    }
    // each write kind is paired with the same two read kinds, and the
    // writes come in the same order in every pass: a read's cost depends
    // on the table it meets (an upsert's change feed joins its deletes
    // back to the files they hit; a pruned read before the first
    // merge-on-read upsert skips the merge and costs a third as much), so
    // only the order of the reads within a group and every key, value and
    // predicate are seeded
    val groups: Seq[Seq[() => Op]] = Seq(
      Seq(() => upsertOp(), () => changesOp(), () => readOp()),
      Seq(() => commitOp(), () => changesOp(), () => prunedOp()),
      Seq(() => deleteOp(), () => timeTravelOp(), () => prunedOp()),
      Seq(() => deleteUpsertOp(), () => timeTravelOp(), () => readOp()))
    val plan = groups.flatMap(g => g.head +: rng.shuffle(g.tail)) ++
      Seq[() => Op](() => optimizeOp(), () => expireOp())
    first +: plan.map(mk => new LazyOp(mk))
  }

  private var headFiles = Set.empty[String]
  private var publishedBefore = 0
  private var pruneRange = (0L, 0L)

  private def files(): Set[String] = ManifestTable.pruneFiles(spark, dir, Nil)._1.toSet

  /** Traced runs also record file churn and pruning, read outside the
    * timed call through the table's own pruneFiles. */
  override def afterOp(op: Op, r: OpRecord): Unit = if (r.f.contains("jobs")) {
    val inner = op match { case l: LazyOp => l.inner; case o => o }
    if (inner.kind != "read" && r.f("ok") == true) {
      r.f("commits") = model.snapshots.size + model.expired - publishedBefore
      publishedBefore = model.snapshots.size + model.expired
      val now = files()
      r.f("files_added") = (now -- headFiles).size
      r.f("files_removed") = (headFiles -- now).size
      headFiles = now
    }
    if (inner.name == "read_pruned") {
      val (kept, total) = ManifestTable.pruneFiles(spark, dir,
        Seq(ColGe("id", pruneRange._1), ColLt("id", pruneRange._2)))
      r.f("prune_kept") = kept.size
      r.f("prune_total") = total
    }
  }

  override def afterPass(p: Int): Map[String, Any] = {
    val (files, _) = ManifestTable.pruneFiles(spark, dir, Nil)
    val head = files.map(f => new File(if (f.startsWith("/")) f else s"$dir/$f").length).sum
    val total = dirBytes(new File(dir))
    Map("space_amp" -> total.toDouble / head)
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length
}

/** An op whose parameters are drawn only when it is about to run. */
final class LazyOp(make: () => Op) extends Op {
  lazy val inner: Op = make()
  def name: String = inner.name
  def kind: String = inner.kind
  def layer: String = inner.layer
  override def rowsIn: Long = inner.rowsIn
  def build(): () => Outcome = inner.build()
  def check(o: Outcome): Option[String] = inner.check(o)
}
