package perfbench

import scala.util.Random

import org.apache.spark.ml.Estimator
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.{AmevaDiscretizer, CAIMDiscretizer, CAIMDiscretizerModel, MDLPDiscretizer}

/** A workload hands the runner one pass of ops at a time. */
trait Workload {
  def pass(p: Int, rng: Random): Seq[Op]
  def afterOp(op: Op, r: OpRecord): Unit = ()
  def afterPass(p: Int): Map[String, Any] = Map.empty
}

object Workloads {
  def apply(spark: SparkSession, a: Map[String, String]): Workload =
    a("workload") match {
      case "analytics" | "dashboard" =>
        new QueryWorkload(Expected.queryOps(spark, a))
      case "llm_pipeline" =>
        new LlmWorkload(Expected.queryOps(spark, a),
          Discretize(spark, a("labelled"), Discretize.expected(a("disc_expected"))))
      case "table_churn" =>
        new ChurnWorkload(spark, a("work") + "/churn")
    }

  def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** A declared query, `SparkEntry.queries(name)(spark, corpus)`, checked
  * against the rows/hash/schema recorded for it on the fixed corpus.
  * `hashed = false` marks the non-deterministic capability queries:
  * only their row count and schema are checked. */
final case class QueryOp(spark: SparkSession, corpus: String, name: String,
    hashed: Boolean, rows: Long, hash: String, schema: String) extends Op {
  private var seenSchema = ""
  def kind = "read"
  def layer = "queries"
  def build(): () => Outcome = {
    val df = graft.SparkEntry.queries(name)(spark, corpus)
    seenSchema = Workloads.md5(df.schema.catalogString)
    () => Harness.force(df)
  }
  def check(o: Outcome): Option[String] =
    if (seenSchema != schema) Some(s"schema $seenSchema, expected $schema")
    else if (o.rows != rows) Some(s"rows ${o.rows}, expected $rows")
    else if (hashed && o.hash != hash) Some(s"hash ${o.hash}, expected $hash")
    else None
}

object Expected {
  /** Query ops from the members file: `name check rows hash schema`, one
    * tab-separated line per member, written by run.py from expected.json. */
  def queryOps(spark: SparkSession, a: Map[String, String]): Seq[QueryOp] = {
    val src = scala.io.Source.fromFile(a("members"))
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, chk, rows, hash, schema) = l.split("\t")
      QueryOp(spark, a("corpus"), n, chk == "hash", rows.toLong, hash, schema)
    }.toList finally src.close()
  }
}

/** Query-only workloads: every pass runs each member once, in seeded
  * order. */
final class QueryWorkload(ops: Seq[QueryOp]) extends Workload {
  def pass(p: Int, rng: Random): Seq[Op] = rng.shuffle(ops)
}

/** What a discretizer fit and its transform gave on a labelled table
  * when they were recorded. */
final case class DiscExpect(boundaries: String, rows: Long, hash: String)

object Discretize {
  val algos: Seq[String] = Seq("caim", "mdlp", "ameva")
  val features: Array[String] = Array("f0", "f1", "f2", "f3")

  def estimator(algo: String): Estimator[CAIMDiscretizerModel] = {
    val outs = features.map(_ + "_bin")
    algo match {
      case "caim" => new CAIMDiscretizer().setInputCols(features)
          .setOutputCols(outs).setLabelCol("label")
      case "mdlp" => new MDLPDiscretizer().setInputCols(features)
          .setOutputCols(outs).setLabelCol("label")
      case "ameva" => new AmevaDiscretizer().setInputCols(features)
          .setOutputCols(outs).setLabelCol("label")
    }
  }

  /** A model's cut points, one comma-separated list per feature. */
  def boundaries(m: CAIMDiscretizerModel): String =
    m.boundaries.map(_.mkString(",")).mkString(";")

  /** Expected outcomes from the file run.py writes from expected.json:
    * `algo boundaries rows hash`, one tab-separated line per algorithm. */
  def expected(path: String): Map[String, DiscExpect] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(algo, b, rows, hash) = l.split("\t")
      algo -> DiscExpect(b, rows.toLong, hash)
    }.toMap finally src.close()
  }
}

/** CAIM, MDLP and Ameva through the MLlib API on a labelled table. A fit
  * is checked against the cut points recorded for that table, its
  * transform against the recorded row count and row hash. */
final case class Discretize(spark: SparkSession, labelled: String,
    expected: Map[String, DiscExpect]) {
  lazy val table: DataFrame = spark.read.parquet(labelled)

  /** A fit op and the transform op that uses its model. */
  def ops(algo: String): Seq[Op] = {
    val e = expected(algo)
    var model: CAIMDiscretizerModel = null
    val fit = new Op {
      def name = s"${algo}_fit"
      def kind = "fit"
      def layer = "ml"
      def build(): () => Outcome = {
        val est = Discretize.estimator(algo)
        () => {
          model = est.fit(table)
          Outcome(model.boundaries.length.toLong, Discretize.boundaries(model))
        }
      }
      def check(o: Outcome): Option[String] =
        if (o.hash != e.boundaries) Some(s"boundaries ${o.hash}, expected ${e.boundaries}")
        else None
    }
    val transform = new Op {
      def name = s"${algo}_transform"
      def kind = "transform"
      def layer = "ml"
      def build(): () => Outcome = {
        val df = model.transform(table)
        () => Harness.force(df)
      }
      def check(o: Outcome): Option[String] =
        if (o.rows != e.rows) Some(s"rows ${o.rows}, expected ${e.rows}")
        else if (o.hash != e.hash) Some(s"hash ${o.hash}, expected ${e.hash}")
        else None
    }
    Seq(fit, transform)
  }
}

/** Eager query builders plus the discretizer trio. A fit stays
  * immediately before its transform; the units are shuffled per pass. */
final class LlmWorkload(queries: Seq[QueryOp], disc: Discretize) extends Workload {
  def pass(p: Int, rng: Random): Seq[Op] = {
    val units: Seq[Seq[Op]] = queries.map(Seq(_)) ++
      Discretize.algos.map(disc.ops)
    rng.shuffle(units).flatten
  }
}
