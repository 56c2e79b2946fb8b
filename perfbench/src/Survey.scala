package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Records what the benchmark checks its ops against. Runs declared
  * queries once each, in the order given, and records output rows, hash
  * and schema; with `--dump <dir>` each output is also written as parquet
  * for a cross-check against DuckDB. Then fits and applies each
  * discretizer on each labelled table in `--labelled` (comma-separated)
  * and records the cut points and the transform's rows and hash. */
object Survey {
  def run(spark: SparkSession, a: Map[String, String]): Map[String, Any] = {
    val corpus = a("corpus")
    val dump = a.get("dump")
    val oracle = graft.SparkEntry.oracleSql
    val queries = a("queries").split(",").toSeq.filter(_.nonEmpty).map { n =>
      val r = mutable.LinkedHashMap[String, Any]("name" -> n, "oracle" -> oracle.contains(n))
      try {
        val df = graft.SparkEntry.queries(n)(spark, corpus)
        val o = Harness.force(df)
        r ++= Seq("rows" -> o.rows, "hash" -> o.hash,
          "schema" -> Workloads.md5(df.schema.catalogString))
        dump.foreach { d =>
          df.write.mode("overwrite").parquet(s"$d/$n")
          if (oracle.contains(n))
            java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/$n.sql"),
              oracle(n).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      } catch {
        case e: Throwable => r("error") = e.toString.take(300)
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      r.toMap
    }
    val tables = a("labelled").split(",").toSeq
    val disc = tables.zipWithIndex.flatMap { case (path, i) =>
      val table = spark.read.parquet(path)
      Discretize.algos.map { algo =>
        val m = Discretize.estimator(algo).fit(table)
        val o = Harness.force(m.transform(table))
        Map("table" -> i, "algo" -> algo, "boundaries" -> Discretize.boundaries(m),
          "rows" -> o.rows, "hash" -> o.hash)
      }
    }
    Map("queries" -> queries, "discretizers" -> disc)
  }
}
