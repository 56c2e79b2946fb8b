package graft

import org.apache.spark.sql.SparkSession

/** The one session posture: the confs under which [[Bench]] times the
  * queries, [[Verify]] proves them against the oracle, the example
  * pipeline runs and the test suite checks them. `perfbench`'s
  * `Harness.session` keeps a hand copy of these confs (plus its own
  * local and warehouse dirs); it is the one mirror that must match.
  */
object GraftSession {

  /** A `local[cpus]` session (or the running one, if any) with the graft
    * extensions installed, UTC timestamps, the UI off and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // Partition sizing is byte-driven, not count-driven: AQE re-coalesces
      // every post-shuffle stage toward the advisory byte size, so the
      // kilobyte shuffles at bench SF collapse to one or two tasks while a
      // 100 TB shuffle still fans out to thousands of partitions.
      // parallelismFirst=false is what makes AQE honor the byte target
      // instead of refusing to coalesce below #cores.
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      // Scan-side parallelism floor: every bench table is ONE small parquet
      // file, and the default 4 MB openCostInBytes floors split size at
      // 4 MB — so scan stages (and all map-side work: projection,
      // shingling, partial aggregation) ran at parallelism 1-3 on a
      // 32-core machine. minPartitionNum = 2×cores asks the splitter for at
      // least that many splits; openCost = 128 KB lets split size actually
      // drop that far on megabyte inputs. Both are SCALE-NEUTRAL: at 100 TB
      // bytes/minPartitionNum ≫ maxPartitionBytes, so split size stays
      // maxPartitionBytes (128 MB) and the floor never binds — this is a
      // floor on idle cores, not a cap tuned to local mode. Derived from
      // the core count so low-core runs keep the same bytes-per-core
      // posture.
      .config("spark.sql.files.minPartitionNum", (2 * cpus).toString)
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
