package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-11 verdict item 8: the LSH/IVF scale paths each document a recall
  * FORMULA (Sim.cosineLshPairs scaladoc, minhashCandidates' banding curve,
  * ivfTopK's nprobe/nCells ratio); this spec measures the REALIZED recall
  * against the exact siblings at bench scale (sf0.1 — 2,000 embeddings,
  * 5,000 documents) and pins lower bounds, so a banding/seed/quantizer
  * regression shows up as a red test instead of silent recall loss. The
  * realized values are recorded in PLANS.md (round-11 recall table); the
  * asserted bounds sit below them with margin for KMeans/jitter noise.
  */
class RecallSpec extends AnyFunSuite with SparkFixture with Matchers {

  private val sf01 = "/root/testdata/sf0.1"

  private def recallOf(approx: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame, cols: Seq[String]): (Double, Long, Long) = {
    val hit = approx.select(cols.map(col): _*)
      .join(exact.select(cols.map(col): _*), cols).count()
    val total = exact.count()
    (hit.toDouble / total, hit, total)
  }

  /** Exact (a_id, b_id) top-k pairs for the deterministic query sample
    * `vec_id % step == 0` — sample × corpus via the codegen'd graft_dot
    * inside map tasks (the broadcast keeps it ONE scan of the corpus:
    * |sample| × n dots, linear in n — the sampled-ground-truth protocol
    * published ANN benchmarks use, because a full brute truth is the
    * quadratic non-starter the ANN tier exists to avoid). */
  private def sampledExactTopK(emb: org.apache.spark.sql.DataFrame,
      k: Int, step: Long): org.apache.spark.sql.DataFrame = {
    val v = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
    val sampleQ = v.where(col("vec_id") % step === 0)
      .select(col("vec_id").as("a_id"), col("e").as("ea"),
        col("nrm").as("na"))
    graft.ml.Sim.topKHits(
      v.select(col("vec_id").as("b_id"), col("e").as("eb"),
          col("nrm").as("nb"))
        .join(broadcast(sampleQ), col("a_id") =!= col("b_id"))
        .withColumn("sim",
          expr("graft_dot(ea, eb)") / (col("na") * col("nb"))),
      k).select("a_id", "b_id")
  }

  test("cosine hyperplane-LSH pair recall vs exact tau=0.4 pairs at sf0.1") {
    val emb = T.t(spark, sf01, "embeddings")
    val exact = graft.ml.Sim.cosinePairs(emb, col("a_id") < col("b_id"))
      .where(col("sim") >= 0.4).select("a_id", "b_id")
    val lsh = graft.ml.Sim.cosineLshPairs(emb, 0.4) // declared 16x2 geometry
    val (r, hit, total) = recallOf(lsh, exact, Seq("a_id", "b_id"))
    info(f"cosine LSH 16x2 tau=0.4: $hit/$total recall=$r%.4f")
    // documented p_band ~= 0.9997 at sim=0.4 and higher above; realized
    // should be near-perfect — bound leaves room for corpus regen drift
    r should be >= 0.98
  }

  test("IVF top-5 neighbour recall curve vs brute force at sf0.1") {
    // the sf0.1 synthetic embeddings are near-ISOTROPIC (no cluster
    // structure — the IVF worst case: a query's true neighbours scatter
    // across cells instead of sharing its cell). Realized recall at the
    // declared nprobe=2/nCells=16 is therefore far below SimSpec's >= 0.9
    // on the clustered sf0.001 corpus, and that is a property of the
    // corpus, not a quantizer bug — this test pins the honest curve:
    // recall grows monotonically in nprobe and saturates at 1.0 when
    // every cell is probed (the degenerate-exact contract).
    val emb = T.t(spark, sf01, "embeddings")
    val brute = graft.ml.Sim.bruteTopK(emb, 5).select("a_id", "b_id")
    brute.persist()
    try {
      val curve = Seq(2, 4, 8, 16).map { np =>
        val ivf = graft.ml.Sim.ivfTopK(emb, 5, nCells = 16, nprobe = np)
          .select("a_id", "b_id")
        val (r, hit, total) = recallOf(ivf, brute, Seq("a_id", "b_id"))
        info(f"IVF nCells=16 nprobe=$np%2d top-5: $hit/$total recall=$r%.4f")
        r
      }
      // nprobe=2: well above the uniform nprobe/nCells = 0.125 floor
      curve.head should be >= 0.30
      // the SHIPPED default (r12: nprobe=4 — ivfTopK's Scaladoc curve
      // table) must clear the verdict's >= 0.55 floor on this worst-case
      // isotropic corpus; realized 0.569
      curve(1) should be >= 0.55
      val shippedDefault = graft.ml.Sim.ivfTopK(emb, 5, nCells = 16)
        .select("a_id", "b_id")
      recallOf(shippedDefault, brute, Seq("a_id", "b_id"))._1 should be >= 0.55
      // monotone in nprobe (allow measurement-level jitter from re-fit)
      curve.sliding(2).foreach { case Seq(a, b) => b should be >= (a - 0.02) }
      // every cell probed => exact (the SimSpec degenerate identity, at SF)
      curve.last shouldBe 1.0
    } finally brute.unpersist(blocking = false)
  }

  test("banded MinHash-LSH jaccard recall vs exact tau=0.5 pairs at sf0.1") {
    val docs = T.t(spark, sf01, "documents")
    val tr2 = new graft.operators.Tracked
    try {
      val exact = graft.queries.Llm.jaccardPairs(docs, 0.5)
        .select("da", "db")
      // lshThreshold=1 forces the banded path the 100 TB corpus would take
      val banded = graft.queries.Llm.jaccardPairsAuto(docs, 0.5, tr2,
        lshThreshold = 1).select("da", "db")
      val (r, hit, total) = recallOf(banded, exact, Seq("da", "db"))
      info(f"minhash 8x2 tau=0.5: $hit/$total recall=$r%.4f")
      // banding curve 1-(1-j^2)^8 ~= 0.90 at j=0.5 exactly; most true
      // pairs sit well above the threshold where the curve saturates
      r should be >= 0.85
    } finally tr2.free()
  }

  test("IVF recall floor at the composed 10x corpus under sqrt(n) sizing " +
      "(cancelled when the corpus is absent)") {
    // r13 verdict item 2: the ANN tier measured at a composed scale, not
    // just sf0.1. tools/scale10.py composes /tmp/sf1 (20k vectors: 10
    // jittered unit-norm replicas of the sf0.1 table) — regenerate with
    //   python3 tools/scale10.py /root/testdata/sf0.1 /tmp/sf1 10
    // Ground truth is the sampled-exact protocol (sampledExactTopK):
    // ~100 query vectors, exact top-5 from one broadcast corpus scan. The
    // composed corpus is replica-CLUSTERED (each vector's true neighbours
    // are its own jittered replicas), so IVF under the sqrt(n) cell sizing
    // puts neighbours in the query's own cells and recall saturates — the
    // floor here is deliberately strict (0.9); the isotropic sf0.1 curve
    // above remains the documented worst case.
    assume(new java.io.File("/tmp/sf1/embeddings.parquet").exists(),
      "composed 10x corpus not present (tools/scale10.py)")
    val emb = T.t(spark, "/tmp/sf1", "embeddings")
    val n = emb.count()
    val nCells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val step = math.max(1L, n / 100)
    val exact = sampledExactTopK(emb, 5, step).persist()
    try {
      val total = exact.count()
      total should be > 0L
      val approx = graft.ml.Sim.ivfTopK(emb, 5, nCells = nCells,
          nprobe = 4, nRows = n)
        .where(col("a_id") % step === 0).select("a_id", "b_id")
      val hit = approx.join(exact, Seq("a_id", "b_id")).count()
      val r = hit.toDouble / total
      info(f"IVF nCells=$nCells nprobe=4 at n=$n: $hit/$total recall=$r%.4f")
      r should be >= 0.9
    } finally exact.unpersist(blocking = false)
  }
}
