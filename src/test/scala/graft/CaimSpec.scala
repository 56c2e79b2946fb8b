package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.ml.{CAIMDiscretizer, CAIMDiscretizerModel}

/** CAIM golden + property tests (FIXTURES.md §F2, SURVEY.md §5.3). */
class CaimSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def golden = {
    // 3 perfectly separable class clusters → cuts at the two midpoints
    val rows = Seq.tabulate(4)(i => (1.0 + i, 0)) ++
      Seq.tabulate(4)(i => (10.0 + i, 1)) ++
      Seq.tabulate(4)(i => (20.0 + i, 2))
    import spark.implicits._
    rows.toDF("x", "y")
  }

  test("golden fixture: boundaries at cluster midpoints, criterion 4.0") {
    val est = new CAIMDiscretizer()
      .setInputCols(Array("x")).setOutputCols(Array("xb")).setLabelCol("y")
    val model = est.fit(golden)
    model.boundaries should have length 1
    model.boundaries(0) shouldBe Array(1.0, 7.0, 16.5, 23.0)

    // quanta matrix is diagonal (4,4,4) → CAIM = (16/4 * 3)/3 = 4.0
    val vals = Array(1.0, 2.0, 3.0, 4.0, 10.0, 11.0, 12.0, 13.0, 20.0, 21.0, 22.0, 23.0)
    val counts = vals.zipWithIndex.map { case (_, i) =>
      val c = Array(0L, 0L, 0L); c(i / 4) = 1L; c
    }
    CAIMDiscretizer.greedySelect(vals, counts, 3) shouldBe Array(1.0, 7.0, 16.5, 23.0)
  }

  test("transform digitizes into consecutive bins, monotonically") {
    val est = new CAIMDiscretizer()
      .setInputCols(Array("x")).setOutputCols(Array("xb")).setLabelCol("y")
    val out = est.fit(golden).transform(golden)
      .select("x", "xb").collect().map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    out.map(_._2).distinct shouldBe Array(0.0, 1.0, 2.0)
    // monotone: x <= y implies bin(x) <= bin(y)
    out.sliding(2).foreach { case Array(a, b) => a._2 should be <= b._2 }
  }

  test("fit is invariant to row order and partitioning") {
    val est = new CAIMDiscretizer()
      .setInputCols(Array("x")).setOutputCols(Array("xb")).setLabelCol("y")
    val base = est.fit(golden).boundaries
    for (k <- Seq(1, 3, 7)) {
      est.fit(golden.repartition(k)).boundaries shouldBe base
      est.fit(golden.orderBy(rand(seed = k))).boundaries shouldBe base
    }
  }

  test("multi-column fit on real embeddings data: invariants hold") {
    val e = T.t(spark, sf001, "embeddings")
      .select(element_at(col("embedding"), 1).cast("double").as("e0"),
        element_at(col("embedding"), 2).cast("double").as("e1"), col("label"))
    val model = new CAIMDiscretizer()
      .setInputCols(Array("e0", "e1")).setOutputCols(Array("b0", "b1"))
      .setLabelCol("label").fit(e)
    model.boundaries.foreach { b =>
      b.length should be >= 2
      b.sliding(2).foreach { case Array(x, y) => x should be < y }
    }
    // every accepted scheme has at least 2 intervals unless degenerate,
    // and every input row lands in a valid bin
    val out = model.transform(e)
    out.where(col("b0").isNull || col("b1").isNull).count() shouldBe 0L
    val stats = T.t(spark, sf001, "embeddings")
      .agg(min(element_at(col("embedding"), 1).cast("double")),
        max(element_at(col("embedding"), 1).cast("double"))).head()
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    model.boundaries(0).head shouldBe lo
    model.boundaries(0).last shouldBe hi
  }

  test("wide fit: 16 features discretized in one distributed pass") {
    // the reference parallelizes across features with a process pool; here
    // all features ride ONE aggregation job (posexplode over the array)
    val dims = 16
    val cols = (0 until dims).map(i => s"e$i").toArray
    val e = T.t(spark, sf001, "embeddings").select(
      (0 until dims).map(i =>
        element_at(col("embedding"), i + 1).cast("double").as(s"e$i")) :+ col("label"): _*)
    val model = new CAIMDiscretizer()
      .setInputCols(cols).setOutputCols(cols.map(_ + "_b"))
      .setLabelCol("label").fit(e)
    model.boundaries should have length dims
    model.boundaries.foreach { b =>
      b.length should be >= 2
      b.sliding(2).foreach { case Array(x, y) => x should be < y; case _ => }
    }
    val out = model.transform(e)
    out.columns.count(_.endsWith("_b")) shouldBe dims
    out.count() shouldBe e.count()
  }

  test("maxCandidates caps the histogram and still yields valid splits") {
    val e = T.t(spark, sf001, "embeddings")
      .select(element_at(col("embedding"), 1).cast("double").as("e0"), col("label"))
    val model = new CAIMDiscretizer()
      .setInputCols(Array("e0")).setOutputCols(Array("b0"))
      .setLabelCol("label").setMaxCandidates(32).fit(e)
    model.boundaries(0).length should be >= 2
    model.boundaries(0).sliding(2).foreach { case Array(x, y) => x should be < y }
  }

  test("capped fit is invariant to input partitioning (distributed grid)") {
    // the round-8 distributed equal-frequency grid recomposes EXACT global
    // ranks from per-(feature, range-slice) offsets — boundaries must not
    // depend on how the input happens to be partitioned, even though the
    // range partitioner's slice boundaries do
    val e = T.t(spark, sf001, "embeddings")
      .select(element_at(col("embedding"), 1).cast("double").as("e0"), col("label"))
    def boundsOf(df: org.apache.spark.sql.DataFrame) = new CAIMDiscretizer()
      .setInputCols(Array("e0")).setOutputCols(Array("b0"))
      .setLabelCol("label").setMaxCandidates(16).fit(df).boundaries(0)
    val base = boundsOf(e)
    base.length should be >= 2
    boundsOf(e.repartition(7)) shouldBe base
    boundsOf(e.repartition(1)) shouldBe base
    boundsOf(e.orderBy(rand(seed = 5))) shouldBe base
  }

  /** The two compressions of one histogram, each as sorted cells with
    * values compared by their bits (canonical NaN), so NaN cells compare
    * equal. */
  private def bothGrids(df: org.apache.spark.sql.DataFrame, feats: Array[String],
      label: String, cap: Int) = {
    import graft.ml.SupervisedHistogram
    val hist = SupervisedHistogram.histogram(df, feats, label)
    def norm(cells: Array[SupervisedHistogram.Cell]) = cells.map {
      case (f, v, y, c) => (f, java.lang.Double.doubleToLongBits(v), y, c)
    }.sortBy(c => (c._1, c._2, c._3))
    val cells = hist.collect().map(SupervisedHistogram.cell)
    (norm(SupervisedHistogram.driverGrid(cells, cap)),
      norm(SupervisedHistogram.distributedGrid(hist, cap)))
  }

  test("driver grid == distributed grid on the embeddings column") {
    val e = T.t(spark, sf001, "embeddings")
      .select(element_at(col("embedding"), 1).cast("double").as("e0"), col("label"))
    for (cap <- Seq(16, 32)) {
      val (driver, distributed) = bothGrids(e, Array("e0"), "label", cap)
      withClue(s"cap $cap: ") {
        driver.map(_._2).distinct.length shouldBe cap
        driver shouldBe distributed
      }
    }
  }

  test("driver grid == distributed grid with ties, NaN, ±Inf, nulls and a " +
      "constant feature next to a capped one") {
    import spark.implicits._
    val inf = Double.PositiveInfinity
    // a: 13 distinct values (NaN, ±Inf, -0.0 tied with 0.0, a null row)
    // — capped at every cap below; b: constant; c: three values — capped
    // only at 2
    val a = Seq[java.lang.Double](Double.NaN, -inf, inf, -0.0, 0.0, 1.0, 1.0,
      2.0, 3.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, Double.NaN, inf, null, 9.0)
    val rows = a.zipWithIndex.map { case (v, i) =>
      (v, 5.0, (i % 3).toDouble, if (i % 4 == 0) "p" else "q") }
    val df = rows.toDF("a", "b", "c", "y")
    for (cap <- Seq(2, 3, 4, 5)) {
      val (driver, distributed) = bothGrids(df, Array("a", "b", "c"), "y", cap)
      withClue(s"cap $cap: ") {
        driver shouldBe distributed
        // the capped feature keeps exactly `cap` values, NaN as its largest
        driver.filter(_._1 == 0).map(_._2).distinct.length shouldBe cap
        driver.filter(_._1 == 0).map(_._2) should contain(
          java.lang.Double.doubleToLongBits(Double.NaN))
        driver.filter(_._1 == 1).map(_._4).sum shouldBe rows.length
      }
    }
  }

  test("knn classify: deterministic majority vote for every vector") {
    val emb = T.t(spark, sf001, "embeddings")
    val out = graft.ml.Knn.classify(emb, k = 5)
    val n = emb.count()
    out.count() shouldBe n
    out.where(col("votes") < 1 || col("votes") > 5).count() shouldBe 0L
    // deterministic across partitioning
    graft.ml.Knn.classify(emb.repartition(3), k = 5).collect() shouldBe out.collect()
  }

  test("knn classify: brute == auto on both sides of the dispatch gate") {
    // the declared knn_classify query now runs auto = true (round 11
    // verdict item 1) — pin result identity across the gate so the flip
    // cannot silently change answers:
    //   below the gate: auto dispatches back to brute → exact identity
    //   above the gate (forced via ivfThreshold = 1): degenerate IVF with
    //     nprobe = nCells probes every cell, so the approximate path sees
    //     every candidate and must reproduce brute exactly
    val emb = T.t(spark, sf001, "embeddings")
    val brute = graft.ml.Knn.classify(emb, k = 5, auto = false).collect()
    graft.ml.Knn.classify(emb, k = 5, auto = true).collect() shouldBe brute
    graft.ml.Knn.classify(emb, k = 5, auto = true,
      ivfThreshold = 1, nCells = 4, nprobe = 4).collect() shouldBe brute
  }

  test("model save/load roundtrip") {
    val est = new CAIMDiscretizer()
      .setInputCols(Array("x")).setOutputCols(Array("xb")).setLabelCol("y")
    val model = est.fit(golden)
    val dir = java.nio.file.Files.createTempDirectory("caim-model").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = CAIMDiscretizerModel.load(dir)
    loaded.boundaries shouldBe model.boundaries
    loaded.transform(golden).select("xb").collect().map(_.getDouble(0)).sorted shouldBe
      model.transform(golden).select("xb").collect().map(_.getDouble(0)).sorted
  }
}
