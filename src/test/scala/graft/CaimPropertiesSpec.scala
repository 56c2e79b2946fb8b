package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.ml.{AmevaDiscretizer, CAIMDiscretizer, ChiMergeDiscretizer, MDLPDiscretizer}

/** ScalaCheck properties for the CAIM greedy core (SURVEY.md §5.3):
  * exercised directly on `greedySelect` (the driver-side algorithm) so
  * hundreds of cases run without Spark jobs — the boundary contract also
  * on the Ameva, MDLP and ChiMerge searches — plus one generated end-to-end
  * Spark fit. FIXTURES.md §F2 property: class-clustered gaussians must
  * recover boundaries between adjacent class means. Generators are sampled
  * with fixed seeds so failures reproduce.
  */
class CaimPropertiesSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def forAll[A](gen: Gen[A], cases: Int = 200)(body: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var run = 0
    var seedNo = 0L
    while (run < cases && seedNo < cases * 20L) {
      gen.apply(params, Seed(seedNo)).foreach { a => body(a); run += 1 }
      seedNo += 1
    }
    run should be >= cases / 2 // generator must not be starved by filters
  }

  private val histGen: Gen[(Array[Double], Array[Array[Long]], Int)] = for {
    m <- Gen.choose(2, 60)
    s <- Gen.choose(2, 5)
    values <- Gen.listOfN(m, Gen.choose(-1000.0, 1000.0)).map(_.distinct.sorted.toArray)
      .suchThat(_.length >= 2)
    counts <- Gen.listOfN(values.length,
      Gen.listOfN(s, Gen.choose(0L, 20L)).map(_.toArray)).map(_.toArray)
      .suchThat(_.forall(_.sum > 0))
  } yield (values, counts, s)

  private type Select = (Array[Double], Array[Array[Long]], Int) => Array[Double]

  /** Every search of the family, by name. */
  private val selects: Seq[(String, Select)] =
    Seq("caim" -> CAIMDiscretizer.greedySelect, "ameva" -> AmevaDiscretizer.amevaSelect,
      "mdlp" -> MDLPDiscretizer.mdlpSelect,
      "chimerge" -> (ChiMergeDiscretizer.chiMergeSelect(_, _, _, 0.05)))

  /** `body` over every search of the family, for each generated histogram. */
  private def forAllSelects(
      body: (Array[Double], Array[Array[Long]], Int, Select) => Unit): Unit =
    forAll(histGen) { case (values, counts, s) =>
      selects.foreach { case (name, select) => withClue(name)(body(values, counts, s, select)) }
    }

  test("boundaries are strictly increasing and span [min, max]") {
    forAllSelects { (values, counts, s, select) =>
      val b = select(values, counts, s)
      b.head shouldBe values.head
      b.last shouldBe values.last
      b.sliding(2).foreach { case Array(x, y) => x should be < y; case _ => }
      // interior cuts are midpoints strictly inside the range
      b.drop(1).dropRight(1).foreach { c =>
        c should be > values.head
        c should be < values.last
      }
    }
  }

  test("every cut lies between two adjacent observed values") {
    forAllSelects { (values, counts, s, select) =>
      val cuts = select(values, counts, s).drop(1).dropRight(1)
      cuts.foreach { c =>
        val i = values.indexWhere(_ > c)
        i should be > 0
        c shouldBe (values(i - 1) + values(i)) / 2
      }
    }
  }

  test("degenerate histograms keep two boundaries: m = 0 and m = 1") {
    selects.foreach { case (name, select) =>
      withClue(name) {
        select(Array.empty, Array.empty, 0) shouldBe Array(0.0, 0.0)
        select(Array(3.5), Array(Array(4L, 1L)), 2) shouldBe Array(3.5, 3.5)
      }
    }
  }

  test("class-clustered gaussians: recovered cuts fall between class means") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val means = Seq(0.0, 50.0, 100.0)
    val rows = for {
      (mu, label) <- means.zipWithIndex
      _ <- 1 to 80
    } yield (mu + rnd.nextGaussian() * 2.0, label)
    val model = new CAIMDiscretizer()
      .setInputCols(Array("x")).setOutputCols(Array("xb")).setLabelCol("y")
      .fit(rows.toDF("x", "y"))
    val cuts = model.boundaries(0).drop(1).dropRight(1)
    cuts.length shouldBe 2
    cuts(0) should (be > 10.0 and be < 40.0)
    cuts(1) should (be > 60.0 and be < 90.0)
  }

  test("constant feature degenerates to a single bin without crashing") {
    import spark.implicits._
    val df = Seq.tabulate(10)(i => (5.0, i % 2)).toDF("x", "y")
    val model = new CAIMDiscretizer()
      .setInputCols(Array("x")).setOutputCols(Array("xb")).setLabelCol("y").fit(df)
    val out = model.transform(df).select("xb").collect().map(_.getDouble(0))
    out.distinct shouldBe Array(0.0)
  }
}
