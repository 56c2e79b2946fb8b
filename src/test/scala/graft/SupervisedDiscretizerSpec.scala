package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.ml.{AmevaDiscretizer, CAIMDiscretizer, ChiMergeDiscretizer, MDLPDiscretizer,
  SupervisedDiscretizer}

/** Contracts the four supervised discretizers share through
  * [[SupervisedDiscretizer]]: a NaN feature value is a typed error on
  * every grid branch, and an estimator (not only its model) survives
  * save/load with every param and default.
  */
class SupervisedDiscretizerSpec extends AnyFunSuite with SparkFixture with Matchers {

  /** A fresh estimator of each member, with its companion's loader. */
  private def family(): Seq[(SupervisedDiscretizer, String => SupervisedDiscretizer)] = Seq(
    (new CAIMDiscretizer(), CAIMDiscretizer.load),
    (new AmevaDiscretizer(), AmevaDiscretizer.load),
    (new MDLPDiscretizer(), MDLPDiscretizer.load),
    (new ChiMergeDiscretizer(), ChiMergeDiscretizer.load))

  /** A param value with arrays as Seqs, so it compares by content. */
  private def deep(v: Option[Any]): Option[Any] = v.map {
    case a: Array[_] => a.toSeq
    case x => x
  }

  test("a NaN feature value fails every fit with an error naming its column") {
    import spark.implicits._
    // x: 2 distinct values; z: 40, one of them NaN. 42 histogram rows, so
    // the default cap collects them uncapped, cap 30 caps z on the driver
    // and cap 2 (gate 5 rows) caps both on the cluster
    val df = (0 until 40).map(i =>
      ((i % 2).toDouble, if (i == 17) Double.NaN else i * 0.5, i % 2)).toDF("x", "z", "y")
    for ((est, _) <- family(); cap <- Seq(None, Some(30), Some(2))) {
      est.setInputCols(Array("x", "z")).setOutputCols(Array("xb", "zb")).setLabelCol("y")
      cap.foreach(est.setMaxCandidates)
      withClue(s"${est.getClass.getSimpleName} cap $cap: ") {
        val e = the[IllegalArgumentException] thrownBy est.fit(df)
        e.getMessage should include("feature column z holds NaN")
      }
    }
  }

  test("estimators save and load with every param and default") {
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toDouble, s"c${i / 20}")).toDF("x", "cls")
    for ((est, load) <- family()) {
      est.setInputCols(Array("x")).setOutputCols(Array("xb"))
        .setLabelCol("cls").setMaxCandidates(16)
      est match { case c: ChiMergeDiscretizer => c.setAlpha(0.01); case _ => }
      val dir = java.nio.file.Files.createTempDirectory("disc-est").toString + "/e"
      est.write.overwrite().save(dir)
      val loaded = load(dir)
      withClue(s"${est.getClass.getSimpleName}: ") {
        loaded.getClass shouldBe est.getClass
        loaded.uid shouldBe est.uid
        loaded.params.map(_.name) shouldBe est.params.map(_.name)
        est.params.foreach { p =>
          val q = loaded.getParam(p.name)
          withClue(p.name + ": ") {
            loaded.isSet(q) shouldBe est.isSet(p)
            loaded.hasDefault(q) shouldBe est.hasDefault(p)
            deep(loaded.getDefault(q)) shouldBe deep(est.getDefault(p))
            deep(loaded.get(q)) shouldBe deep(est.get(p))
          }
        }
        loaded.getOrDefault(loaded.labelCol) shouldBe "cls"
        loaded.getOrDefault(loaded.maxCandidates) shouldBe 16
        // ChiMerge's own default cap survives beside the shared one
        loaded.getDefault(loaded.maxCandidates) shouldBe
          Some(if (loaded.isInstanceOf[ChiMergeDiscretizer]) 4096 else 32768)
        loaded.fit(df).boundaries shouldBe est.fit(df).boundaries
      }
    }
  }
}
