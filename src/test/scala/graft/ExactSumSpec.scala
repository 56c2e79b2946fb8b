package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.functions.SumUnscaled128]] (the r18 `T.dsum` rewiring)
  * VALUE-IDENTICAL to the built-in decimal sum it replaces:
  * `sum(CAST(x AS DECIMAL(18, s))).cast("double")`. The equivalence is the
  * whole optimization contract — every oracle hash that rode dsum must be
  * byte-identical, so the comparison here is exact (==), never tolerance.
  */
class ExactSumSpec extends AnyFunSuite with SparkFixture {

  private def builtin(c: org.apache.spark.sql.Column, s: Int) =
    sum(c.cast(DecimalType(18, s))).cast("double")

  test("dsum == built-in decimal sum on corpus money columns, per group") {
    val o = T.t(spark, sf01c, "orders")
    val a = o.groupBy("o_orderpriority")
      .agg(T.dsum(col("o_totalprice"), 2).as("v"))
      .orderBy("o_orderpriority").collect().map(r => r.getString(0) -> r.getDouble(1))
    val b = o.groupBy("o_orderpriority")
      .agg(builtin(col("o_totalprice"), 2).as("v"))
      .orderBy("o_orderpriority").collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(a.toSeq == b.toSeq)
  }

  test("dsum carry paths: sums crossing 2^63 of unscaled magnitude, both signs") {
    // 40 values of ±9.2e17 unscaled (scale 2): |running sum| crosses the
    // 64-bit boundary repeatedly in update AND merge (8 partitions)
    val big = 9.2e15 // cast to DECIMAL(18,2) -> unscaled 9.2e17
    val df = spark.range(0, 40, 1, 8)
      .select(when(col("id") % 3 === 0, -big).otherwise(big).as("x"))
    val got = df.agg(T.dsum(col("x"), 2)).head.getDouble(0)
    val want = df.agg(builtin(col("x"), 2)).head.getDouble(0)
    assert(got == want)
    // negative-dominant variant (hi limb stays negative throughout)
    val dfn = df.select(negate(col("x")).as("x"))
    assert(dfn.agg(T.dsum(col("x"), 2)).head.getDouble(0) ==
      dfn.agg(builtin(col("x"), 2)).head.getDouble(0))
  }

  test("dsum null semantics: nulls ignored, all-null group yields NULL") {
    val df = spark.range(0, 10, 1, 4).select(col("id").cast("long").as("g"),
        when(col("id") % 2 === 0, col("id").cast("double") + 0.25).as("x"))
      .withColumn("g", col("g") % 2)
    val r = df.groupBy("g").agg(T.dsum(col("x"), 2).as("v"), count(lit(1)))
      .orderBy("g").collect()
    val want = df.groupBy("g").agg(builtin(col("x"), 2).as("v"), count(lit(1)))
      .orderBy("g").collect()
    assert(r.map(_.isNullAt(1)).toSeq == want.map(_.isNullAt(1)).toSeq)
    assert(r.zip(want).forall { case (a, b) =>
      a.isNullAt(1) || a.getDouble(1) == b.getDouble(1) })
    // one group is all-null (odd ids): the built-in yields NULL there
    assert(r.exists(_.isNullAt(1)))
  }

  test("dsum empty input yields NULL like the built-in") {
    val df = spark.range(0).select(col("id").cast("double").as("x"))
    assert(df.agg(T.dsum(col("x"), 2)).head.isNullAt(0))
  }

  test("dsum random fuzz vs built-in, grouped, 4-decimal scale") {
    val df = spark.range(0, 20000, 1, 16).select(
      (col("id") % 7).as("g"),
      (rand(42) * 2e9 - 1e9).as("x"))
    val a = df.groupBy("g").agg(T.dsum(col("x"), 4).as("v")).orderBy("g")
      .collect().map(_.getDouble(1))
    val b = df.groupBy("g").agg(builtin(col("x"), 4).as("v")).orderBy("g")
      .collect().map(_.getDouble(1))
    assert(a.toSeq == b.toSeq)
  }

  test("D2U fast path == string-repr HALF_UP definition (direct fuzz + adversaries)") {
    // the r18 double fast path must agree with the definitional conversion
    // for EVERY double — fuzz across magnitudes/scales plus the hand-picked
    // half-way adversaries where naive float rounding diverges
    def slow(x: Double, s: Int): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    val rnd = new java.util.Random(7)
    var i = 0
    while (i < 200000) {
      val mag = math.pow(10, rnd.nextInt(12) - 3)
      val x = (rnd.nextDouble() * 2 - 1) * mag
      val s = rnd.nextInt(7)
      assert(graft.functions.D2U.unscaled(x, s) == slow(x, s),
        s"x=$x s=$s")
      i += 1
    }
    // exact-representable halves and classic decimal landmines
    for (x <- Seq(0.125, -0.125, 0.135, -0.135, 2.675, 1.005, -1.005,
        0.5, -0.5, 1.5, 2.5, -2.5, 1e14 + 0.5, -(1e14 + 0.5));
        s <- 0 to 4)
      assert(graft.functions.D2U.unscaled(x, s) == slow(x, s), s"x=$x s=$s")
    // guard boundary: |x·10^s| around 2^50 — fast path must hand off
    for (x <- Seq(1.1258999068426239e13, 1.1258999068426251e13, 9.9e12);
        s <- Seq(2, 3))
      assert(graft.functions.D2U.unscaled(x, s) == slow(x, s), s"x=$x s=$s")
    // r19 slow-path rewrite (integer rounding over the Double.toString
    // digits): wide-magnitude fuzz spanning both E-notation forms, every
    // scale 0..18, 17-significant-digit mantissas, and the k>=0 branch
    // (value already on the grid) — plus subnormals and near-long-overflow
    var j = 0
    while (j < 200000) {
      val mag = math.pow(10, rnd.nextInt(34) - 17)
      val x = (rnd.nextDouble() * 2 - 1) * mag
      val s = rnd.nextInt(19)
      val mine = try Right(graft.functions.D2U.unscaled(x, s))
                 catch { case e: ArithmeticException => Left("overflow") }
      val ref = try Right(slow(x, s))
                catch { case e: ArithmeticException => Left("overflow") }
      assert(mine == ref, s"x=$x s=$s")
      j += 1
    }
    for (x <- Seq(4.9e-324, -4.9e-324, 1.7976931348623157e308, 1e17, 9e16,
        -9e16, 1.2345678901234567e16, -1.2345678901234567e16, 0.001,
        1.0e-3, 9.999999999999999e-4);
        s <- Seq(0, 1, 2, 6, 18)) {
      val mine = try Right(graft.functions.D2U.unscaled(x, s))
                 catch { case e: ArithmeticException => Left("overflow") }
      val ref = try Right(slow(x, s))
                catch { case e: ArithmeticException => Left("overflow") }
      assert(mine == ref, s"x=$x s=$s")
    }
  }

  test("dsum(x, s) on computed double products == built-in (slow-path heavy)") {
    // agg_group's sum_disc/sum_charge shape: products of doubles have long
    // binary expansions, so most rows fail the fast-path round-trip check
    // and take the definitional conversion — equality must still be exact
    val li = T.t(spark, sf01c, "lineitem").limit(20000)
      .select((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("x"))
    assert(li.agg(T.dsum(col("x"), 4)).head.getDouble(0) ==
      li.agg(builtin(col("x"), 4)).head.getDouble(0))
    val li6 = T.t(spark, sf01c, "lineitem").limit(20000)
      .select((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
        (lit(1.0) + col("l_tax"))).as("x"))
    assert(li6.agg(T.dsum(col("x"), 6)).head.getDouble(0) ==
      li6.agg(builtin(col("x"), 6)).head.getDouble(0))
  }

  test("dsum(x, s) non-double children keep the exact Cast path") {
    // integer/long inputs: dsum must equal the decimal-cast sum exactly
    val df = spark.range(0, 5000, 1, 8).select(col("id").as("x"))
    assert(df.agg(T.dsum(col("x"), 2)).head.getDouble(0) ==
      df.agg(builtin(col("x"), 2)).head.getDouble(0))
    val dec = spark.range(0, 5000, 1, 8)
      .select((col("id").cast("decimal(12,2)") / 7).as("x"))
    assert(dec.agg(T.dsum(col("x"), 2)).head.getDouble(0) ==
      dec.agg(builtin(col("x"), 2)).head.getDouble(0))
  }

  test("dsum refuses non-compact decimal input") {
    val e = intercept[Exception] {
      spark.range(1).select(col("id").cast("decimal(28,4)").as("x"))
        .agg(graft.T.dsumDecimal(col("x"))).collect()
    }
    assert(e.getMessage.contains("compact decimal"))
  }

  // --- r19: graft_dxsum (exact cross-moment sum) ---

  private def builtinX(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, sx: Int, sy: Int) =
    sum(x.cast(DecimalType(18, sx)) * y.cast(DecimalType(18, sy)))
      .cast("double")

  test("dxsum == built-in decimal cross-product sum on the corpus " +
    "(agg_ols / agg_corr shape), per group") {
    val li = T.t(spark, sf01c, "lineitem")
    def both(x: String, y: String) = {
      val a = li.groupBy("l_returnflag")
        .agg(T.dxsum(col(x), col(y), 2, 2).as("v"))
        .orderBy("l_returnflag").collect().map(_.getDouble(1))
      val b = li.groupBy("l_returnflag")
        .agg(builtinX(col(x), col(y), 2, 2).as("v"))
        .orderBy("l_returnflag").collect().map(_.getDouble(1))
      assert(a.toSeq == b.toSeq, s"dxsum($x, $y) drifted")
    }
    both("l_quantity", "l_quantity")
    both("l_extendedprice", "l_extendedprice")
    both("l_quantity", "l_extendedprice")
  }

  test("dxsum random fuzz vs built-in: mixed signs, mixed scales, " +
    "per-row products crossing 2^63 of unscaled magnitude") {
    // x up to ±1e9 at scale 4 (unscaled ±1e13), y up to ±1e5 at scale 2
    // (unscaled ±1e7): per-row unscaled products reach ±1e20 > 2^63, so
    // the 128-bit multiply path is exercised, not just the easy low word
    val df = spark.range(0, 20000, 1, 16).select(
      (col("id") % 7).as("g"),
      (rand(7) * 2e9 - 1e9).as("x"),
      (rand(11) * 2e5 - 1e5).as("y"))
    val a = df.groupBy("g").agg(T.dxsum(col("x"), col("y"), 4, 2).as("v"))
      .orderBy("g").collect().map(_.getDouble(1))
    val b = df.groupBy("g").agg(builtinX(col("x"), col("y"), 4, 2).as("v"))
      .orderBy("g").collect().map(_.getDouble(1))
    assert(a.toSeq == b.toSeq)
  }

  test("dxsum null semantics: a null on EITHER side skips the row; " +
    "all-null group yields NULL") {
    val df = spark.range(0, 12, 1, 4).select(
      (col("id") % 3).as("g"),
      when(col("id") % 2 === 0, col("id").cast("double") + 0.5).as("x"),
      when(col("id") % 3 =!= 1, col("id").cast("double") * 2).as("y"))
      // group 1 rows: ids 1,4,7,10 — y null on 1,4?,... make one group all-null
      .withColumn("y", when(col("g") === 1, lit(null).cast("double"))
        .otherwise(col("y")))
    val a = df.groupBy("g").agg(T.dxsum(col("x"), col("y"), 2, 2).as("v"))
      .orderBy("g").collect()
    val b = df.groupBy("g").agg(builtinX(col("x"), col("y"), 2, 2).as("v"))
      .orderBy("g").collect()
    assert(a.map(_.isNullAt(1)).toSeq == b.map(_.isNullAt(1)).toSeq)
    assert(a.zip(b).forall { case (x, y) =>
      x.isNullAt(1) || x.getDouble(1) == y.getDouble(1) })
    assert(a.exists(_.isNullAt(1)))
  }

  test("dxsum non-double children keep the exact Cast path") {
    val df = spark.range(0, 5000, 1, 8).select(
      col("id").as("x"), (col("id").cast("decimal(12,2)") / 7).as("y"))
    assert(df.agg(T.dxsum(col("x"), col("y"), 0, 2)).head.getDouble(0) ==
      df.agg(sum(col("x").cast(DecimalType(18, 0)) *
        col("y").cast(DecimalType(18, 2))).cast("double")).head.getDouble(0))
  }

  test("dxsum skips a long whose DECIMAL(18,s) cast overflows to null, " +
    "like the built-in, instead of resetting the sum") {
    // outside ANSI mode CAST(x AS DECIMAL(18,2)) nulls for |x| ≥ 1e16; the
    // built-in sum skips that row's null product. One partition, overflow
    // row in the middle: a reset would drop every row before it
    val ansiBefore = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = spark.range(0, 100, 1, 1).select(
        when(col("id") === 50, lit(100000000000000000L))
          .otherwise(col("id")).as("x"),
        (col("id") + 1).as("y"))
      val got = df.agg(T.dxsum(col("x"), col("y"), 2, 0)).head.getDouble(0)
      val want = df.agg(builtinX(col("x"), col("y"), 2, 0)).head.getDouble(0)
      assert(got == want)
      assert(want == (0 until 100).filter(_ != 50).map(i => i * (i + 1.0)).sum)
      // every row overflowing leaves nothing summed: NULL, like the built-in
      val all = spark.range(0, 4, 1, 1)
        .select((col("id") + 100000000000000000L).as("x"), col("id").as("y"))
      assert(all.agg(T.dxsum(col("x"), col("y"), 2, 0)).head.isNullAt(0))
      assert(all.agg(builtinX(col("x"), col("y"), 2, 0)).head.isNullAt(0))
    } finally ansiBefore match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("dsum and dxsum fail loudly on NaN, ±Inf and out-of-range doubles, " +
    "naming graft_dsum; nulls are skipped") {
    def arithmetic(f: => Any): ArithmeticException = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: ArithmeticException => a }
        .getOrElse(fail(s"no ArithmeticException in the cause chain of $e"))
    }
    // 1e17 at scale 2 is 1e19 unscaled, past Long.MaxValue ≈ 9.22e18
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1e17)) {
      val df = spark.range(0, 8, 1, 2).select(
        when(col("id") === 5, lit(bad)).otherwise(col("id").cast("double")).as("x"),
        when(col("id") =!= 3, lit(1.5)).as("y"))
      for (agg <- Seq(T.dsum(col("x"), 2), T.dxsum(col("x"), col("y"), 2, 2),
          T.dxsum(col("y"), col("x"), 2, 2))) {
        val e = arithmetic(df.agg(agg).collect())
        assert(e.getMessage.contains("graft_dsum"), s"$bad: ${e.getMessage}")
      }
    }
    // the same frame without the dirty row: the null y is skipped
    val clean = spark.range(0, 8, 1, 2).select(col("id").cast("double").as("x"),
      when(col("id") =!= 3, lit(1.5)).as("y"))
    assert(clean.agg(T.dsum(col("y"), 2)).head.getDouble(0) == 10.5)
    assert(clean.agg(T.dxsum(col("x"), col("y"), 2, 2)).head.getDouble(0) == 37.5)
  }

  // --- r19: graft_dsumd (decimal-output 128-bit sum) ---

  test("dsumd == built-in decimal(38) sum: exact values, exact TYPE, " +
    "downstream decimal arithmetic unchanged (agg_ttest shape)") {
    val o = T.t(spark, sf01c, "orders")
      .select(col("o_orderpriority"),
        expr("CAST(rint(o_totalprice * 100) AS BIGINT)").as("c"))
    val g1 = o.groupBy("o_orderpriority")
      .agg(T.dsumDec(col("c").cast("decimal(18,0)")).as("sv"),
        T.dsumDec((col("c") * col("c")).cast("decimal(18,0)")).as("sq"))
    val g2 = o.groupBy("o_orderpriority")
      .agg(sum(col("c").cast("decimal(38,0)")).as("sv"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("sq"))
    assert(g1.schema("sv").dataType == g2.schema("sv").dataType)
    assert(g1.schema("sq").dataType == g2.schema("sq").dataType)
    val a = g1.orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2)))
    val b = g2.orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2)))
    assert(a.toSeq == b.toSeq)
    // Σc² at sf0.01 exceeds 2^53 — the decimal output must NOT have gone
    // through a double (which would round): re-check one digit-exact sum
    assert(a.map(_._3.toBigInteger.bitLength()).max > 53 ||
      a.map(_._3).forall(_.precision <= 16))
  }

  test("dsumd null/empty semantics match the built-in") {
    val df = spark.range(0, 10, 1, 4).select(
      (col("id") % 2).as("g"),
      when(col("id") % 2 === 0, col("id")).as("x"))
    val a = df.groupBy("g")
      .agg(T.dsumDec(col("x").cast("decimal(18,0)")).as("v")).orderBy("g")
      .collect()
    val b = df.groupBy("g")
      .agg(sum(col("x").cast("decimal(38,0)")).as("v")).orderBy("g")
      .collect()
    assert(a.map(_.isNullAt(1)).toSeq == b.map(_.isNullAt(1)).toSeq)
    assert(a.zip(b).forall { case (x, y) =>
      x.isNullAt(1) || x.getDecimal(1) == y.getDecimal(1) })
  }
}
