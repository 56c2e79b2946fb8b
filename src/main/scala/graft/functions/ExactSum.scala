package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Final conversion for [[SumUnscaled128]]: the signed 128-bit integer
  * (hi·2⁶⁴ + unsigned lo) is the exact unscaled sum; interpret it at the
  * input's decimal scale and convert to double with BigDecimal's
  * correctly-rounded (nearest-even) conversion — the SAME rounding
  * `Decimal.toDouble` applies, so the result is bit-identical to
  * `sum(CAST(x AS DECIMAL(p, s))).cast("double")`. Runs once per GROUP,
  * never per row.
  */
object I128Sum {
  private def toBigInteger(hi: Long, lo: Long): java.math.BigInteger = {
    val loBytes = new Array[Byte](8)
    var i = 0
    while (i < 8) { loBytes(i) = (lo >>> (56 - 8 * i)).toByte; i += 1 }
    java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(1, loBytes))
  }

  def toDouble(hi: Long, lo: Long, scale: Int): Double =
    new java.math.BigDecimal(toBigInteger(hi, lo), scale).doubleValue()

  /** Finish as DECIMAL(38, scale) — for consumers that keep doing exact
    * decimal arithmetic on the sum (agg_ttest's complement-subtraction)
    * rather than converting to double. Null when the exact sum exceeds
    * 38 digits, mirroring the built-in Sum's non-ANSI overflow-to-null
    * (unreachable where the old decimal(38) form succeeded). */
  def toDecimal38(hi: Long, lo: Long, scale: Int)
      : org.apache.spark.sql.types.Decimal = {
    val bd = new java.math.BigDecimal(toBigInteger(hi, lo), scale)
    if (bd.precision > 38) null
    else org.apache.spark.sql.types.Decimal(bd, 38, scale)
  }
}

/** Exact order-independent SUM of a compact decimal column, finished as
  * DOUBLE — the codegen-friendly replacement for
  * `sum(CAST(x AS DECIMAL(18, s))).cast("double")` (guide §4: eliminate
  * non-codegen-friendly per-row work in the hot path).
  *
  * WHY: Spark's built-in `Sum` over a decimal input widens the buffer by
  * 10 digits (18 → 28), and a decimal with precision > 18 leaves the
  * compact-long representation — every row then pays a JavaBigDecimal
  * add plus re-serialization into the aggregation buffer. Measured at
  * sf0.1 (600k lineitems, 5 sums): 2.34 s vs 0.50 s for plain double
  * sums — the exactness discipline cost ~4× the aggregation itself.
  *
  * HOW: the input decimal (precision ≤ 18, REQUIRED) is compact, so its
  * unscaled value is one long. Accumulate those longs into a signed
  * 128-bit integer held as two long buffer slots (hi, lo) — plain
  * two's-complement carry arithmetic, fully codegen'd, no allocation:
  *
  *   lo' = lo + u                                (wrapping, LEGACY add)
  *   carry = ((lo & u) | ((lo | u) & ~lo')) >>> 63   (unsigned carry-out)
  *   hi' = hi + (u >> 63) + carry               (sign-extend u, add carry)
  *
  * Merge combines two (hi, lo) pairs with the same carry formula (no
  * sign extension — both are raw 128-bit limbs). Addition is associative
  * and every step exact, so the result is VALUE-IDENTICAL to the decimal
  * sum for every order of partial merges; the final double conversion
  * ([[I128Sum.toDouble]]) applies the identical nearest-even rounding.
  *
  * Headroom: 2¹²⁷ ≈ 1.7e38 of unscaled sum vs the old decimal(28)'s
  * 1e28 — strictly wider before overflow, i.e. this CANNOT overflow
  * where the old form succeeded. Nulls are ignored and an all-null /
  * empty group yields NULL, exactly like `Sum` (the `seen` flag).
  */
case class SumUnscaled128(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private lazy val scale: Int = child.dataType match {
    case dt: DecimalType =>
      require(dt.precision <= Decimal.MAX_LONG_DIGITS,
        s"graft_dsum needs a compact decimal input (precision <= 18), got " +
          s"${child.dataType.simpleString} — cast to DECIMAL(18, s) first")
      dt.scale
    case other => throw new IllegalArgumentException(
      s"graft_dsum expects a decimal input, got ${other.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dsum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dsum needs a compact decimal input (precision <= 18), got " +
            s"${other.simpleString} — cast to DECIMAL(18, s) first")
    }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** Wrapping long add — EXPLICITLY legacy so ANSI mode (Spark 4 default)
    * cannot turn the deliberate 64-bit wraparound into an overflow error. */
  private def wadd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** Unsigned carry-out of a+b (two's complement), as 0L/1L. */
  private def carryOut(a: Expression, b: Expression, sum: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(sum))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val u = UnscaledValue(child)
    val loNew = wadd(lo, u)
    val hiNew = wadd(wadd(hi, ShiftRight(u, Literal(63))), carryOut(lo, u, loNew))
    Seq(
      If(IsNull(child), hi, hiNew),
      If(IsNull(child), lo, loNew),
      Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val loM = wadd(lo.left, lo.right)
    val hiM = wadd(wadd(hi.left, hi.right), carryOut(lo.left, lo.right, loM))
    Seq(hiM, loM, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen,
      StaticInvoke(I128Sum.getClass, DoubleType, "toDouble",
        Seq(hi, lo, Literal(scale)),
        inputTypes = Seq(LongType, LongType, IntegerType),
        propagateNull = false, returnNullable = false),
      Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): SumUnscaled128 =
    copy(child = newChild)
}

/** Per-row double → unscaled-long conversion for [[SumUnscaledFixed]].
  *
  * The SEMANTIC DEFINITION is the slow path: Spark's
  * `CAST(x AS DECIMAL(18, s))` converts through the double's shortest
  * decimal string (`BigDecimal.valueOf` = `Double.toString`) and rounds
  * HALF_UP at scale s — the cross-engine contract every dsum oracle pins.
  *
  * The fast path skips the string round-trip when its result is PROVABLY
  * identical: candidate r = round(x·10ˢ), accepted iff r/10ˢ re-rounds to
  * exactly x. Proof of equivalence under the guard |x·10ˢ| < 2⁵⁰:
  * acceptance means x is the correctly-rounded double of the decimal
  * r·10⁻ˢ, so the shortest-repr decimal d of x also lies in x's rounding
  * interval: |d − r·10⁻ˢ| < ulp(x) ≤ 2⁻⁵¹·|x| < 0.5·10⁻ˢ (the guard),
  * hence d rounds at scale s to exactly r — no other grid point or tie is
  * reachable. Every money-like corpus value (≤ s decimal places) takes
  * this path; computed products (long binary expansions) fail the
  * round-trip check and take the definitional slow path. r.toDouble is
  * exact (|r| ≤ 2⁵⁰) and the division is correctly rounded, so the check
  * itself is exact.
  *
  * Overflow: unscaled results beyond Long range throw (ArithmeticException)
  * — the ANSI cast on the old path also threw there; values between 18
  * digits and 2⁶³ are accepted rather than refused (the 128-bit buffer is
  * exact far beyond either), documented as strictly-wider-never-narrower.
  */
object D2U {
  private val POW: Array[Double] = Array.tabulate(19)(i => math.pow(10, i))
  private val POW10L: Array[Long] = Array.iterate(1L, 19)(_ * 10L)
  def unscaled(x: Double, s: Int): Long = {
    val p = POW(s)
    val y = x * p
    if (java.lang.Math.abs(y) < 1.125899906842624e15) { // 2^50
      val r = java.lang.Math.round(y)
      if (r.toDouble / p == x) return r
    }
    // BigDecimal.valueOf(NaN/Infinity) would throw a raw
    // NumberFormatException — fail with a diagnosable message that names
    // the aggregate and the offending value instead
    if (!java.lang.Double.isFinite(x))
      throw new ArithmeticException(
        s"graft_dsum: non-finite input $x cannot be summed exactly at " +
          s"scale $s — filter NaN/Infinity rows first")
    // r19: the definitional conversion WITHOUT BigDecimal. The semantic
    // definition operates on Double.toString(x) — the shortest decimal
    // representation ±D×10^e (D ≤ 17 significant digits, so D always
    // fits a long) — and rounds it HALF_UP at scale s. That is pure
    // integer arithmetic on the SAME string BigDecimal.valueOf parses:
    //  · k = e + s ≥ 0: the value lies ON the scale-s grid — result is
    //    exactly D×10^k (overflow → the BigDecimal fallback below, which
    //    throws via longValueExact exactly as before);
    //  · k < 0: drop m = −k digits with half-away-from-zero on the
    //    remainder of the MAGNITUDE (= HALF_UP), sign applied after.
    // Every branch is exact, so this is value-identical to the old
    // BigDecimal chain by construction; the 200k-trial ExactSumSpec fuzz
    // pins it against that chain directly. Cost: one digit scan instead
    // of a BigDecimal parse + setScale + unscaledValue per slow-path row
    // (computed products — agg_group's sum_disc/sum_charge, agg_stats'
    // cross terms — are slow-path by design).
    val str = java.lang.Double.toString(x)
    val n = str.length
    var i = 0
    var neg = false
    if (str.charAt(0) == '-') { neg = true; i = 1 }
    var d = 0L
    var frac = 0
    var seenDot = false
    var exp = 0
    var done = false
    while (i < n && !done) {
      val c = str.charAt(i)
      if (c == '.') seenDot = true
      else if (c == 'E') {
        exp = java.lang.Integer.parseInt(str.substring(i + 1))
        done = true
      } else {
        d = d * 10 + (c - '0')
        if (seenDot) frac += 1
      }
      i += 1
    }
    val k = exp - frac + s
    if (k >= 0) {
      if (k <= 18 && d <= Long.MaxValue / POW10L(k)) {
        val m = d * POW10L(k)
        return if (neg) -m else m
      }
      // provable overflow of the long result — definitional fallback
      // below throws the same ArithmeticException the old path threw
    } else {
      val m = -k
      if (m >= 19) return 0L // |value·10^s| < 1e17·10^-19 < 0.5 → 0
      val pw = POW10L(m)
      var q = d / pw
      if (2L * (d % pw) >= pw) q += 1
      return if (neg) -q else q
    }
    try java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
    catch { case _: ArithmeticException => throw new ArithmeticException(
      s"graft_dsum: input $x at scale $s is outside Long range once unscaled") }
  }
}

/** [[SumUnscaled128]] with the scale declared by the CALLER (second
  * argument, a foldable int) instead of read off a pre-cast decimal input
  * — `graft_dsum(x, s)`. Value-identical to
  * `sum(CAST(x AS DECIMAL(18, s))).cast("double")` for every input type:
  *
  *  - DOUBLE children skip the per-row Cast→Decimal→UnscaledValue chain
  *    (shortest-string parse + BigDecimal setScale + precision check +
  *    Decimal boxing) for one codegen'd [[D2U.unscaled]] call whose fast
  *    path is a multiply, a round and a verifying division (r18, guide
  *    §4 / §1.2 — measured 0.96 s → ~0.4 s for the 6-sum agg_group
  *    aggregate at sf0.1).
  *  - Every other child type keeps the definitional
  *    `UnscaledValue(CAST(child AS DECIMAL(18, s)))` — exact for
  *    integers and rescaled decimals, so T.dsum needs no type analysis
  *    at call sites.
  *
  * Accumulation and final conversion are [[SumUnscaled128]]'s verbatim.
  */
case class SumUnscaledFixed(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dsum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: NumericType if scale >= 0 && scale <= 18 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dsum(x, s) needs a numeric x and 0 <= s <= 18, got " +
            s"${other.simpleString} at scale $scale")
    }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private def wadd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  private def carryOut(a: Expression, b: Expression, sum: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(sum))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val u: Expression = child.dataType match {
      case DoubleType => StaticInvoke(D2U.getClass, LongType, "unscaled",
        Seq(child, Literal(scale)),
        inputTypes = Seq(DoubleType, IntegerType),
        propagateNull = false, returnNullable = false)
      case _ => UnscaledValue(Cast(child, DecimalType(18, scale)))
    }
    val loNew = wadd(lo, u)
    val hiNew = wadd(wadd(hi, ShiftRight(u, Literal(63))), carryOut(lo, u, loNew))
    Seq(
      If(IsNull(child), hi, hiNew),
      If(IsNull(child), lo, loNew),
      Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val loM = wadd(lo.left, lo.right)
    val hiM = wadd(wadd(hi.left, hi.right), carryOut(lo.left, lo.right, loM))
    Seq(hiM, loM, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen,
      StaticInvoke(I128Sum.getClass, DoubleType, "toDouble",
        Seq(hi, lo, Literal(scale)),
        inputTypes = Seq(LongType, LongType, IntegerType),
        propagateNull = false, returnNullable = false),
      Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): SumUnscaledFixed =
    copy(child = newChild)
}

/** [[SumUnscaled128]] finished as DECIMAL(38, s) instead of double —
  * `graft_dsumd(x)` (r19): value-identical to
  * `sum(CAST(x AS DECIMAL(38, s)))` for a compact-decimal input (the
  * exact 128-bit unscaled sum interpreted at the input scale), for
  * consumers that continue with exact decimal arithmetic on the sum
  * (agg_ttest subtracts group sums from broadcast totals BEFORE its one
  * double conversion — a double-valued sum would round too early). The
  * built-in Sum's decimal(38) buffer leaves the compact-long
  * representation, paying a BigDecimal add + re-serialization per row;
  * here every row is two long adds and a carry (guide §4).
  */
case class SumUnscaled128Dec(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private lazy val scale: Int = child.dataType match {
    case dt: DecimalType => dt.scale
    case _ => 0
  }

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dsumd"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dsumd needs a compact decimal input (precision <= 18), got " +
            s"${other.simpleString} — cast to DECIMAL(18, s) first")
    }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private def wadd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  private def carryOut(a: Expression, b: Expression, sum: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(sum))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val u = UnscaledValue(child)
    val loNew = wadd(lo, u)
    val hiNew = wadd(wadd(hi, ShiftRight(u, Literal(63))), carryOut(lo, u, loNew))
    Seq(
      If(IsNull(child), hi, hiNew),
      If(IsNull(child), lo, loNew),
      Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val loM = wadd(lo.left, lo.right)
    val hiM = wadd(wadd(hi.left, hi.right), carryOut(lo.left, lo.right, loM))
    Seq(hiM, loM, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen,
      StaticInvoke(I128Sum.getClass, DecimalType(38, scale), "toDecimal38",
        Seq(hi, lo, Literal(scale)),
        inputTypes = Seq(LongType, LongType, IntegerType),
        propagateNull = false, returnNullable = true),
      Literal(null, DecimalType(38, scale)))

  override protected def withNewChildInternal(newChild: Expression): SumUnscaled128Dec =
    copy(child = newChild)
}

/** Exact cross-moment sum — `graft_dxsum(x, y, sx, sy)` (r19, verdict
  * item 5): value-identical to
  * `sum(CAST(x AS DECIMAL(18,sx)) * CAST(y AS DECIMAL(18,sy))).cast("double")`
  * — the Σx², Σxy power/cross sums of agg_ols / agg_corr / agg_anova —
  * with none of the old path's per-row cost: the two casts (shortest-
  * string parse + BigDecimal setScale each, for double children) become
  * [[D2U.unscaled]] calls, the decimal multiply (a per-row
  * BigDecimal.multiply — the product's precision 37 leaves the compact
  * representation) becomes one 64×64→128-bit integer multiply
  * (Math.multiplyHigh + wrapping low word), and the decimal(38) sum
  * buffer's BigDecimal adds become the 128-bit two-limb carry adds.
  *
  * Value identity: CAST(x AS DEC(18,sx)) has unscaled ux (D2U ≡ the Cast,
  * ExactSumSpec's 200k-trial pin), the decimal product's unscaled value
  * at scale sx+sy is EXACTLY ux·uy (integer arithmetic, computed here in
  * full 128-bit so it cannot truncate), 128-bit accumulation is exact
  * with 2¹²⁷ ≈ 1.7e38 headroom (strictly wider than the old
  * decimal(38)'s 1e38 — this cannot overflow where the old form
  * succeeded), and the final conversion applies the same nearest-even
  * BigDecimal→double rounding as Cast(decimal AS DOUBLE). Null rows
  * (either side, or a non-double cast that overflows to null outside
  * ANSI mode) are skipped, exactly like the built-in Sum over a
  * null-propagating product.
  */
case class SumUnscaledProduct(left: Expression, right: Expression,
    sx: Int, sy: Int)
    extends DeclarativeAggregate
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dxsum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: NumericType, _: NumericType)
        if sx >= 0 && sx <= 18 && sy >= 0 && sy <= 18 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dxsum(x, y, sx, sy) needs numeric x, y and scales in " +
            s"[0, 18], got $other at scales ($sx, $sy)")
    }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private def wadd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  private def wmul(a: Expression, b: Expression): Expression =
    Multiply(a, b, EvalMode.LEGACY)

  private def carryOut(a: Expression, b: Expression, sum: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(sum))),
      Literal(63))

  private def unscaledOf(c: Expression, s: Int): Expression = c.dataType match {
    case DoubleType => StaticInvoke(D2U.getClass, LongType, "unscaled",
      Seq(c, Literal(s)),
      inputTypes = Seq(DoubleType, IntegerType),
      propagateNull = false, returnNullable = false)
    case _ => UnscaledValue(Cast(c, DecimalType(18, s)))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val ux = unscaledOf(left, sx)
    val uy = unscaledOf(right, sy)
    // full 128-bit signed product: (multiplyHigh, wrapping low word)
    val phi = StaticInvoke(classOf[java.lang.Math], LongType, "multiplyHigh",
      Seq(ux, uy), inputTypes = Seq(LongType, LongType),
      propagateNull = false, returnNullable = false)
    val plo = wmul(ux, uy)
    val loNew = wadd(lo, plo)
    val hiNew = wadd(wadd(hi, phi), carryOut(lo, plo, loNew))
    // a null child OR a null unscaled value skips the row: a non-double
    // child's Cast to DECIMAL(18,s) nulls on overflow outside ANSI mode,
    // and a null product must never reach the non-nullable hi/lo slots
    // (Tungsten reads a nulled slot back as 0, resetting the sum)
    val anyNull = Seq(left, right, ux, uy).map(IsNull(_): Expression).reduce(Or(_, _))
    Seq(
      If(anyNull, hi, hiNew),
      If(anyNull, lo, loNew),
      Or(seen, Not(anyNull)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val loM = wadd(lo.left, lo.right)
    val hiM = wadd(wadd(hi.left, hi.right), carryOut(lo.left, lo.right, loM))
    Seq(hiM, loM, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen,
      StaticInvoke(I128Sum.getClass, DoubleType, "toDouble",
        Seq(hi, lo, Literal(sx + sy)),
        inputTypes = Seq(LongType, LongType, IntegerType),
        propagateNull = false, returnNullable = false),
      Literal(null, DoubleType))

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SumUnscaledProduct =
    copy(left = newLeft, right = newRight)
}
