package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Native Catalyst window expressions for the four financial indicators.
  *
  * Each is a declarative [[AggregateWindowFunction]] — the exact Spark analog
  * of the reference's DataFusion `WindowUDFImpl` + `PartitionEvaluator`
  * (`/root/reference/src/functions/sma.rs:28-129` etc.): Spark's `WindowExec`
  * sorts each partition and feeds rows in order to the update expressions,
  * giving the same O(1)-per-row sequential state machine without any UDF
  * serialization overhead. The running frame (UNBOUNDED PRECEDING → CURRENT
  * ROW) is fixed by `AggregateWindowFunction`, mirroring the reference's
  * `uses_window_frame() = false` whole-partition evaluation.
  *
  * The floating-point expression trees intentionally match
  * [[IndicatorMath]] op-for-op (see its scaladoc) for cross-engine
  * bit-identical results.
  *
  * The `window_size` argument must be a foldable integer ≥ 1 — the reference
  * reads the first non-null value of a constant column (`sma.rs:92-97`); we
  * require a literal at plan time, which is what every reference query passes.
  */
trait IndicatorWindowFunction extends AggregateWindowFunction {
  protected def value: Expression

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    if (!value.dataType.isInstanceOf[NumericType] && value.dataType != NullType) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a numeric value argument, got ${value.dataType.catalogString}")
    } else {
      // surface bad window sizes at analysis time, not as executor task failures
      try {
        children.drop(1).foreach(requireWindowSize)
        validateArgs()
        TypeCheckResult.TypeCheckSuccess
      } catch {
        case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage)
      }
    }
  }

  /** Range checks beyond `window_size >= 1`, run at analysis time: throw
    * `IllegalArgumentException` to fail the type check with its message. */
  protected def validateArgs(): Unit = ()

  /** A smoothing factor as a permille literal in [1, 1000]. */
  protected def requirePermille(e: Expression): Int = {
    val v = requireWindowSize(e)
    if (v > 1000) throw new IllegalArgumentException(
      s"$prettyName smoothing permille must be in [1, 1000], got $v")
    v
  }

  /** value as Double; the SQL builder wraps a Cast already, but keep safe. */
  protected lazy val x: Expression =
    if (value.dataType == DoubleType) value else Cast(value, DoubleType)

  /** Whether the current row's input is NULL → the row emits NULL while the
    * state stays frozen (SURVEY.md §7.1 null contract). */
  protected lazy val curNull: AttributeReference =
    AttributeReference("curNull", BooleanType, nullable = false)()

  protected def requireWindowSize(e: Expression): Int = {
    if (!e.foldable) {
      throw new IllegalArgumentException(
        s"$prettyName window_size must be a literal integer, got ${e.sql}")
    }
    val n = e.eval(InternalRow.empty) match {
      case i: Int    => i
      case l: Long   => l.toInt
      case s: Short  => s.toInt
      case b: Byte   => b.toInt
      case other =>
        throw new IllegalArgumentException(
          s"$prettyName window_size must be an integer literal, got $other")
    }
    if (n <= 0) throw new IllegalArgumentException(
      s"$prettyName window_size must be >= 1, got $n")
    n
  }

  protected val nullDouble: Expression = Literal.create(null, DoubleType)
}

/** `sma(value, n)` — trailing simple moving average of the last `n` non-null
  * values (reference `src/functions/sma.rs:102-117`). Declarative buffer
  * holds the last ≤n non-null values; evaluation folds the buffer
  * left-to-right exactly like the reference's `iter().sum()`.
  *
  * Buffer push and fold are the native [[SlidePush]]/[[FoldSum]] primitives
  * (one allocation + codegen'd loop) — identical contents and fold order to
  * the `Concat`+`Slice`+`ArrayAggregate` composition they replaced (which
  * cost two allocations and an interpreted HOF dispatch per element; ~2× at
  * n=200, measured by `graft.tools.SmaProbe`, last at commit `42925e0`;
  * re-measure with `graft.JobProbe` on `q_sma`). A rolling add/subtract sum
  * was REJECTED: it changes the floating-point result. */
case class Sma(value: Expression, windowSize: Expression)
    extends IndicatorWindowFunction {
  private lazy val n: Int = requireWindowSize(windowSize)

  override def children: Seq[Expression] = Seq(value, windowSize)
  override def prettyName: String = "sma"

  private lazy val buf = AttributeReference(
    "smaBuf", ArrayType(DoubleType, containsNull = false), nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(buf, curNull)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(Array.empty[Double], ArrayType(DoubleType, containsNull = false)),
    Literal(false))

  override lazy val updateExpressions: Seq[Expression] =
    Seq(If(IsNull(x), buf, SlidePush(buf, x, n)), IsNull(x))

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, LessThan(Size(buf), Literal(n))),
      nullDouble, Divide(FoldSum(buf), Literal(n.toDouble)))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Sma =
    copy(value = c(0), windowSize = c(1))
}

/** `ema(value, n)` — exponential moving average, α = 2/(n+1); the first
  * non-null value seeds the state and is emitted as-is
  * (reference `src/functions/ema.rs:101-124`). */
case class Ema(value: Expression, windowSize: Expression)
    extends IndicatorWindowFunction {
  private lazy val n: Int = requireWindowSize(windowSize)
  private lazy val alpha = 2.0 / (n + 1.0)

  override def children: Seq[Expression] = Seq(value, windowSize)
  override def prettyName: String = "ema"

  private lazy val ema = AttributeReference("ema", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(ema, curNull)
  override lazy val initialValues: Seq[Expression] = Seq(nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(x), ema,
      If(IsNull(ema), x,
        Add(Multiply(Literal(alpha), x), Multiply(Literal(1.0 - alpha), ema)))),
    IsNull(x))

  override lazy val evaluateExpression: Expression = If(curNull, nullDouble, ema)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Ema =
    copy(value = c(0), windowSize = c(1))
}

/** `var_ema(value, alpha)` — exponential smoothing with a PER-ROW
  * smoothing coefficient: `s' = α_t·x_t + (1 − α_t)·s` (the exact [[Ema]]
  * update tree, with the literal α replaced by the row's own column), the
  * first usable row seeding `s = x` and emitting it as-is.
  *
  * This is the general recurrence under every adaptive moving average —
  * KAMA ([[graft.operators.Rolling.kama]]), VIDYA, and any caller-derived
  * responsiveness schedule — kept separate from [[Ema]] because a
  * column-valued α can't be folded into the plan-time literal the fixed
  * indicators require.
  *
  * NULL contract (SURVEY §7.1 frozen-state): a row where `value` OR
  * `alpha` is NULL emits NULL and leaves the state untouched — an
  * unknowable blend freezes the machine rather than corrupting it. α is
  * NOT range-checked (a caller-computed α outside [0, 1] extrapolates,
  * which VIDYA-style variants legitimately exploit). */
case class VarEma(value: Expression, alpha: Expression)
    extends IndicatorWindowFunction {
  override def children: Seq[Expression] = Seq(value, alpha)
  override def prettyName: String = "var_ema"

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.zip(Seq("value", "alpha")).collectFirst {
      case (e, name)
          if !e.dataType.isInstanceOf[NumericType] && e.dataType != NullType =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a numeric $name argument, got ${e.dataType.catalogString}")
    }
    bad.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  private lazy val a: Expression =
    if (alpha.dataType == DoubleType) alpha else Cast(alpha, DoubleType)

  private lazy val s = AttributeReference("varEma", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(s, curNull)
  override lazy val initialValues: Seq[Expression] = Seq(nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(Or(IsNull(x), IsNull(a)), s,
      If(IsNull(s), x,
        Add(Multiply(a, x), Multiply(Subtract(Literal(1.0), a), s)))),
    Or(IsNull(x), IsNull(a)))

  override lazy val evaluateExpression: Expression = If(curNull, nullDouble, s)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): VarEma =
    copy(value = c(0), alpha = c(1))
}

/** `runprod(factor)` — running product of per-row growth factors:
  * `p' = p · f_t`, seeded by the first non-null factor (emitted as-is).
  * The multiplicative sibling of the running sum Spark lacks natively —
  * compound returns, cumulative growth, and the conditional-factor
  * volume indexes ([[graft.operators.Rolling.volumeIndexes]]) all reduce
  * to it with a caller-built factor column. Multiplication is a single
  * deterministic IEEE op per row, so the chain replays bit-exactly in
  * any engine that applies the same factors in the same order — no
  * log/exp round-trip (whose libm calls are NOT cross-engine exact).
  *
  * NULL contract (SURVEY §7.1 frozen-state): a NULL factor emits NULL
  * and leaves the product untouched. */
case class RunProd(value: Expression) extends IndicatorWindowFunction {
  override def children: Seq[Expression] = Seq(value)
  override def prettyName: String = "runprod"

  private lazy val p = AttributeReference("runProd", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(p, curNull)
  override lazy val initialValues: Seq[Expression] = Seq(nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(x), p, If(IsNull(p), x, Multiply(p, x))),
    IsNull(x))

  override lazy val evaluateExpression: Expression = If(curNull, nullDouble, p)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RunProd =
    copy(value = c(0))
}

/** `renko(value, brick_centi)` — the Renko brick level (public charting
  * technique): the price snapped to a fixed-size brick grid anchored at
  * each key's first value. The level moves only when price travels a
  * full brick from it: `lvl' = lvl + sign(x − lvl) · ⌊|x − lvl| / brick⌋
  * · brick` — sideways noise inside a brick leaves the level frozen, so
  * `value ≠ renko` duration measures chop and each level CHANGE is a
  * confirmed directional move of ≥ brick.
  *
  * `brick_centi` is the brick size in hundredths as a literal int (500 →
  * 5.0), derived by the same IEEE `/100` division the oracle replays
  * (the Holt permille convention). Every op in the update is exact
  * (sign, floor, one multiply ladder), so the recurrence replays
  * bit-identically in any engine. First non-null value seeds the level;
  * NULL freezes ([[IndicatorWindowFunction]] contract). */
case class Renko(value: Expression, brickCenti: Expression)
    extends IndicatorWindowFunction {
  private lazy val centi: Int = requireWindowSize(brickCenti)

  override def children: Seq[Expression] = Seq(value, brickCenti)
  override def prettyName: String = "renko"

  private lazy val brick = Literal(centi / 100.0)

  private lazy val lvl = AttributeReference("renkoLvl", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lvl, curNull)
  override lazy val initialValues: Seq[Expression] = Seq(nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(x), lvl,
      If(IsNull(lvl), x, {
        val diff = Subtract(x, lvl)
        val bricks = Cast(Floor(Divide(Abs(diff), brick)), DoubleType)
        Add(lvl, Multiply(Multiply(Signum(diff), bricks), brick))
      })),
    IsNull(x))

  override lazy val evaluateExpression: Expression = If(curNull, nullDouble, lvl)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Renko =
    copy(value = c(0), brickCenti = c(1))
}

/** `rsi(value, n)` — Wilder's Relative Strength Index
  * (reference `src/functions/rsi.rs:115-160`): NULL until `n` consecutive
  * diffs accumulated; seed averages are the simple mean of the first `n`
  * gains/losses; thereafter `avg' = avg·(1−α) + g·α`, α = 1/n;
  * `RSI = 100 − 100/(1+RS)`, 100 when avg_loss == 0 (`rsi.rs:72-78`). */
case class Rsi(value: Expression, windowSize: Expression)
    extends IndicatorWindowFunction {
  private lazy val n: Int = requireWindowSize(windowSize)
  private lazy val alpha = 1.0 / n
  private lazy val beta = 1.0 - alpha

  override def children: Seq[Expression] = Seq(value, windowSize)
  override def prettyName: String = "rsi"

  private lazy val prev = AttributeReference("prev", DoubleType, nullable = true)()
  // sum of gains/losses until n diffs seen, then Wilder-smoothed averages
  private lazy val g = AttributeReference("avgGain", DoubleType, nullable = false)()
  private lazy val l = AttributeReference("avgLoss", DoubleType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", IntegerType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(prev, g, l, cnt, curNull)

  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, Literal(0.0), Literal(0.0), Literal(0), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val diff = Subtract(x, prev)
    val gain = If(GreaterThan(diff, Literal(0.0)), diff, Literal(0.0))
    val loss = If(LessThan(diff, Literal(0.0)), UnaryMinus(diff), Literal(0.0))
    val c1 = Add(cnt, Literal(1))
    val frozen = Or(IsNull(x), IsNull(prev))
    def step(avg: Expression, d: Expression): Expression =
      If(frozen, avg,
        If(LessThan(c1, Literal(n)), Add(avg, d),
          If(EqualTo(c1, Literal(n)), Divide(Add(avg, d), Literal(n.toDouble)),
            Add(Multiply(avg, Literal(beta)), Multiply(d, Literal(alpha))))))
    Seq(
      If(IsNull(x), prev, x),
      step(g, gain),
      step(l, loss),
      If(frozen, cnt, c1),
      IsNull(x))
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, LessThan(cnt, Literal(n))), nullDouble,
      If(EqualTo(l, Literal(0.0)), Literal(100.0),
        Subtract(Literal(100.0),
          Divide(Literal(100.0), Add(Literal(1.0), Divide(g, l))))))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Rsi =
    copy(value = c(0), windowSize = c(1))
}

/** `wilder(value, n)` — Wilder's smoothing, the recurrence underlying RSI,
  * ATR, and ADX: NULL until `n` non-null values accumulate, seed = their
  * simple mean, thereafter `avg' = avg·(1−1/n) + x·(1/n)`. The generic
  * form of the smoothing [[Rsi]] applies to gains/losses internally —
  * exposed so directional-index compositions ([[graft.operators.Rolling]]
  * `adx`) can smooth TR/±DM/DX with the identical state machine. Same
  * frozen-state NULL contract as every indicator. */
case class Wilder(value: Expression, windowSize: Expression)
    extends IndicatorWindowFunction {
  private lazy val n: Int = requireWindowSize(windowSize)
  private lazy val alpha = 1.0 / n
  private lazy val beta = 1.0 - alpha

  override def children: Seq[Expression] = Seq(value, windowSize)
  override def prettyName: String = "wilder"

  private lazy val avg = AttributeReference("wAvg", DoubleType, nullable = false)()
  private lazy val cnt = AttributeReference("wCnt", IntegerType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(avg, cnt, curNull)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0.0), Literal(0), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val c1 = Add(cnt, Literal(1))
    val frozen = IsNull(x)
    Seq(
      If(frozen, avg,
        If(LessThan(c1, Literal(n)), Add(avg, x),
          If(EqualTo(c1, Literal(n)), Divide(Add(avg, x), Literal(n.toDouble)),
            Add(Multiply(avg, Literal(beta)), Multiply(x, Literal(alpha)))))),
      If(frozen, cnt, c1),
      frozen)
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, LessThan(cnt, Literal(n))), nullDouble, avg)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Wilder =
    copy(value = c(0), windowSize = c(1))
}

/** `holt(value, alpha_permille, beta_permille)` — Holt double
  * exponential smoothing, the level+trend one-step-ahead forecast:
  * after seeding (`level = x₁`; `trend = x₂ − x₁` on the second
  * non-null value), each step runs
  * `level' = α·x + (1−α)·(level + trend)`;
  * `trend' = β·(level' − level) + (1−β)·trend`, and the row emits the
  * NEXT-step forecast `level' + trend'`. NULL until two non-null values
  * seed the state; frozen-state NULL contract like every indicator.
  *
  * Smoothing factors arrive as integer PERMILLE literals (α=0.3 →
  * `300`) so the window-argument convention stays "literal int,
  * analysis-time validated" and both engines derive the identical
  * double via the same `permille/1000.0` division. */
case class Holt(value: Expression, alphaPm: Expression, betaPm: Expression)
    extends IndicatorWindowFunction {
  private lazy val alpha = requirePermille(alphaPm) / 1000.0
  private lazy val beta = requirePermille(betaPm) / 1000.0

  override def children: Seq[Expression] = Seq(value, alphaPm, betaPm)
  override def prettyName: String = "holt"
  override protected def validateArgs(): Unit = { alpha; beta }

  private lazy val lvl = AttributeReference("hLvl", DoubleType, nullable = true)()
  private lazy val trd = AttributeReference("hTrd", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lvl, trd, curNull)

  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val a = Literal(alpha); val b = Literal(beta)
    val newLvl = Add(Multiply(a, x),
      Multiply(Literal(1.0 - alpha), Add(lvl, trd)))
    Seq(
      If(IsNull(x), lvl,
        If(IsNull(lvl), x,
          If(IsNull(trd), x, newLvl))),
      If(IsNull(x), trd,
        If(IsNull(lvl), trd, // still unseeded after this row's level
          If(IsNull(trd), Subtract(x, lvl),
            Add(Multiply(b, Subtract(newLvl, lvl)),
              Multiply(Literal(1.0 - beta), trd))))),
      IsNull(x))
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(trd)), nullDouble, Add(lvl, trd))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Holt =
    copy(value = c(0), alphaPm = c(1), betaPm = c(2))
}

/** `kalman(value, q_permille, r_permille)` — local-level (random-walk +
  * noise) Kalman filter emitting the filtered level estimate `m` per row.
  * State is the pair (mean `m`, error variance `p`); each non-null step runs
  * the textbook predict/update cycle
  * `p⁻ = p + q`; `k = p⁻ / (p⁻ + r)`; `m' = m + k·(x − m)`;
  * `p' = (1 − k)·p⁻`.
  * Seed on the first non-null value: `m = x`, `p = r` (prior uncertainty
  * equal to one measurement's noise — documented, deterministic). Only the
  * RATIO q/r shapes the gain sequence, so the permille encoding
  * (`q = q_pm/1000`, `r = r_pm/1000`) loses no generality: `kalman(x, 10,
  * 1000)` is the q/r = 0.01 filter. NULL until seeded; frozen-state NULL
  * contract like every indicator. Beyond-reference operator (reference has
  * no state-space filters); window-argument convention per SURVEY §2.A5. */
/** `holt_winters(value, period, α_pm, β_pm, γ_pm)` — additive triple
  * exponential smoothing (Holt–Winters, public textbook): level + trend
  * + a `period`-slot seasonal state, emitting the fitted
  * `ℓ_t + b_t + s_t` per row. The seasonal upgrade of [[Holt]] for
  * series with a known cycle (pick `period` from
  * [[graft.operators.Rolling.harmonicPower]]'s argmax).
  *
  * COLD-START variant (deterministic, online-friendly, the common
  * streaming-library convention): the seasonal slots initialize to ZERO
  * and only update once level AND trend are seeded, so rows 1–2 emit
  * exactly what [[Holt]] would, and with γ = 0 the whole recurrence IS
  * Holt bit-for-bit (spec-asserted). Updates (all on the previous
  * state, Catalyst-simultaneous):
  * `ℓ' = α(x − s_φ) + (1−α)(ℓ + b)`, `b' = β(ℓ' − ℓ) + (1−β)b`,
  * `s_φ' = γ(x − (ℓ + b)) + (1−γ)s_φ`, φ = (#observed rows) mod period.
  * Seeds: ℓ₁ = x₁ − s_φ (= x₁), b₂ = ℓ₂ − ℓ₁ with ℓ₂ = x₂ − s_φ.
  * NULL input freezes the whole state (§7.1) and does NOT advance the
  * phase. State is period + 3 slots — O(p) per key, p literal. */
case class HoltWinters(value: Expression, periodE: Expression,
                       alphaPm: Expression, betaPm: Expression,
                       gammaPm: Expression)
    extends IndicatorWindowFunction {
  private lazy val p: Int = {
    val v = requireWindowSize(periodE)
    if (v < 2) throw new IllegalArgumentException(
      s"$prettyName period must be >= 2, got $v")
    v
  }
  private lazy val alpha = requirePermille(alphaPm) / 1000.0
  private lazy val beta = requirePermille(betaPm) / 1000.0
  private lazy val gamma = requirePermille(gammaPm) / 1000.0

  override def children: Seq[Expression] =
    Seq(value, periodE, alphaPm, betaPm, gammaPm)
  override def prettyName: String = "holt_winters"
  override protected def validateArgs(): Unit = { p; alpha; beta; gamma }

  private lazy val lvl = AttributeReference("hwLvl", DoubleType, nullable = true)()
  private lazy val trd = AttributeReference("hwTrd", DoubleType, nullable = true)()
  private lazy val sea = AttributeReference("hwSea",
    ArrayType(DoubleType, containsNull = false), nullable = false)()
  private lazy val cnt = AttributeReference("hwCnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lvl, trd, sea, cnt, curNull)

  override lazy val initialValues: Seq[Expression] = Seq(
    nullDouble, nullDouble,
    Literal.create(Array.fill(p)(0.0), ArrayType(DoubleType, containsNull = false)),
    Literal(0L), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val a = Literal(alpha); val b = Literal(beta); val g = Literal(gamma)
    val pL = Literal(p.toLong)
    val idx0 = Cast(Pmod(cnt, pL), IntegerType)            // 0-based slot
    val idx1 = Cast(Add(Pmod(cnt, pL), Literal(1L)), IntegerType)
    val sPrev = ElementAt(sea, idx1)
    val seedLvl = Subtract(x, sPrev)
    val newLvl = Add(Multiply(a, Subtract(x, sPrev)),
      Multiply(Literal(1.0 - alpha), Add(lvl, trd)))
    val newSea = Add(Multiply(g, Subtract(x, Add(lvl, trd))),
      Multiply(Literal(1.0 - gamma), sPrev))
    Seq(
      If(IsNull(x), lvl,
        If(IsNull(lvl), seedLvl,
          If(IsNull(trd), seedLvl, newLvl))),
      If(IsNull(x), trd,
        If(IsNull(lvl), trd,
          If(IsNull(trd), Subtract(seedLvl, lvl),
            Add(Multiply(b, Subtract(newLvl, lvl)),
              Multiply(Literal(1.0 - beta), trd))))),
      If(Or(IsNull(x), Or(IsNull(lvl), IsNull(trd))), sea,
        SetAt(sea, idx0, newSea)),
      If(IsNull(x), cnt, Add(cnt, Literal(1L))),
      IsNull(x))
  }

  override lazy val evaluateExpression: Expression = {
    val pL = Literal(p.toLong)
    // the just-consumed row's slot: cnt was incremented, so (cnt−1) mod p
    val prevIdx1 = Cast(
      Add(Pmod(Subtract(cnt, Literal(1L)), pL), Literal(1L)), IntegerType)
    If(Or(curNull, IsNull(trd)), nullDouble,
      Add(Add(lvl, trd), ElementAt(sea, prevIdx1)))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HoltWinters =
    copy(value = c(0), periodE = c(1), alphaPm = c(2), betaPm = c(3),
      gammaPm = c(4))
}

case class Kalman(value: Expression, qPm: Expression, rPm: Expression)
    extends IndicatorWindowFunction {
  private lazy val q = requireWindowSize(qPm) / 1000.0
  private lazy val r = requireWindowSize(rPm) / 1000.0

  override def children: Seq[Expression] = Seq(value, qPm, rPm)
  override def prettyName: String = "kalman"

  private lazy val m = AttributeReference("kM", DoubleType, nullable = true)()
  private lazy val p = AttributeReference("kP", DoubleType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(m, p, curNull)

  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, Literal(0.0), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val pPred = Add(p, Literal(q))                       // p⁻ = p + q
    val k = Divide(pPred, Add(pPred, Literal(r)))        // gain
    Seq(
      If(IsNull(x), m,
        If(IsNull(m), x,
          Add(m, Multiply(k, Subtract(x, m))))),
      If(IsNull(x), p,
        If(IsNull(m), Literal(r),
          Multiply(Subtract(Literal(1.0), k), pPred))),
      IsNull(x))
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(m)), nullDouble, m)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Kalman =
    copy(value = c(0), qPm = c(1), rPm = c(2))
}

/** `garch(return, omega_ppm, alpha_permille, beta_permille)` — GARCH(1,1)
  * conditional volatility over a RETURN series (caller supplies returns,
  * e.g. `close/lag(close) − 1`):
  * `σ²ₜ = ω + α·r²ₜ₋₁ + β·σ²ₜ₋₁`, emitting `σₜ = √σ²ₜ` — the volatility
  * conditional on information through t−1, so the emitted value never
  * depends on the current row's return. The first non-null row emits the
  * unconditional volatility `√(ω/(1−α−β))` (the standard stationary seed).
  * ω arrives in PPM (`ω = omega_ppm/10⁶` — daily-return ω values live at
  * 1e-6..1e-4) and α/β in permille; `α + β < 1` (stationarity) is
  * validated at ANALYSIS time, not as a task failure. NULL until the first
  * non-null return; frozen-state NULL contract. Beyond-reference operator;
  * Bollerslev (1986) recurrence, public knowledge. */
case class Garch(value: Expression, omegaPpm: Expression,
                 alphaPm: Expression, betaPm: Expression)
    extends IndicatorWindowFunction {
  private lazy val omega = requireWindowSize(omegaPpm) / 1e6
  private lazy val alpha = requireWindowSize(alphaPm) / 1000.0
  private lazy val beta = requireWindowSize(betaPm) / 1000.0

  override protected def validateArgs(): Unit = {
    val (a, b) = (requireWindowSize(alphaPm), requireWindowSize(betaPm))
    if (a + b >= 1000) throw new IllegalArgumentException(
      s"$prettyName requires alpha_pm + beta_pm < 1000 (stationarity), got $a + $b")
  }

  override def children: Seq[Expression] = Seq(value, omegaPpm, alphaPm, betaPm)
  override def prettyName: String = "garch"

  private lazy val prevR = AttributeReference("gPrevR", DoubleType, nullable = true)()
  private lazy val sig2 = AttributeReference("gSig2", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(prevR, sig2, curNull)

  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val uncond = Literal(omega / (1.0 - alpha - beta))
    val step = Add(Literal(omega),
      Add(Multiply(Literal(alpha), Multiply(prevR, prevR)),
        Multiply(Literal(beta), sig2)))
    Seq(
      If(IsNull(x), prevR, x),
      If(IsNull(x), sig2,
        If(IsNull(sig2), uncond, step)),
      IsNull(x))
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(sig2)), nullDouble, Sqrt(sig2))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Garch =
    copy(value = c(0), omegaPpm = c(1), alphaPm = c(2), betaPm = c(3))
}

/** `macd(value)` — MACD line = EMA12 − EMA26 with fixed α 2/13 and 2/27,
  * both seeded by the first non-null value so the first row emits 0.0;
  * no signal line / histogram (reference `src/functions/macd.rs:55-120`). */
case class Macd(value: Expression) extends IndicatorWindowFunction {
  private val a12 = 2.0 / 13.0
  private val a26 = 2.0 / 27.0

  override def children: Seq[Expression] = Seq(value)
  override def prettyName: String = "macd"

  private lazy val e12 = AttributeReference("ema12", DoubleType, nullable = true)()
  private lazy val e26 = AttributeReference("ema26", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(e12, e26, curNull)
  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, nullDouble, Literal(false))

  private def emaStep(prev: Expression, alpha: Double): Expression =
    If(IsNull(x), prev,
      If(IsNull(prev), x,
        Add(Multiply(Literal(alpha), x), Multiply(Literal(1.0 - alpha), prev))))

  override lazy val updateExpressions: Seq[Expression] =
    Seq(emaStep(e12, a12), emaStep(e26, a26), IsNull(x))

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(e12)), nullDouble, Subtract(e12, e26))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Macd =
    copy(value = c(0))
}

/** Shared recurrence for the MACD signal line and histogram — a
  * beyond-reference composition of the [[Macd]] EMA machinery (reference
  * `src/functions/macd.rs:55-120` stops at the line): the signal is the
  * EMA9 (α = 2/10) of the MACD line, seeded by the first MACD value
  * (which is 0.0 — at the seed row EMA12 = EMA26 = x). Same frozen-state
  * NULL contract as the rest of the family: a NULL input emits NULL and
  * leaves all three EMAs untouched. */
sealed abstract class MacdSignalBase extends IndicatorWindowFunction {
  private val a12 = 2.0 / 13.0
  private val a26 = 2.0 / 27.0
  private val a9 = 2.0 / 10.0

  override def children: Seq[Expression] = Seq(value)

  protected lazy val e12 = AttributeReference("ema12", DoubleType, nullable = true)()
  protected lazy val e26 = AttributeReference("ema26", DoubleType, nullable = true)()
  protected lazy val sig = AttributeReference("sig9", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(e12, e26, sig, curNull)
  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, nullDouble, nullDouble, Literal(false))

  private def emaStep(prev: Expression, alpha: Double): Expression =
    If(IsNull(x), prev,
      If(IsNull(prev), x,
        Add(Multiply(Literal(alpha), x), Multiply(Literal(1.0 - alpha), prev))))

  override lazy val updateExpressions: Seq[Expression] = {
    // the signal folds over the POST-update MACD value, so the new EMAs
    // are recomputed from the previous buffer inside the sig branch (all
    // update expressions see pre-update buffer attributes)
    val n12 = emaStep(e12, a12)
    val n26 = emaStep(e26, a26)
    val m = Subtract(n12, n26)
    val nSig = If(IsNull(x), sig,
      If(IsNull(sig), m,
        Add(Multiply(Literal(a9), m), Multiply(Literal(1.0 - a9), sig))))
    Seq(n12, n26, nSig, IsNull(x))
  }
}

/** `macd_signal(value)` — the EMA9 signal line of the MACD. */
case class MacdSignal(value: Expression) extends MacdSignalBase {
  override def prettyName: String = "macd_signal"
  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(sig)), nullDouble, sig)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MacdSignal =
    copy(value = c(0))
}

/** `ewmcov(x, y, lambda_pm)` — RiskMetrics (J.P. Morgan 1996) zero-mean
  * exponentially weighted covariance: `cov_t = λ·cov_{t−1} + (1−λ)·x_t·y_t`,
  * seeded by the first pair's product (the EMA first-value convention
  * applied to the product series). `ewmcov(x, x, λ)` is the EWMA
  * variance; EWMA correlation composes three calls on ONE window spec
  * (one Window pass). λ is a permille literal — 940 → the RiskMetrics
  * daily λ = 0.94 — validated at analysis time, λ < 1 required.
  *
  * Frozen-state NULL contract (§7.1 family-wide): a row where EITHER
  * side is NULL emits NULL and leaves the state untouched.
  * Beyond-reference: the recency-weighted complement of the exact-window
  * [[graft.operators.Rolling.corrBeta]]. */
case class EwmCov(xv: Expression, yv: Expression, lambdaPm: Expression)
    extends IndicatorWindowFunction {
  override def value: Expression = xv
  override def children: Seq[Expression] = Seq(xv, yv, lambdaPm)
  override def prettyName: String = "ewmcov"

  private lazy val lam = requireWindowSize(lambdaPm) / 1000.0

  override def checkInputDataTypes(): TypeCheckResult = {
    def numeric(e: Expression) =
      e.dataType.isInstanceOf[NumericType] || e.dataType == NullType
    if (!numeric(xv) || !numeric(yv)) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires numeric x and y, got " +
          s"${xv.dataType.catalogString} and ${yv.dataType.catalogString}")
    } else {
      try {
        val pm = requireWindowSize(lambdaPm)
        if (pm >= 1000) TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires lambda_pm < 1000 (λ < 1), got $pm")
        else TypeCheckResult.TypeCheckSuccess
      } catch {
        case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage)
      }
    }
  }

  private lazy val yd: Expression =
    if (yv.dataType == DoubleType) yv else Cast(yv, DoubleType)

  private lazy val cov = AttributeReference("ewmCov", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(cov, curNull)
  override lazy val initialValues: Seq[Expression] = Seq(nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val anyNull = Or(IsNull(x), IsNull(yd))
    val xy = Multiply(x, yd)
    Seq(
      If(anyNull, cov,
        If(IsNull(cov), xy,
          Add(Multiply(Literal(lam), cov),
            Multiply(Literal(1.0 - lam), xy)))),
      anyNull)
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(cov)), nullDouble, cov)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): EwmCov =
    copy(xv = c(0), yv = c(1), lambdaPm = c(2))
}

/** `supertrend(upper, lower, close)` — the SuperTrend line (public
  * formula): ratcheted ATR bands with a trend flip on a close crossing.
  * The caller supplies the BASIC bands (`mid ± mult·atr`, see
  * [[graft.operators.Rolling.superTrend]]); this expression runs the
  * sequential state machine Spark's windows cannot express declaratively:
  *
  *  - `fub' = (ub < fub OR prevClose > fub) ? ub : fub` — the upper band
  *    only ratchets DOWN unless price closed above it;
  *  - `flb' = (lb > flb OR prevClose < flb) ? lb : flb` — mirror;
  *  - trend stays UP unless `close < flb'`, stays DOWN unless
  *    `close > fub'`; the emitted line is `flb'` in an up-trend, `fub'`
  *    in a down-trend (so `close >= line ⟺ up-trend` — direction is
  *    derivable, no second output needed).
  *
  * Seeds on the first row where ALL THREE inputs are non-null (the bands
  * are NULL through the ATR warm-up): `fub = ub, flb = lb`, trend up —
  * documented convention, matched by the oracle replay. Any NULL input
  * row afterwards emits NULL and freezes the state (§7.1). State is four
  * scalars — O(1) memory per key like every recurrence here. */
case class SuperTrend(ub: Expression, lb: Expression, close: Expression)
    extends IndicatorWindowFunction {
  override def value: Expression = close
  override def children: Seq[Expression] = Seq(ub, lb, close)
  override def prettyName: String = "supertrend"

  override def checkInputDataTypes(): TypeCheckResult = {
    def numeric(e: Expression) =
      e.dataType.isInstanceOf[NumericType] || e.dataType == NullType
    if (!numeric(ub) || !numeric(lb) || !numeric(close)) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires numeric (upper, lower, close), got " +
          s"(${ub.dataType.catalogString}, ${lb.dataType.catalogString}, " +
          s"${close.dataType.catalogString})")
    } else TypeCheckResult.TypeCheckSuccess
  }

  private def dbl(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  private lazy val ubx = dbl(ub)
  private lazy val lbx = dbl(lb)
  private lazy val cx = dbl(close)

  private lazy val fub = AttributeReference("stFub", DoubleType, nullable = true)()
  private lazy val flb = AttributeReference("stFlb", DoubleType, nullable = true)()
  private lazy val upT = AttributeReference("stUp", BooleanType, nullable = false)()
  private lazy val pc = AttributeReference("stPc", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(fub, flb, upT, pc, curNull)

  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, nullDouble, Literal(true), nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val anyNull = Or(Or(IsNull(ubx), IsNull(lbx)), IsNull(cx))
    val unseeded = IsNull(fub)
    // ratchet rules read the OLD state; the trend flip reads the NEW
    // bands, so their trees are inlined (deterministic — duplication is
    // free of evaluation-order hazards in Catalyst)
    val newFub = If(Or(LessThan(ubx, fub), GreaterThan(pc, fub)), ubx, fub)
    val newFlb = If(Or(GreaterThan(lbx, flb), LessThan(pc, flb)), lbx, flb)
    Seq(
      If(anyNull, fub, If(unseeded, ubx, newFub)),
      If(anyNull, flb, If(unseeded, lbx, newFlb)),
      If(anyNull, upT,
        If(unseeded, Literal(true),
          If(upT, Not(LessThan(cx, newFlb)), GreaterThan(cx, newFub)))),
      If(anyNull, pc, cx),
      anyNull)
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(fub)), nullDouble, If(upT, flb, fub))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SuperTrend =
    copy(ub = c(0), lb = c(1), close = c(2))
}

/** `psar(high, low, af0_pm, step_pm, max_pm)` — Wilder's Parabolic SAR
  * (public formula, Wilder 1978): the trailing stop-and-reverse parabola.
  * Acceleration factors arrive as permille ints (20, 20, 200 ≡ the
  * textbook 0.02/0.02/0.2). Per non-null bar, seeded state runs:
  *
  *  1. `cand = sar + af·(ep − sar)`;
  *  2. clamp into the prior two bars' range: up-trend
  *     `cand = min(cand, low₋₁, low₋₂)`, down-trend mirror with highs;
  *  3. reversal if the bar pierces the clamped SAR (up: `low < cand`):
  *     SAR jumps to the old EP, EP restarts at the piercing extreme,
  *     af resets; otherwise a new extreme (up: `high > ep`) advances EP
  *     and accelerates `af = min(af + step, af_max)`.
  *
  * Seeding: the first bar only records its extremes (emits NULL); the
  * second bar picks the trend by `high ≥ prev high`, SAR = the prior
  * bar's opposite extreme, EP = this bar's extreme — a documented
  * public convention (seeds differ across vendors; the oracle replays
  * this one). Frozen-NULL contract on either input. State is eight
  * scalars — O(1) per key. */
case class Psar(high: Expression, low: Expression, af0Pm: Expression,
                stepPm: Expression, maxPm: Expression)
    extends IndicatorWindowFunction {
  override def value: Expression = high
  override def children: Seq[Expression] =
    Seq(high, low, af0Pm, stepPm, maxPm)
  override def prettyName: String = "psar"

  private lazy val af0 = requireWindowSize(af0Pm) / 1000.0
  private lazy val step = requireWindowSize(stepPm) / 1000.0
  private lazy val afMax = requireWindowSize(maxPm) / 1000.0

  override def checkInputDataTypes(): TypeCheckResult = {
    def numeric(e: Expression) =
      e.dataType.isInstanceOf[NumericType] || e.dataType == NullType
    if (!numeric(high) || !numeric(low)) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires numeric (high, low), got " +
          s"(${high.dataType.catalogString}, ${low.dataType.catalogString})")
    } else {
      try {
        Seq(af0Pm, stepPm, maxPm).foreach(requireWindowSize)
        TypeCheckResult.TypeCheckSuccess
      } catch {
        case e: IllegalArgumentException =>
          TypeCheckResult.TypeCheckFailure(e.getMessage)
      }
    }
  }

  private def dbl(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)
  private lazy val hx = dbl(high)
  private lazy val lx = dbl(low)

  private lazy val sar = AttributeReference("psSar", DoubleType, nullable = true)()
  private lazy val ep = AttributeReference("psEp", DoubleType, nullable = true)()
  private lazy val af = AttributeReference("psAf", DoubleType, nullable = false)()
  private lazy val upT = AttributeReference("psUp", BooleanType, nullable = false)()
  private lazy val ph = AttributeReference("psPh", DoubleType, nullable = true)()
  private lazy val pl = AttributeReference("psPl", DoubleType, nullable = true)()
  private lazy val p2h = AttributeReference("psP2h", DoubleType, nullable = true)()
  private lazy val p2l = AttributeReference("psP2l", DoubleType, nullable = true)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(sar, ep, af, upT, ph, pl, p2h, p2l, curNull)

  override lazy val initialValues: Seq[Expression] =
    Seq(nullDouble, nullDouble, Literal(af0), Literal(true),
      nullDouble, nullDouble, nullDouble, nullDouble, Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val anyNull = Or(IsNull(hx), IsNull(lx))
    val noPrev = IsNull(ph) // before the first recorded bar
    val seedRow = And(IsNull(sar), IsNotNull(ph)) // the second bar
    val af0L = Literal(af0); val stepL = Literal(step); val maxL = Literal(afMax)

    val upSeed = GreaterThanOrEqual(hx, ph)
    val sarSeed = If(upSeed, pl, ph)
    val epSeed = If(upSeed, hx, lx)

    // regular step — every compound tree is inlined where needed;
    // duplication is evaluation-order-safe in Catalyst
    val cand = Add(sar, Multiply(af, Subtract(ep, sar)))
    val candUp = Least(Seq(cand, pl, p2l))
    val candDn = Greatest(Seq(cand, ph, p2h))
    val revUp = LessThan(lx, candUp)
    val revDn = GreaterThan(hx, candDn)
    val newExtUp = GreaterThan(hx, ep)
    val newExtDn = LessThan(lx, ep)
    val accel = Least(Seq(maxL, Add(af, stepL)))

    val newSar = If(upT, If(revUp, ep, candUp), If(revDn, ep, candDn))
    val newUp = If(upT, Not(revUp), revDn)
    val newEp = If(upT,
      If(revUp, lx, If(newExtUp, hx, ep)),
      If(revDn, hx, If(newExtDn, lx, ep)))
    val newAf = If(upT,
      If(revUp, af0L, If(newExtUp, accel, af)),
      If(revDn, af0L, If(newExtDn, accel, af)))

    Seq(
      If(anyNull, sar, If(noPrev, sar, If(seedRow, sarSeed, newSar))),
      If(anyNull, ep, If(noPrev, ep, If(seedRow, epSeed, newEp))),
      If(anyNull, af, If(noPrev, af, If(seedRow, af0L, newAf))),
      If(anyNull, upT, If(noPrev, upT, If(seedRow, upSeed, newUp))),
      If(anyNull, ph, hx),
      If(anyNull, pl, lx),
      If(anyNull, p2h, If(IsNull(ph), hx, ph)),
      If(anyNull, p2l, If(IsNull(pl), lx, pl)),
      anyNull)
  }

  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(sar)), nullDouble, sar)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Psar =
    copy(high = c(0), low = c(1), af0Pm = c(2), stepPm = c(3), maxPm = c(4))
}

/** `macd_hist(value)` — MACD histogram = MACD line − signal line. */
case class MacdHist(value: Expression) extends MacdSignalBase {
  override def prettyName: String = "macd_hist"
  override lazy val evaluateExpression: Expression =
    If(Or(curNull, IsNull(sig)), nullDouble,
      Subtract(Subtract(e12, e26), sig))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MacdHist =
    copy(value = c(0))
}
