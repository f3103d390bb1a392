package graft

import org.apache.spark.sql.functions._
import graft.dsl.Formula

/** Formula DSL (the closed replacement for the reference's eval,
  * src/main.py:475, 637). Compiled columns are evaluated over a small
  * `t` range and checked against Python-semantics expectations. */
class FormulaSpec extends SparkSpec {

  /** Evaluate formula over t = 0..n-1 (optionally binding the datapoint
    * aggregate scalars the anomaly scope provides). */
  private def eval(formula: String, n: Int = 5,
      dpMax: Double = 0.0, dpMin: Double = 0.0, dpLen: Double = 0.0): Seq[Double] = {
    val df = spark.range(n).toDF("t")
      .withColumn(Formula.DpMaxCol, lit(dpMax))
      .withColumn(Formula.DpMinCol, lit(dpMin))
      .withColumn(Formula.DpLenCol, lit(dpLen))
      .withColumn("v", Formula.compile(formula).cast("double"))
    df.orderBy("t").select("v").collect().map(_.getDouble(0)).toSeq
  }

  test("arithmetic precedence matches Python") {
    eval("2 + 3 * 4", 1) shouldBe Seq(14.0)
    eval("(2 + 3) * 4", 1) shouldBe Seq(20.0)
    eval("2 * 3 ** 2", 1) shouldBe Seq(18.0)   // ** binds tighter than *
    eval("-2 ** 2", 1) shouldBe Seq(-4.0)      // Python: -(2**2)
    eval("2 ** 3 ** 2", 1) shouldBe Seq(512.0) // right-assoc
    eval("7 / 2", 1) shouldBe Seq(3.5)         // true division
    eval("7 % 3", 1) shouldBe Seq(1.0)
  }

  test("t is in scope per slot") {
    eval("t * 2 + 1", 4) shouldBe Seq(1.0, 3.0, 5.0, 7.0)
    eval("t % 3", 6) shouldBe Seq(0.0, 1.0, 2.0, 0.0, 1.0, 2.0)
  }

  test("reference anomaly formula shapes (README.md:73, SampleBlueprint)") {
    // "max(datapoints) + t * 10"
    eval("max(datapoints) + t * 10", 3, dpMax = 7.0) shouldBe Seq(7.0, 17.0, 27.0)
    // default anomaly uses datapoint_max: "(datapoint_max + 1) ** 2"
    eval("(datapoint_max + 1) ** 2", 1, dpMax = 7.0) shouldBe Seq(64.0)
    eval("len(datapoints)", 1, dpLen = 42.0) shouldBe Seq(42.0)
    eval("min(datapoints)", 1, dpMin = -3.0) shouldBe Seq(-3.0)
  }

  test("math functions") {
    eval("abs(-5) + max(2, 3) + min(2, 3)", 1) shouldBe Seq(10.0)
    eval("floor(2.7) + ceil(2.2)", 1) shouldBe Seq(5.0)
    eval("sqrt(16) + pow(2, 3)", 1) shouldBe Seq(12.0)
    eval("sin(0) + cos(0)", 1) shouldBe Seq(1.0)
  }

  test("unknown identifiers and functions are rejected (no eval escape)") {
    an[IllegalArgumentException] should be thrownBy Formula.parse("import os")
    an[IllegalArgumentException] should be thrownBy Formula.compile("x + 1")
    an[IllegalArgumentException] should be thrownBy Formula.compile("open(1)")
    an[IllegalArgumentException] should be thrownBy Formula.parse("1 +")
  }

  test("Python conditional expressions: precedence, laziness shape, numeric booleans") {
    eval("1 if t == 0 else 2", 3) shouldBe Seq(1.0, 2.0, 2.0)
    // conditional spans the whole expression: `a + 1 if c else b` is
    // `(a + 1) if c else b`, as in Python
    eval("t + 10 if t < 2 else t - 1", 4) shouldBe Seq(10.0, 11.0, 1.0, 2.0)
    // right-associative else-chain
    eval("0 if t == 0 else 1 if t == 1 else 2", 4) shouldBe Seq(0.0, 1.0, 2.0, 2.0)
    // booleans in numeric position are 1.0/0.0; and/or/not compose
    eval("(t >= 2) * 10 + (t != 1)", 4) shouldBe Seq(1.0, 0.0, 11.0, 11.0)
    eval("1 if t > 0 and t < 3 else 0", 5) shouldBe Seq(0.0, 1.0, 1.0, 0.0, 0.0)
    eval("1 if not t == 1 or t == 1 else 9", 2) shouldBe Seq(1.0, 1.0)
    // numeric condition: truthy iff non-zero (Python truthiness)
    eval("5 if t % 2 else 7", 4) shouldBe Seq(7.0, 5.0, 7.0, 5.0)
    // chained comparisons are rejected, not silently reinterpreted
    an[IllegalArgumentException] should be thrownBy Formula.parse("1 < t < 3")
  }

  test("prefix evaluation replays the reference's accumulating-datapoints loop") {
    // the reference (main.py:464-477): datapoints.append(eval(formula))
    // with the PRIOR points in scope — replicate its loop literally
    val ast = Formula.parse(
      "1 if t == 0 else (max(datapoints) % 17) + (min(datapoints) % 5) + (len(datapoints) % 3) + (t % 7)")
    Formula.usesPrefix(ast) shouldBe true
    val dps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val expected = (0L until 40L).map { t =>
      val v =
        if (t == 0) 1.0
        else (dps.max % 17) + (dps.min % 5) + (dps.length % 3) + (t % 7)
      dps += v
      v
    }
    var mx = Double.NaN; var mn = Double.NaN
    val got = (0L until 40L).map { t =>
      val v = Formula.evalPrefix(ast, t, t, mx, mn)
      mx = if (t == 0) v else math.max(mx, v)
      mn = if (t == 0) v else math.min(mn, v)
      v
    }
    got shouldBe expected
    // prefix-free formulas are not routed to the fold
    Formula.usesPrefix(Formula.parse("(t % 50) + 3 * (t % 7)")) shouldBe false
    // max(2,3)-style calls are plain math, not prefix refs
    Formula.usesPrefix(Formula.parse("max(t, 3)")) shouldBe false
    // unguarded empty-prefix aggregate throws exactly like Python max([])
    val bare = Formula.parse("max(datapoints) + 1")
    an[IllegalArgumentException] should be thrownBy
      Formula.evalPrefix(bare, 0L, 0L, Double.NaN, Double.NaN)
    // ... but the guarded branch never touches it at t=0 (lazy if/else)
    Formula.evalPrefix(Formula.parse("7 if t == 0 else max(datapoints)"),
      0L, 0L, sys.error("must not evaluate"), 0.0) shouldBe 7.0
  }

  test("bounded-lag indexing: both spellings parse to the same lag, bad forms rejected, ring replays Python") {
    import Formula.Lag
    // datapoints[-k] and datapoints[t-k] are the SAME element
    Formula.parse("datapoints[-1]") shouldBe Lag(1)
    Formula.parse("datapoints[t-1]") shouldBe Lag(1)
    Formula.parse("datapoints[ t - 3 ]") shouldBe Lag(3)
    Formula.usesPrefix(Formula.parse("datapoints[-2] + 1")) shouldBe true
    Formula.maxLag(Formula.parse(
      "0 if t < 3 else datapoints[-1] + datapoints[t-3]")) shouldBe 3
    // the grammar stays closed: general index expressions don't parse
    // (a bare non-negative integer is the absolute-anchor form Idx —
    // covered in its own test below)
    an[IllegalArgumentException] should be thrownBy Formula.parse("datapoints[t+1]")
    an[IllegalArgumentException] should be thrownBy Formula.parse("datapoints[t]")
    an[IllegalArgumentException] should be thrownBy Formula.parse("datapoints[-0]")
    an[IllegalArgumentException] should be thrownBy Formula.parse("datapoints[t-k]")
    an[IllegalArgumentException] should be thrownBy Formula.parse("datapoints[-1.5]")
    // the Column path cannot carry a lag — defensive error, the
    // generator dispatches on usesPrefix before ever compiling
    an[IllegalArgumentException] should be thrownBy Formula.compile("datapoints[-1]")
    // reading deeper than the prefix throws like Python IndexError...
    an[IllegalArgumentException] should be thrownBy
      Formula.evalPrefix(Formula.parse("datapoints[-1]"), 0L, 0L, 0.0, 0.0)
    // ...and the guarded branch never touches it (lazy if/else)
    Formula.evalPrefix(Formula.parse("5 if t == 0 else datapoints[-1]"),
      0L, 0L, 0.0, 0.0) shouldBe 5.0
    // full generator fold vs a literal Python-loop replay: a deep-ish
    // ring (lag 3) mixing both spellings, exercising wraparound
    import graft.blueprint.Config
    import graft.operators.Generators
    val out = Generators.forSpec(spark, graft.blueprint.ResolvedGenerator("gl", "custom",
      Config.of("""{"num_points":60,"formula":"t + 1 if t < 3 else (datapoints[-1] % 11) + (datapoints[t-3] % 4) + (t % 5)","signal_min":1,"signal_max":10}""")), 0L)
    val dps = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until 60).foreach { t =>
      dps += (if (t < 3) t + 1.0
        else (dps(t - 1) % 11) + (dps(t - 3) % 4) + (t % 5))
    }
    val mn = dps.min; val mx = dps.max
    val expected = dps.map(v =>
      math.ceil(BigDecimal((v - mn) / (mx - mn) * 9.0 + 1.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    seriesOf(out).map(_._2) shouldBe expected.toSeq
  }

  test("absolute-anchor indexing: datapoints[j] parses, guards like Python IndexError, fold replays") {
    import Formula.{Idx, Lag}
    Formula.parse("datapoints[0]") shouldBe Idx(0)
    Formula.parse("datapoints[ 2 ]") shouldBe Idx(2)
    Formula.maxIdx(Formula.parse(
      "datapoints[1] + datapoints[4] + datapoints[-2]")) shouldBe 4
    Formula.maxLag(Formula.parse(
      "datapoints[1] + datapoints[4] + datapoints[-2]")) shouldBe 2
    // mixed forms keep their identities
    Formula.parse("datapoints[t-1]") shouldBe Lag(1)
    // floats / expressions inside brackets stay parse errors
    an[IllegalArgumentException] should be thrownBy
      Formula.parse("datapoints[1.5]")
    an[IllegalArgumentException] should be thrownBy
      Formula.parse("datapoints[t+1]")
    // index literals past the 10^6 cap fail AT PARSE with the
    // parser's own error type — both the out-of-Int-range literal
    // (would otherwise NumberFormatException) and the huge-but-valid
    // one (would otherwise size a J+1-element anchors array)
    an[IllegalArgumentException] should be thrownBy
      Formula.parse("datapoints[99999999999]")
    an[IllegalArgumentException] should be thrownBy
      Formula.parse("datapoints[2000000000]")
    an[IllegalArgumentException] should be thrownBy
      Formula.parse("datapoints[1000001]")
    an[IllegalArgumentException] should be thrownBy
      Formula.parse("datapoints[-99999999999]") // lag form, same cap
    Formula.parse("datapoints[1000000]") shouldBe Idx(1000000) // at cap
    // reading at or past the prefix end throws (Python IndexError)
    an[IllegalArgumentException] should be thrownBy
      Formula.evalPrefix(Formula.parse("datapoints[3]"), 3L, 3L, 0.0, 0.0)
    // ...and the guarded branch never touches it (lazy if/else)
    Formula.evalPrefix(Formula.parse("5 if t <= 1 else datapoints[1]"),
      0L, 0L, 0.0, 0.0) shouldBe 5.0
    // full generator fold vs a literal Python-loop replay: anchors 0
    // and 2 next to lag 1
    import graft.blueprint.Config
    import graft.operators.Generators
    val out = Generators.forSpec(spark, graft.blueprint.ResolvedGenerator("gi", "custom",
      Config.of("""{"num_points":60,"formula":"t + 2 if t < 3 else (datapoints[0] % 7) + (datapoints[2] % 3) + (datapoints[-1] % 11) + (t % 5)","signal_min":1,"signal_max":10}""")), 0L)
    val dps = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until 60).foreach { t =>
      dps += (if (t < 3) t + 2.0
        else (dps(0) % 7) + (dps(2) % 3) + (dps(t - 1) % 11) + (t % 5))
    }
    val mn = dps.min; val mx = dps.max
    val expected = dps.map(v =>
      math.ceil(BigDecimal((v - mn) / (mx - mn) * 9.0 + 1.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    seriesOf(out).map(_._2) shouldBe expected.toSeq
  }

  test("custom-shape generator runs prefix formulas as a per-generator fold") {
    import graft.blueprint.Config
    import graft.operators.{Generators, Transforms}
    val out = Generators.forSpec(spark, graft.blueprint.ResolvedGenerator("gp", "custom",
      Config.of("""{"num_points":50,"formula":"2 if t == 0 else max(datapoints) + 1 if t % 2 == 0 else min(datapoints) - 1","signal_min":1,"signal_max":10}""")), 0L)
    // reference loop: v0=2; even t: max+1, odd t: min-1 — alternating
    // growth of both extremes; replicate and scale the same way
    val dps = scala.collection.mutable.ArrayBuffer(2.0)
    (1 until 50).foreach { t =>
      dps += (if (t % 2 == 0) dps.max + 1 else dps.min - 1)
    }
    val mn = dps.min; val mx = dps.max
    val expected = dps.map(v =>
      math.ceil(BigDecimal((v - mn) / (mx - mn) * 9.0 + 1.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val got = seriesOf(out).map(_._2)
    got shouldBe expected.toSeq
  }
}
