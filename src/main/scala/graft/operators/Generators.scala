package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.blueprint.ResolvedGenerator
import graft.dsl.Formula
import graft.functions.{Rng, Samplers}

/**
 * Timeseries generator sources (SURVEY §2.1, S1-S6): all of a blueprint's
 * generators in ONE plan, as the long IR frame
 * `(generator_id STRING, t LONG, value DOUBLE)`. Where the reference loops
 * over generators and dispatches by reflection (src/main.py:654-665), one
 * `spark.range(maxN)` is crossed with a broadcast table of one parameter
 * row per generator (`t < n` per row), and each shape's value is a column
 * expression over its row; the plan grows with the shapes, random types
 * and formulas present, not with the generator count. Prefix-referencing
 * formulas (one fold) and `real` replays (one file read each) are unioned
 * in, and min-max scaling runs once over the union, keyed by generator.
 */
object Generators {

  import Transforms.Gid

  /** One generator's series: [[generate]] over a single spec. */
  def forSpec(spark: SparkSession, gen: ResolvedGenerator, seed: Long): DataFrame =
    generate(spark, Seq(gen), seed)

  /** A generator's row of the table. `kind` picks the value expression
    * (`fold`: a prefix-referencing formula); unread fields stay neutral.
    * `lo`/`hi` bound the scaling, `None` where the reference leaves a shape
    * unscaled (constant, square, triangular draws). */
  private final case class Params(
      generator_id: String, kind: String, n: Long,
      amp: Double = 0.0, omega: Double = 0.0, step: Double = 0.0,
      low: Double = 0.0, lowWidth: Long = 1L, high: Double = 0.0, highWidth: Long = 1L,
      dist: String = "", a: Double = 0.0, b: Double = 0.0,
      formula: String = "",
      lo: Option[Double] = None, hi: Option[Double] = None)

  /** [[Params]] as table columns, in field order. */
  private val ParamsDdl = s"$Gid STRING, kind STRING, n BIGINT, amp DOUBLE, " +
    "omega DOUBLE, step DOUBLE, low DOUBLE, lowWidth BIGINT, high DOUBLE, highWidth BIGINT, " +
    "dist STRING, a DOUBLE, b DOUBLE, formula STRING, lo DOUBLE, hi DOUBLE"

  /** All of `gens` in one frame `(generator_id, t, value)`, each series
    * generated and scaled exactly as its shape's reference function does. */
  def generate(spark: SparkSession, gens: Seq[ResolvedGenerator], seed: Long): DataFrame = {
    require(gens.nonEmpty, "no generators to generate")
    val (real, synth) = gens.partition(_.shape == "real")
    val (folded, table) = synth.map(params).partition(_.kind == "fold")
    def frame(ps: Seq[Params]) = Transforms.localTable(spark, ParamsDdl,
      ps.map(_.productIterator.map { case o: Option[Any] => o.orNull; case v => v }.toSeq))
    val tableFrame = if (table.isEmpty) Nil else Seq(
      spark.range(0, table.map(_.n).max).toDF("t")
        .crossJoin(broadcast(frame(table)))
        .where(col("t") < col("n"))
        .select(col(Gid), col("t"), valueOf(table, seed).as("value"), col("lo"), col("hi")))
    val foldFrame = if (folded.isEmpty) Nil else Seq(
      frame(folded).flatMap { p =>
        prefixSeries(Formula.parse(p.getAs[String]("formula")), p.getAs[Long]("n")).map {
          case (t, v) => Row(p.getAs[String](Gid), t, v, p.getAs[Double]("lo"), p.getAs[Double]("hi"))
        }
      }(Encoders.row(StructType.fromDDL(
        s"$Gid STRING, t BIGINT NOT NULL, value DOUBLE, lo DOUBLE, hi DOUBLE"))))
    val replays = real.map { g =>
      val cfg = g.config
      Replay.textFileSeries(spark, g.id, cfg.string("key", ""), cfg.numPoints)
        .withColumn("lo", lit(cfg.signalMin)).withColumn("hi", lit(cfg.signalMax))
    }
    val raw = (tableFrame ++ foldFrame ++ replays).reduce(_ unionByName _)
    val scaled =
      if (real.isEmpty && folded.isEmpty && table.forall(_.lo.isEmpty)) raw
      else Transforms.rescale(raw, "value", col("lo"), col("hi"))
    scaled.select(col(Gid), col("t"), col("value"))
  }

  /** The table row for a non-`real` generator; fails fast, naming the
    * generator, on what the reference would only fail on mid-run. */
  private def params(g: ResolvedGenerator): Params = {
    val cfg = g.config
    val n = cfg.numPoints
    val scaled = Params(g.id, g.shape, n, lo = Some(cfg.signalMin), hi = Some(cfg.signalMax))
    g.shape match {
      // S1 — sinusoidal (src/main.py:479-498): TimeSynth samples n regular
      // points over [0, n] (linspace ⇒ step n/(n-1)); signal
      // `amplitude * sin(2π * frequency * time)`, then scaled. Amplitude
      // cancels in the scaling; kept anyway for fidelity.
      case "sinusoidal" =>
        scaled.copy(amp = cfg.double("amplitude", 1.0),
          omega = 2.0 * math.Pi * cfg.double("frequency", 1.0),
          step = if (n > 1) n.toDouble / (n - 1).toDouble else 0.0)
      // S2 — constant (src/main.py:500-508), NOT scaled.
      case "constant" =>
        val c = cfg.double("constant", 1.0)
        Params(g.id, "square", n, low = c, high = c)
      // S5 — square wave (src/main.py:447-462): low_width lows then
      // high_width highs, repeated and truncated at n. NOT scaled.
      case "square" =>
        val lw = cfg.long("low_width", 1L)
        val hw = cfg.long("high_width", 1L)
        require(lw + hw > 0, s"square generator '${g.id}': low_width+high_width must be > 0")
        Params(g.id, "square", n, low = cfg.double("low_value", 0.0), lowWidth = lw,
          high = cfg.double("high_value", 0.0), highWidth = hw)
      // S4 — random draws (src/main.py:531-573): see [[draw]].
      case "random" =>
        val tpe = cfg.string("type", "uniform")
        def p(k: String, d: Double) = cfg.double(k, d)
        val (a, b) = tpe match {
          case "triangular"                       => (cfg.signalMin, cfg.signalMax)
          case "expovariate"                      => (p("lambda", 1.0), 0.0)
          case "paretovariate"                    => (-1.0 / p("alpha", 1.0), 0.0)
          case "gauss" | "normalvariate" | "lognormvariate" => (p("mu", 0.0), p("sigma", 1.0))
          case "weibullvariate"                   => (p("alpha", 1.0), 1.0 / p("beta", 1.0))
          case "gammavariate" | "betavariate"     => (p("alpha", 1.0), p("beta", 1.0))
          case "vonmisesvariate"                  => (p("mu", 0.0), p("kappa", 1.0))
          case _                                  => (0.0, 0.0)
        }
        // reference asymmetry preserved: src/main.py:540-544 returns
        // triangular draws unscaled
        if (tpe == "triangular") Params(g.id, "random", n, dist = tpe, a = a, b = b)
        else scaled.copy(dist = tpe, a = a, b = b)
      // S6 — custom formula (src/main.py:464-477), compiled through the
      // closed DSL ([[graft.dsl.Formula]]) instead of eval, then scaled.
      case "custom" =>
        val src = cfg.stringOpt("formula").getOrElse(
          throw new IllegalArgumentException(s"custom generator '${g.id}' needs a formula"))
        val kind = if (Formula.usesPrefix(Formula.parse(src))) "fold" else "custom"
        scaled.copy(kind = kind, formula = src)
      case other =>
        throw new IllegalArgumentException(s"generator '${g.id}': unknown shape '$other'")
    }
  }

  /** The raw value of a table row: one `CASE` over the kinds present. */
  private def valueOf(table: Seq[Params], seed: Long): Column = {
    def present(f: Params => String, kind: String) = table.filter(_.kind == kind).map(f).distinct
    caseOf(col("kind"), table.map(_.kind).distinct) {
      case "sinusoidal" =>
        col("amp") * sin(col("omega") * (col("t").cast("double") * col("step")))
      case "square" =>
        when(pmod(col("t"), col("lowWidth") + col("highWidth")) < col("lowWidth"), col("low"))
          .otherwise(col("high"))
      case "random" =>
        caseOf(col("dist"), present(_.dist, "random"))(draw(_, seed).cast("double"))
      case "custom" =>
        caseOf(col("formula"), present(_.formula, "custom"))(Formula.compile(_).cast("double"))
    }
  }

  /** `CASE key WHEN k THEN f(k) … END` over `keys`; a single key needs no
    * `CASE`, since every row then carries it. */
  private[operators] def caseOf[K](key: Column, keys: Seq[K])(f: K => Column): Column =
    if (keys.size == 1) f(keys.head)
    else keys.tail.foldLeft(when(key === lit(keys.head), f(keys.head))) {
      (c, k) => c.when(key === lit(k), f(k))
    }

  /**
   * S4 — one random type's draw (README.md:133 semantics, SURVEY §2.8 fix
   * 6) on its own `random/<type>` stream of the counter RNG ([[Rng]]):
   * Column math (inverse CDF / transforms) over the row's `a`, `b`, or a
   * seeded sampler UDF taking them for gamma, beta and von Mises. Unknown
   * types draw 0, as the reference falls through with `datapoint = 0`.
   */
  private def draw(tpe: String, seed: Long): Column = {
    val stream = s"random/$tpe"
    val (gid, t, a, b) = (col(Gid), col("t"), col("a"), col("b"))
    def u = Rng.uniform(seed, stream, gid, t)
    def uPos = Rng.uniformPos(seed, stream, gid, t)
    def gauss = Rng.gaussian(seed, stream, gid, t)
    def sampled(f: (java.util.Random, Double, Double) => Double) =
      udf((h: Long, x: Double, y: Double) => f(new java.util.Random(h), x, y))
        .apply(Rng.hash64(seed, stream, gid, t), a, b)
    tpe match {
      case "uniform" => u
      // Python random.triangular(low, high), mode at the midpoint
      // (c = 0.5): inverse CDF split at u < c
      case "triangular" =>
        val c = 0.5
        when(u < lit(c), a + (b - a) * sqrt(u * lit(c)))
          .otherwise(b - (b - a) * sqrt((lit(1.0) - u) * lit(1.0 - c)))
      case "expovariate" => -log(uPos) / a
      case "paretovariate" => pow(uPos, a)
      case "gauss" | "normalvariate" => a + b * gauss
      case "lognormvariate" => exp(a + b * gauss)
      // CPython: alpha * (-ln U)^(1/beta)
      case "weibullvariate" => a * pow(-log(uPos), b)
      case "gammavariate" => sampled(Samplers.gamma)
      case "betavariate" => sampled(Samplers.beta)
      case "vonmisesvariate" => sampled(Samplers.vonMises)
      case _ => lit(0.0)
    }
  }

  /**
   * A prefix-referencing formula (`max/min/len(datapoints)`,
   * `datapoints[-k]`, `datapoints[j]` — the reference's growing-list scope)
   * as the recurrence it is: point `t` depends on points `0..t-1`, which no
   * stateless column can express. Sequential within a series, parallel
   * across generators; the lag ring and the anchors are as deep as the
   * formula reads, so memory is O(formula), not O(n).
   */
  private def prefixSeries(ast: Formula.Ast, n: Long): Iterator[(Long, Double)] = {
    var mx = Double.NaN
    var mn = Double.NaN
    var len = 0L
    val lagDepth = Formula.maxLag(ast)
    val ring = if (lagDepth > 0) new Array[Double](lagDepth) else null
    val lagAt: Int => Double =
      k => ring((((len - k) % lagDepth + lagDepth) % lagDepth).toInt)
    val idxDepth = Formula.maxIdx(ast)
    val anchors = if (idxDepth >= 0) new Array[Double](idxDepth + 1) else null
    val idxAt: Int => Double = j => anchors(j)
    (0L until n).iterator.map { t =>
      val v = Formula.evalPrefix(ast, t, len, mx, mn, lagAt, idxAt)
      mx = if (len == 0) v else math.max(mx, v)
      mn = if (len == 0) v else math.min(mn, v)
      if (lagDepth > 0) ring((len % lagDepth).toInt) = v
      if (anchors != null && len <= idxDepth) anchors(len.toInt) = v
      len += 1
      (t, v)
    }
  }
}
