package graft

import org.apache.spark.sql.functions._
import graft.blueprint.Config
import graft.operators.{Generators, Transforms}

/** Generator sources S1-S6 (SURVEY §2.1): exact vectors for the
  * deterministic shapes, invariants + partition-independence for the
  * stochastic ones. */
class GeneratorsSpec extends SparkSpec {

  private def gen(id: String, shape: String, cfg: Config, seed: Long = 0L) =
    Generators.forSpec(spark, graft.blueprint.ResolvedGenerator(id, shape, cfg), seed)

  test("constant: n copies, NOT scaled (src/main.py:500-508)") {
    val df = gen("c", "constant", Config.of("""{"num_points":5,"constant":42}"""))
    seriesOf(df) shouldBe Seq(0L -> 42.0, 1L -> 42.0, 2L -> 42.0, 3L -> 42.0, 4L -> 42.0)
  }

  test("square: low/high widths repeat then truncate, NOT scaled (src/main.py:447-462)") {
    val df = gen("sq", "square",
      Config.of("""{"num_points":8,"low_value":1,"low_width":2,"high_value":9,"high_width":3}"""))
    seriesOf(df).map(_._2) shouldBe Seq(1.0, 1.0, 9.0, 9.0, 9.0, 1.0, 1.0, 9.0)
  }

  test("sinusoidal: sin over linspace[0,n], min-max scaled + ceil (src/main.py:479-498)") {
    val n = 8
    val df = gen("s", "sinusoidal",
      Config.of(s"""{"num_points":$n,"frequency":0.25,"signal_min":1,"signal_max":20}"""))
    val step = n.toDouble / (n - 1)
    val raw = (0 until n).map(t => math.sin(2 * math.Pi * 0.25 * (t * step)))
    val mn = raw.min; val mx = raw.max
    val expected = raw.map(v =>
      math.ceil(BigDecimal((v - mn) / (mx - mn) * 19.0 + 1.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
    seriesOf(df).map(_._2) shouldBe expected
  }

  test("custom formula: compiled DSL then scaled (src/main.py:464-477)") {
    val df = gen("f", "custom",
      Config.of("""{"num_points":6,"formula":"t * t","signal_min":0,"signal_max":10}"""))
    // raw = [0,1,4,9,16,25]; scaled to [0,10] with ceil
    val raw = Seq(0.0, 1.0, 4.0, 9.0, 16.0, 25.0)
    val expected = raw.map(v => math.ceil(v / 25.0 * 10.0))
    seriesOf(df).map(_._2) shouldBe expected
  }

  test("scaling edge: constant series maps to signal_min (SURVEY §2.8 #9)") {
    val df = gen("flat", "custom",
      Config.of("""{"num_points":4,"formula":"7","signal_min":3,"signal_max":9}"""))
    seriesOf(df).map(_._2) shouldBe Seq(3.0, 3.0, 3.0, 3.0)
  }

  test("random uniform: bounds respected, deterministic, partition-independent") {
    val cfg = Config.of("""{"num_points":400,"type":"uniform","signal_min":1,"signal_max":20}""")
    val a = seriesOf(gen("r", "random", cfg, 42L))
    val b = seriesOf(gen("r", "random", cfg, 42L)
      .repartition(13).sortWithinPartitions("t"))
    a shouldBe b                                    // same seed ⇒ identical at any parallelism
    all(a.map(_._2)) should (be >= 1.0 and be <= 20.0)
    a.map(_._2).distinct.size should be > 10        // actually random
    val c = seriesOf(gen("r", "random", cfg, 43L))
    c should not be a                               // seed changes the draw
  }

  test("random distributions: documented types produce plausible draws (SURVEY §2.8 fix 6)") {
    for (tpe <- Seq("triangular", "expovariate", "paretovariate", "gauss",
      "normalvariate", "lognormvariate", "weibullvariate",
      "betavariate", "gammavariate", "vonmisesvariate")) {
      val cfg = Config.of(
        s"""{"num_points":200,"type":"$tpe","alpha":2,"beta":2,"mu":5,"sigma":1,
           | "lambda":1,"kappa":2,"signal_min":1,"signal_max":20}""".stripMargin)
      val vals = seriesOf(gen(tpe, "random", cfg, 7L)).map(_._2)
      vals.size shouldBe 200
      withClue(s"$tpe: ") {
        vals.distinct.size should be > 5
        if (tpe != "triangular") { // all scaled types land in [1,20]
          all(vals) should (be >= 1.0 and be <= 20.0)
        } else { // triangular NOT scaled: draws within [signal_min, signal_max]
          all(vals) should (be >= 1.0 and be <= 20.0)
        }
      }
    }
  }

  test("unknown shape and missing formula fail fast with named errors") {
    import graft.blueprint.ResolvedGenerator
    val bad = ResolvedGenerator("g", "cubic", Config.empty)
    val e = intercept[IllegalArgumentException](Generators.forSpec(spark, bad, 1L))
    e.getMessage should include("cubic")
    val noFormula = intercept[IllegalArgumentException](
      gen("g", "custom", Config.empty))
    noFormula.getMessage should include("formula")
  }

  test("gaussian draws have roughly the configured moments before scaling") {
    import graft.functions.Rng
    val df = spark.range(5000).toDF("t")
      .withColumn("g", Rng.gaussian(1L, "m", col("t")))
    val vals = df.select("g").collect().map(_.getDouble(0))
    math.abs(vals.sum / vals.length) should be < 0.05
    val mean = vals.sum / vals.length
    val sd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.length)
    sd shouldBe 1.0 +- 0.05
  }
}
