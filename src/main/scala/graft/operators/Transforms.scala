package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.blueprint.{AnomalySpec, Config, ResolvedGenerator}
import graft.dsl.Formula
import graft.functions.Rng

/**
 * Per-series transforms over the canonical long IR frame
 * `(generator_id STRING, t LONG, value DOUBLE)` — SURVEY §2.2.
 *
 * All operators are `DataFrame => DataFrame`, shuffle-light by design:
 * the only aggregations are per-generator scalar min/max (tiny results,
 * broadcast back), never `Window.partitionBy()` over the whole frame and
 * never `collect()` — so plans scale with data volume, not series count.
 */
object Transforms {

  val Gid = "generator_id"

  /**
   * Min-max rescale each generator's series to [lo, hi], then ceil —
   * reference `scale_range` (src/main.py:340-357):
   * `ceil((x - min(x)) / (max(x) - min(x)) * (hi - lo) + lo)`.
   *
   * Two deliberate, documented deviations (SURVEY §2.8):
   *  - constant series (max==min, NaN in the reference) map to `lo`;
   *  - the pre-ceil value is quantized to 1e-9 (`round(_, 9)`) so the
   *    FP edge at exact integers is deterministic across engines (Java
   *    and C libm `sin` may differ in the last ulp; without quantization
   *    a 1-ulp difference at the series argmin flips `ceil` by 1).
   */
  def scaleRange(df: DataFrame, lo: Double, hi: Double): DataFrame =
    rescale(df, "value", lit(lo), lit(hi))

  /** [[scaleRange]] of column `c` to per-row bound columns: rows whose
    * bounds are null (a generator left unscaled) keep `c`. */
  private[operators] def rescale(df: DataFrame, c: String, lo: Column, hi: Column): DataFrame = {
    val stats = df.groupBy(Gid).agg(min(c).as("__mn"), max(c).as("__mx"))
    df.join(broadcast(stats), Gid)
      .withColumn(c, when(lo.isNotNull,
        scaledExpr(col(c), col("__mn"), col("__mx"), lo, hi)).otherwise(col(c)))
      .drop("__mn", "__mx")
  }

  /** The scale expression itself, reusable on any column. */
  def scaledExpr(v: Column, mn: Column, mx: Column, lo: Column, hi: Column): Column = {
    val std = (v - mn) / (mx - mn)
    val scaled = std * (hi - lo) + lo
    when(mx === mn, lo.cast("double"))
      .otherwise(ceil(round(scaled, 9)).cast("double"))
  }

  /**
   * Additive Gaussian noise — reference `apply_noise` (src/main.py:588-604):
   * draw N(0,1) per slot, min-max-rescale the *realized sample* to
   * [noise_min, noise_max] (NOT an analytic scaling — reference semantics),
   * add, clamp at 0. Disabled unless both bounds are nonzero (the
   * truthiness gate at src/main.py:599).
   */
  def applyNoise(df: DataFrame, cfg: Config, seed: Long): DataFrame =
    if (!cfg.noiseEnabled) df else noiseWhere(df, seed, lit(cfg.noiseMin), lit(cfg.noiseMax))

  /** [[applyNoise]] for every generator of `gens` at once, keyed by
    * `generator_id`: each one's bounds come from a broadcast table. */
  def noise(df: DataFrame, gens: Seq[ResolvedGenerator], seed: Long): DataFrame = {
    val noisy = gens.filter(_.config.noiseEnabled)
    if (noisy.isEmpty) df
    else {
      val bounds = localTable(df.sparkSession, s"$Gid STRING, __nlo DOUBLE, __nhi DOUBLE",
        noisy.map(g => Seq(g.id, g.config.noiseMin, g.config.noiseMax)))
      noiseWhere(df.join(broadcast(bounds), Seq(Gid), "left"), seed, col("__nlo"), col("__nhi"))
        .drop("__nlo", "__nhi")
    }
  }

  /** Noise with per-row bound columns; rows with null bounds draw none. */
  private def noiseWhere(df: DataFrame, seed: Long, lo: Column, hi: Column): DataFrame =
    rescale(df.withColumn("__noise",
      when(lo.isNotNull, Rng.gaussian(seed, "noise", col(Gid), col("t")))), "__noise", lo, hi)
      .withColumn("value", when(lo.isNotNull, greatest(lit(0.0), col("value") + col("__noise")))
        .otherwise(col("value")))
      .drop("__noise")

  /**
   * Anomaly injection — reference `apply_anomalies` (src/main.py:606-641).
   * Per spec: clamp start/end to n-1, draw `counts` slots uniformly in
   * [start, end] **with replacement** (duplicates collide, last write
   * wins — but our formulas depend only on (t, series aggregates), so
   * collisions are idempotent), overwrite with the compiled formula or
   * the default `(int(max(series)) + 1) ** 2` (src/main.py:628, 639).
   *
   * `datapoint_max`/`max(datapoints)` are evaluated on the series as it
   * stands *before this spec's* injection (matching `datapoint_max`'s
   * scope; specs apply sequentially like the reference's loop).
   *
   * Slot sampling happens driver-side from the deterministic seed — the
   * sampled-slot table is `counts` rows, broadcast into the join.
   */
  def applyAnomalies(df: DataFrame, specs: Seq[AnomalySpec], numPoints: Long,
      seed: Long, generatorId: String): DataFrame =
    injectAnomalies(df, Seq((generatorId, numPoints, specs)), seed)

  /** [[applyAnomalies]] for every generator of `gens` at once: the i-th
    * spec of all generators is one step, keyed by `generator_id`. */
  def anomalies(df: DataFrame, gens: Seq[ResolvedGenerator], seed: Long): DataFrame =
    injectAnomalies(df, gens.map(g => (g.id, g.config.numPoints, g.config.anomalies)), seed)

  /**
   * The deterministic anomaly slot draws (uniform inclusive, with
   * replacement, deduplicated) for one spec. Public so the DuckDB
   * oracle builder can inject the SAME slots as plan-time literals —
   * the sampling is pure driver-side Scala, which makes an exact
   * cross-engine oracle possible for anomaly injection.
   */
  def anomalySlots(spec: AnomalySpec, n: Long, seed: Long,
      generatorId: String, specIdx: Int): Seq[Long] = {
    val start = math.min(spec.start.getOrElse(0L), n - 1)
    val end = math.min(spec.end.getOrElse(n - 1), n - 1)
    if (spec.counts <= 0 || end < start) return Nil
    val rng = new java.util.Random(seed ^
      scala.util.hashing.MurmurHash3.stringHash(s"$generatorId/anomaly/$specIdx").toLong)
    // floorMod, not abs%: abs(Long.MinValue) is negative (would land
    // below `start`), and floorMod's residual bias over a 64-bit draw
    // is a vanishing 2^-64 per slot.
    (0L until spec.counts)
      .map(_ => start + math.floorMod(rng.nextLong(), end - start + 1))
      .distinct
  }

  /** Step `i` injects every generator's spec `i`: a `(generator_id, t,
    * formula)` slot table joined on `(generator_id, t)`. */
  private def injectAnomalies(df: DataFrame,
      plans: Seq[(String, Long, Seq[AnomalySpec])], seed: Long): DataFrame = {
    val steps = plans.map(_._3.length).foldLeft(0)(math.max)
    (0 until steps).foldLeft(df) { (cur, i) =>
      val specs = plans.flatMap { case (gid, n, s) => s.lift(i).map((gid, n, _)) }
      val formulas = specs.map(_._3.formula).distinct
      val slots = specs.flatMap { case (gid, n, spec) =>
        anomalySlots(spec, n, seed, gid, i).map(t => Seq(gid, t, formulas.indexOf(spec.formula)))
      }
      if (slots.isEmpty) cur
      else {
        // Pre-injection aggregates feed datapoint_max / max(datapoints) refs.
        val stats = cur.groupBy(Gid).agg(
          floor(max("value")).cast("double").as(Formula.DpMaxCol), // int(np.max(..))
          min("value").as(Formula.DpMinCol),
          count("*").cast("double").as(Formula.DpLenCol))
        val formulaCol = Generators.caseOf(col("__formula"), formulas.indices) { f =>
          formulas(f).map(Formula.compile)
            .getOrElse(pow(col(Formula.DpMaxCol) + lit(1.0), 2.0)).cast("double")
        }
        val slotDf = localTable(cur.sparkSession, s"$Gid STRING, t BIGINT, __formula INT", slots)
        cur.join(broadcast(stats), Gid)
          .join(broadcast(slotDf), Seq(Gid, "t"), "left")
          .withColumn("value",
            when(col("__formula").isNotNull, formulaCol).otherwise(col("value")))
          .drop("__formula", Formula.DpMaxCol, Formula.DpMinCol, Formula.DpLenCol)
      }
    }
  }

  /** A driver-side table with a DDL schema: no encoder derived by Scala
    * reflection, which fails under class loaders such as the sbt console's. */
  private[operators] def localTable(spark: SparkSession, ddl: String, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, StructType.fromDDL(ddl))

  /**
   * Final int cast — reference `np.array(v).astype(int)` truncation toward
   * zero (src/main.py:663); Spark double→long casts truncate identically.
   */
  def intCast(df: DataFrame): DataFrame =
    df.withColumn("value", col("value").cast("long"))

  /**
   * Zero-fill alignment (src/main.py:684-693, with the lexicographic-max
   * bug fixed to max-by-length per SURVEY §2.8 fix 7): every generator is
   * extended to the longest series' length with zeros. Implemented as a
   * grid (range × generator ids) left-joined against the union frame —
   * no driver-side loops, scales with rows.
   */
  def zeroFillAlign(df: DataFrame, generatorIds: Seq[String], maxN: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = spark.range(0, maxN).toDF("t")
      .crossJoin(broadcast(generatorIds.toDF(Gid)))
    grid.join(df, Seq(Gid, "t"), "left")
      .withColumn("value", coalesce(col("value"), lit(0L)))
  }
}
