package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blueprint.Blueprint

/**
 * End-to-end materialization — the Spark analog of the reference's
 * `generate_datapoints` (src/main.py:643-665): generate → scale → noise →
 * anomalies → int-cast, each step once over all generators keyed by
 * `generator_id`, into ONE long frame `(generator_id, t, value LONG)`.
 */
object Engine {

  /** The blueprint's series; lazy — nothing runs until it is used. */
  def materialize(spark: SparkSession, bp: Blueprint, seed: Long): DataFrame = {
    require(bp.generators.nonEmpty, "blueprint has no generators")
    val gens = bp.generators
    Transforms.intCast(Transforms.anomalies(
      Transforms.noise(Generators.generate(spark, gens, seed), gens, seed), gens, seed))
  }

  /**
   * Materialized series → zero-filled slot view, the transport unit of the
   * reference (one record per time slot, src/main.py:686-707). Length of
   * the cycle = max series length (lexicographic-max bug fixed, §2.8).
   */
  def slotView(spark: SparkSession, bp: Blueprint, series: DataFrame): DataFrame = {
    val maxN = bp.generators.map(_.config.numPoints).max
    Transforms.zeroFillAlign(series, bp.generators.map(_.id), maxN)
  }

  /**
   * Full blueprint execution (EP2 + EP3, SURVEY §3): materialize, route
   * each target's view, apply its delivery mode, and produce the
   * per-target activity frame a cluster job would write/deliver:
   *
   *  - s3/put   → fake-object corpus frame (key, body, content_type, acl)
   *  - s3/get   → GetObject request frame
   *  - cloudwatch → metric-data frame
   *  - lambda / anything else → delivery-envelope frame (slicing per
   *    `slice_size`, grouped mode per `group_datapoints`)
   *
   * Returned keyed by target index (targets have no ids in the
   * reference). The series is computed once per call (one eager local
   * checkpoint), and every target frame reads from it.
   */
  def execute(spark: SparkSession, bp: Blueprint, seed: Long,
      timestamp: Column = date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss").cast("timestamp"))
      : Seq[(Int, String, DataFrame)] = {
    import graft.sources.Sinks
    val series = materialize(spark, bp, seed).localCheckpoint()
    bp.targets.zipWithIndex.map { case (target, i) =>
      val routed = Dispatch.routeToTarget(series, target)
      val sliceSize = target.raw.long("slice_size", 0L)
      val sliced =
        if (sliceSize > 0 && !target.groupDatapoints)
          Dispatch.sliceDatapoints(routed, sliceSize)
        else routed
      val frame = (target.tpe, target.raw.string("action", "get")) match {
        case ("s3", "put")  => Sinks.fakeObjects(sliced, target, seed)
        case ("s3", _)      => Sinks.getRequests(sliced, target, seed)
        case ("cloudwatch", _) => Sinks.metricData(sliced, bp, timestamp)
        case _ =>
          Dispatch.envelopes(sliced, timestamp,
            targetJson(target), target.groupDatapoints)
      }
      (i, target.tpe, frame)
    }
  }

  /** Target spec minus `generators`/`client`, as the envelope's `target`
    * field (src/main.py:813-817). */
  private def targetJson(target: graft.blueprint.TargetSpec): String = {
    val keep = target.raw.entries -- Seq("generators", "client")
    keep.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v.toString }
      .mkString("{", ",", "}")
  }
}
