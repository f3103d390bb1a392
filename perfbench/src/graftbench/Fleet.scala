package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{RangeExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.blueprint.{Blueprint, BlueprintParser, TargetSpec}
import graft.operators.{Engine, Generators, Transforms}

/**
 * Blueprint generation for `fleet_cycle`. The blueprint is shaped like
 * the reference's SampleBlueprint: generators over the five shapes the engine
 * synthesizes itself (the `real` replay shape reads a file and is left
 * out), commons noise and anomalies on, and one target of each delivery
 * kind.
 */
object Fleet {
  val Shapes: Seq[String] = Seq("sinusoidal", "random", "custom", "square", "constant")
  val NumPoints = 288
  /** Fixed delivery timestamp, so target frames are identical across
    * cycles and runs (the engine's default is the wall clock). */
  val Timestamp: Column = lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))

  /** Shapes that take the commons noise and anomalies; the others turn
    * both off, so the square and constant generators take the engine's
    * bulk path (`Generators.squareBulk`, one range scan for all). */
  val Noisy: Set[String] = Set("sinusoidal", "random")

  /**
   * Blueprint JSON drawn from `seed`. The structure is fixed (shapes,
   * random types, routing, value ranges), so every seed asks for the
   * same kind and amount of work; the seed draws the shape parameters
   * (frequency, formula constants, square widths and levels, constants)
   * and the anomaly window.
   */
  def blueprintJson(seed: Long, noisy: Set[String] = Noisy): String = {
    val r = new java.util.Random(seed)
    def between(lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()
    val ids = Shapes.indices.map(i => f"gen$i%02d")
    val gens = ids.zip(Shapes).map { case (id, shape) =>
      val cfg = shape match {
        case "sinusoidal" => f"""{"frequency": ${between(0.01, 0.2)}%.4f, "amplitude": ${between(1, 5)}%.2f}"""
        case "random" => """{"type": "uniform"}"""
        case "custom" =>
          s"""{"formula": "(t % ${20 + r.nextInt(60)}) + ${1 + r.nextInt(4)} * (t % ${3 + r.nextInt(9)})"}"""
        case "square" =>
          s"""{"low_value": ${1 + r.nextInt(3)}, "high_value": ${5 + r.nextInt(4)}, """ +
            s""""low_width": ${2 + r.nextInt(10)}, "high_width": ${2 + r.nextInt(10)}}"""
        case _ => s"""{"constant": ${3 + r.nextInt(4)}}"""
      }
      val quiet = if (noisy(shape)) "" else """, "noise_min": 0, "noise_max": 0, "anomalies": []"""
      s"""{"id": "$id", "shape": "$shape", "config": ${cfg.dropRight(1)}$quiet}}"""
    }
    def pick(is: Int*): String =
      is.map(i => "\"" + ids(i) + "\"").mkString("[", ",", "]")
    val all = pick(ids.indices: _*)
    val start = r.nextInt(NumPoints / 2)
    s"""{
       |  "commons": {"num_points": $NumPoints, "signal_min": 1, "signal_max": 8,
       |              "noise_min": 1, "noise_max": 3,
       |              "anomalies": {"start": $start, "end": ${start + NumPoints / 4}, "counts": 3}},
       |  "generators": [${gens.mkString(",\n    ")}],
       |  "targets": [
       |    {"type": "s3", "action": "put", "prefix": "fleet/", "generators": ${pick(0)},
       |     "fake_types": ["sentence", "email", "ssn", "aws_creds"], "fake_counts": 2,
       |     "content_types": ["text/plain", "application/json"], "acls": ["private", "public-read"]},
       |    {"type": "s3", "action": "get", "prefix": "fleet/", "generators": ${pick(1)}},
       |    {"type": "cloudwatch", "generators": $all},
       |    {"type": "lambda", "function_name": "sliced", "slice_size": 3, "generators": ${pick(2, 3)}},
       |    {"type": "lambda", "function_name": "grouped", "group_datapoints": true, "generators": $all}
       |  ]
       |}""".stripMargin
  }

  /** Order-independent digest `rows:hashsum` of a frame; computing it
    * forces every column. */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).bitwiseAND(lit(0x7fffffffL))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), s"${r.getLong(0)}:${r.getLong(1)}")
  }

  /** Expected row count of each target frame, derived from the
    * blueprint and the `(generator, value)` points of the cloudwatch
    * frame, which routes every generator. */
  def expectedRows(bp: Blueprint, points: Seq[(String, Long)]): Seq[Long] =
    bp.targets.map { t =>
      val routed = points.filter(p => t.generators.contains(p._1)).map(_._2)
      val slice = t.raw.long("slice_size", 0L)
      (t.tpe, t.raw.string("action", "get")) match {
        case ("s3", _) => routed.filter(_ > 0).sum
        case ("cloudwatch", _) =>
          bp.generators.filter(g => t.generators.contains(g.id)).map(_.config.numPoints).sum
        case _ if t.groupDatapoints =>
          bp.generators.filter(g => t.generators.contains(g.id)).map(_.config.numPoints).max
        case _ if slice > 0 =>
          routed.map(v => if (v == 0) 1L else v / slice + (if (v % slice > 0) 1L else 0L)).sum
        case _ => routed.length.toLong
      }
    }

  /** The cloudwatch frame's `(generator, value)` points, sorted. */
  def metricPoints(df: DataFrame): Seq[(String, Long)] =
    df.select(col("id"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong)).toSeq.sorted

  def planNodes(p: SparkPlan): Int = p.collect { case n => n }.size
  def rangeLeaves(p: SparkPlan): Int = p.collect { case r: RangeExec => r }.size
}

/**
 * `fleet_cycle`: closed loop, one client. Each cycle parses the
 * blueprint, calls `Engine.execute` and delivers every target frame it
 * returns. The blueprint, engine, generators, transforms, dispatch and
 * sinks layers and the Catalyst planner do all the work.
 */
final class FleetCycle(spark: SparkSession, seed: Long, tr: Tracer) {
  import Fleet._

  private val json = blueprintJson(seed)

  /** Set-up: draw the blueprint, parse it and build the series frame
    * (driver-side analysis only; the target frames, their planning and
    * execution are the cycle's). */
  def setup(): Unit = {
    val bp = BlueprintParser.parse(blueprintJson(seed))
    Engine.materialize(spark, bp, seed)
  }

  /** Deliver one target frame: reduce it to its row count and an
    * order-independent digest, which forces every column as the noop
    * sink would; the cloudwatch frame is collected, as a metric-data call
    * would ship it. Returns `(rows, digest)` and the cloudwatch points. */
  private def deliver(tpe: String, df: DataFrame): ((Long, String), Seq[(String, Long)]) =
    if (tpe == "cloudwatch") { val p = metricPoints(df); ((p.length.toLong, ""), p) }
    else (digest(df), Nil)

  /** One cycle; also returns each target delivery's wall time in ms. */
  def cycle(): (Cycle, Seq[Double]) = {
    val bp = BlueprintParser.parse(json)
    val frames = Engine.execute(spark, bp, seed, Timestamp)
    val out = frames.map { case (_, tpe, df) => Stats.timed(deliver(tpe, df)) }
    (Cycle(out.map(_._2._1), out.flatMap(_._2._2)), out.map(_._1 * 1e3))
  }

  def points: Long = BlueprintParser.parse(json).generators.map(_.config.numPoints).sum

  /** Problems with a cycle's output: row counts against the blueprint,
    * digests against the run's first cycle. */
  def check(got: Cycle, first: Cycle): Seq[String] = {
    val bp = BlueprintParser.parse(json)
    val want = expectedRows(bp, got.points)
    val rows = got.digests.map(_._1).zip(want).zipWithIndex.collect {
      case ((g, w), i) if g != w => s"target $i: $g rows, blueprint says $w"
    }
    rows ++ (if (got != first) Seq("target outputs differ from the run's first cycle") else Nil)
  }

  /** The span a target's delivery is timed in, by the layer function
    * that builds its frame inside `Engine.execute`. */
  private def sinkSpan(t: TargetSpec): String = (t.tpe, t.raw.string("action", "get")) match {
    case ("s3", "put") => "sinks.fake_objects"
    case ("s3", _) => "sinks.get_requests"
    case ("cloudwatch", _) => "sinks.metric_data"
    case _ => "dispatch.envelopes"
  }

  /**
   * The traced cycle: the untraced cycle's own calls, each in a span.
   * Every frame `Engine.execute` returns is delivered inside the span of
   * the sink or dispatch function that built it, so the target spans
   * cover the cycle's execution as the program runs it, recomputation
   * of the series included. Generators and transforms run fused inside
   * those frames; their own spans come from a separate layer probe (a
   * trace rooted at `layers`, outside the cycle) that calls
   * `Generators.forSpec` for every generator and then `Transforms`'
   * noise, anomaly and cast steps on the checkpointed output, each layer
   * forced inside its span. Returns the target digests and records
   * per-cycle layer values.
   */
  def tracedCycle(rec: (String, Double) => Unit): Cycle = {
    val (bp, cy) = tr.trace("cycle") {
      val bp = tr.span("blueprint.parse") { BlueprintParser.parse(json) }
      val frames = tr.span("engine.execute") { Engine.execute(spark, bp, seed, Timestamp) }
      val plans = tr.span("engine.plan") {
        frames.map { f => f._3.queryExecution.executedPlan; f._3.queryExecution.sparkPlan }
      }
      rec("engine.plan_nodes", plans.map(planNodes).sum.toDouble)
      rec("engine.range_scans_per_generator",
        plans.map(rangeLeaves).sum.toDouble / bp.generators.length)
      val out = bp.targets.zip(frames).map { case (t, (_, tpe, df)) =>
        tr.span(sinkSpan(t)) { deliver(tpe, df) }
      }
      def rows(span: String): Double = bp.targets.zip(out)
        .collect { case (t, ((n, _), _)) if sinkSpan(t) == span => n }.sum.toDouble
      rec("sinks.fake_objects_rows", rows("sinks.fake_objects"))
      rec("dispatch.rows_out", rows("dispatch.envelopes"))
      (bp, Cycle(out.map(_._1), out.flatMap(_._2)))
    }
    tr.trace("layers") {
      val raws = tr.span("generators") {
        bp.generators.map(g => g -> Generators.forSpec(spark, g, seed).localCheckpoint())
      }
      val series = tr.span("transforms") {
        raws.map { case (g, raw) =>
          Transforms.intCast(Transforms.applyAnomalies(Transforms.applyNoise(raw, g.config, seed),
            g.config.anomalies, g.config.numPoints, seed, g.id))
            .select(col(Transforms.Gid), col("t"), col("value"))
        }.reduce(_ unionByName _).localCheckpoint()
      }
      rec("engine.points", series.count().toDouble)
    }
    cy
  }
}

/** A cycle's output: per target `(rows, digest)` (the cloudwatch
  * target's digest is empty) and the cloudwatch points. */
final case class Cycle(digests: Seq[(Long, String)], points: Seq[(String, Long)])

/** The `fleet_cycle` run: see [[FleetCycle]]. Work unit: one generator
  * point; latency sample: one target delivery. */
object FleetRun {
  def run(c: Ctx): Outcome = {
    val w = new FleetCycle(c.spark, c.seed, c.tr)
    val notes = mutable.LinkedHashMap.empty[String, Any]
    val setupS = Loop.setup(notes, Loop.CheapSetupRepeats)(w.setup())
    val fails = mutable.ArrayBuffer.empty[String]
    var first: Cycle = null
    def checked(cy: Cycle): Unit = {
      if (first == null) {
        first = cy
        notes("target_rows") = cy.digests.map(_._1)
        notes("target_digests") = cy.digests.map(_._2)
      }
      val p = w.check(cy, first)
      if (p.nonEmpty) { fails ++= p; throw new IllegalStateException(p.head) }
    }
    val points = w.points
    notes("points_per_cycle") = points
    if (!c.tr.enabled) {
      val deliveries = mutable.ArrayBuffer.empty[Double]
      val (lat, opFails, wall) = Loop.closed(c.seconds) {
        val (cy, ms) = w.cycle()
        checked(cy)
        deliveries ++= ms
      }
      notes("cycles") = lat.length
      notes("cycle_ms") = lat
      Outcome(lat.length + opFails.length, opFails.length, (fails ++ opFails).distinct.toSeq, Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> points * lat.length / wall,
        "latency_p50_ms" -> Stats.median(deliveries.toSeq),
        "latency_p90_ms" -> Stats.pct(deliveries.toSeq, 0.9)), Map.empty, notes)
    } else {
      val s = new Samples
      val (plain, _, opFails, attempted) =
        Loop.paired(c.seconds)(checked(w.cycle()._1))(checked(w.tracedCycle(s.add)))
      val layers = s.medians ++ LayerReport.spanSeconds(c.tr, "cycle", Map(
        "blueprint.parse_ms" -> (Seq("blueprint.parse"), 1e3),
        "engine.build_ms" -> (Seq("engine.execute"), 1e3),
        "engine.plan_ms" -> (Seq("engine.plan"), 1e3),
        "dispatch.exec_s" -> (Seq("dispatch.envelopes"), 1.0),
        "sinks.fake_objects_s" -> (Seq("sinks.fake_objects"), 1.0),
        "sinks.get_requests_s" -> (Seq("sinks.get_requests"), 1.0),
        "sinks.metric_data_s" -> (Seq("sinks.metric_data"), 1.0))) ++
        LayerReport.spanSeconds(c.tr, "layers", Map(
          "generators.exec_s" -> (Seq("generators"), 1.0),
          "transforms.exec_s" -> (Seq("transforms"), 1.0))) ++
        // the layer probe is outside the cycle: overhead is the cycle's
        LayerReport.overhead(plain, c.tr.all.filter(sp => sp.name == "cycle" && sp.parent == 0L)
          .map(_.durMs))
      Outcome(attempted, opFails.length,
        (fails ++ opFails).distinct.toSeq, Map.empty, layers, notes)
    }
  }
}
