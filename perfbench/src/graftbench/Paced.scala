package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.blueprint.{Blueprint, BlueprintParser}
import graft.operators.{Dispatch, Engine, Transforms}
import graft.sources.Sinks
import graft.streaming.PacedRunner

/**
 * `paced_delivery`: the reference's serving loop. Set-up materializes the
 * `fleet_cycle` blueprint's slot records once (`Engine.materialize` →
 * `Engine.slotView` → `Dispatch.slotRecords`) and checkpoints them. A
 * feeder thread then pushes one tick per `1 / Rate` seconds (an open
 * loop) into a memory stream that `PacedRunner.startAtMostOnce` consumes
 * with a fresh claim ledger. Each tick's delivery builds the cloudwatch
 * payload (`Sinks.metricData`) and the grouped lambda envelope
 * (`Dispatch.envelopes`) of its slot and collects both to the driver.
 * A tick's latency runs from its due time to the end of its delivery.
 */
object PacedRun {
  /** Offered load, ticks per second: one tick every 2.5 s, twice what
    * a tick costs on the 4-core VM the sizes were measured on, so ticks
    * do not back up when the host gets busy. */
  val Rate = 0.4
  /** Untimed ticks delivered before the schedule starts: the first
    * micro-batches plan, compile and open the ledger. */
  val WarmupTicks = 2
  /** How long the run waits, after the last tick is due, for the
    * deliveries still under way. */
  val DrainS = 30.0
  val LambdaJson = """{"function_name":"paced","group_datapoints":true,"type":"lambda"}"""

  /** What one open-loop segment saw. */
  final case class Segment(latMs: Seq[Double], due: Int, delivered: Int, missed: Int,
      skipped: Int, failures: Seq[String], wallS: Double, feederLagMs: Seq[Double],
      ledgerFiles: Int, jobs: Long,
      /** `(input rows, durations)` of each timed batch that carried ticks */
      progress: Seq[(Long, Map[String, Long])],
      deliverMs: Seq[Double])

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val bp = BlueprintParser.parse(Fleet.blueprintJson(c.seed, noisy = Set.empty))
    val cycleLen = bp.generators.map(_.config.numPoints).max.toLong
    val notes = mutable.LinkedHashMap[String, Any]("cycle_length" -> cycleLen, "rate_per_s" -> Rate)
    var slots: DataFrame = null
    val setupS = Loop.setup(notes) {
      slots = Dispatch.slotRecords(Engine.slotView(spark, bp, Engine.materialize(spark, bp, c.seed)))
        .withColumnRenamed("datapoints", "value").localCheckpoint()
    }
    val expected: Map[Long, Map[String, Long]] = slots.collect().map { r =>
      r.getLong(0) -> r.getMap[String, Any](1).toMap.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
    }.toMap
    notes("slots") = expected.size
    if (expected.size != cycleLen)
      return Outcome(1, 1, Seq(s"${expected.size} slot records for a $cycleLen-slot cycle"),
        Map.empty, Map.empty, notes)

    if (!c.tr.enabled) {
      val s = segment(c, bp, slots, cycleLen, expected, "plain")
      notes("ticks_due") = s.due
      notes("ticks_delivered") = s.delivered
      val lat = if (s.latMs.isEmpty) Seq(Double.NaN) else s.latMs
      Outcome(s.due, s.missed + s.skipped + s.failures.length, s.failures, Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> s.delivered / s.wallS,
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p90_ms" -> Stats.pct(lat, 0.9)), Map.empty, notes)
    } else {
      // an untraced segment, then a traced one, each with its own query
      // and ledger: the difference of their latencies is the overhead
      val plain = segment(c, bp, slots, cycleLen, expected, "plain")
      val traced = segment(c, bp, slots, cycleLen, expected, "traced")
      val layers = mutable.LinkedHashMap.empty[String, Double]
      def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val withInput = traced.progress
      for ((k, m) <- Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
          "queryPlanning" -> "planning_ms", "walCommit" -> "wal_ms"))
        layers(s"paced.$m") = med(withInput.map(_._2.getOrElse(k, 0L).toDouble))
      layers("paced.deliver_ms") = med(traced.deliverMs)
      // claim time of each one-tick batch: its addBatch minus its delivery
      val claims = claimMs(withInput, traced.deliverMs)
      layers("paced.claim_ms") = med(claims)
      layers("paced.claim_ms_slope") = slopePer100(claims)
      layers("paced.ledger_files") = traced.ledgerFiles.toDouble
      layers("paced.jobs_per_tick") = traced.jobs.toDouble / math.max(1, traced.delivered)
      layers("paced.ticks_per_batch") = med(withInput.map(_._1.toDouble))
      layers("paced.feeder_lag_ms") = med(traced.feederLagMs)
      layers ++= LayerReport.spanSeconds(c.tr, "tick", Map(
        "dispatch.exec_s" -> (Seq("dispatch.envelopes"), 1.0),
        "sinks.metric_data_s" -> (Seq("sinks.metric_data"), 1.0)))
      layers ++= LayerReport.overhead(plain.latMs, traced.latMs)
      val all = Seq(plain, traced)
      Outcome(all.map(_.due).sum, all.map(s => s.missed + s.skipped + s.failures.length).sum,
        all.flatMap(_.failures), Map.empty, layers.toMap, notes)
    }
  }

  /** Claim time (ms) of each batch that carried exactly one tick:
    * addBatch minus that tick's delivery, in batch order. */
  private def claimMs(batches: Seq[(Long, Map[String, Long])], deliverMs: Seq[Double]): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    var i = 0
    batches.foreach { case (rows, d) =>
      if (rows == 1 && i < deliverMs.length) out += d.getOrElse("addBatch", 0L) - deliverMs(i)
      i += rows.toInt
    }
    out.toSeq
  }

  /** Least-squares slope of `ys` against their index, per 100 steps. */
  private def slopePer100(ys: Seq[Double]): Double =
    if (ys.length < 2) 0.0
    else {
      val xs = ys.indices.map(_.toDouble)
      val mx = xs.sum / xs.length
      val my = ys.sum / ys.length
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      100.0 * num / den
    }

  /** One open-loop segment: start the query, deliver the warm-up ticks,
    * then feed ticks on schedule for `seconds`, drain and stop. */
  private def segment(c: Ctx, bp: Blueprint, slots: DataFrame, cycleLen: Long,
      expected: Map[Long, Map[String, Long]], name: String): Segment = {
    val spark = c.spark
    val tr = if (name == "traced") c.tr else Tracer.off(spark.sparkContext)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val cw = bp.targets.find(_.tpe == "cloudwatch").get
    val grouped = bp.targets.find(_.groupDatapoints).get
    val delivered = new ConcurrentHashMap[Long, java.lang.Double]()
    val deliverMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    def deliver(tick: Long, slot: DataFrame): Unit = tr.trace("tick") {
      val s = Stats.nowS()
      tr.span("paced.deliver") {
        val points = slot.select(col("t"), explode(col("value")).as(Seq(Transforms.Gid, "value")))
        val metrics = tr.span("sinks.metric_data") {
          Sinks.metricData(Dispatch.routeToTarget(points, cw), bp, Fleet.Timestamp)
            .select(col("id"), col("value")).collect()
            .map(r => r.getString(0) -> r.getDouble(1).toLong).toMap
        }
        val env = tr.span("dispatch.envelopes") {
          Dispatch.envelopes(Dispatch.routeToTarget(points, grouped), Fleet.Timestamp, LambdaJson,
            grouped = true).select(size(col("datapoints"))).collect().map(_.getInt(0)).toSeq
        }
        val want = expected(math.floorMod(tick, cycleLen))
        if (metrics != want) problems.add(s"tick $tick: metric data $metrics, slot holds $want")
        if (env != Seq(grouped.generators.length))
          problems.add(s"tick $tick: grouped envelopes carry $env datapoints")
      }
      deliverMs.add((Stats.nowS() - s) * 1e3)
      if (delivered.putIfAbsent(tick, Stats.nowS()) != null) problems.add(s"tick $tick delivered twice")
    }

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()
    val ledger = java.nio.file.Paths.get(c.runDir, s"ledger-$name").toUri.toString
    val mem = MemoryStream[Long]
    val q = tr.trace("start") {
      tr.span("paced.start") {
        PacedRunner.startAtMostOnce(spark, slots, cycleLen, ledger, deliver _, mem.toDF(),
          Trigger.ProcessingTime(0L))
      }
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == q.id)
          progress.add((e.progress.numInputRows, e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    spark.streams.addListener(listener)

    def waitFor(n: Int, deadline: Double): Unit =
      while (delivered.size < n && q.isActive && Stats.nowS() < deadline) Thread.sleep(5)

    // warm-up: ticks numbered below the schedule's, delivered and
    // checked like any other, but not timed
    (0 until WarmupTicks).foreach { i =>
      mem.addData(i.toLong)
      waitFor(i + 1, Stats.nowS() + DrainS)
    }
    org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    val warmJobs = tr.jobsSeen
    deliverMs.clear()

    val due = mutable.ArrayBuffer.empty[Double]
    val lag = mutable.ArrayBuffer.empty[Double]
    val t0 = Stats.nowS()
    var i = 0
    while (i / Rate < c.seconds) {
      val at = t0 + i / Rate
      val wait = at - Stats.nowS()
      if (wait > 0) Thread.sleep(math.ceil(wait * 1e3).toLong)
      mem.addData((WarmupTicks + i).toLong)
      lag += (Stats.nowS() - at) * 1e3
      due += at
      i += 1
    }
    waitFor(WarmupTicks + due.length, Stats.nowS() + DrainS)
    val end = Stats.nowS()
    q.stop()
    org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    val jobs = tr.jobsSeen - warmJobs
    spark.streams.removeListener(listener)
    Option(q.exception.orNull).foreach(e => problems.add(s"query failed: ${e.getMessage}"))

    val lat = due.indices.flatMap { j =>
      Option(delivered.get((WarmupTicks + j).toLong)).map(d => (d - due(j)) * 1e3)
    }
    val claimed = {
      val p = java.nio.file.Paths.get(java.net.URI.create(ledger))
      if (java.nio.file.Files.exists(p)) spark.read.parquet(ledger).as[Long].collect().toSet
      else Set.empty[Long]
    }
    val ledgerFiles = {
      val p = java.nio.file.Paths.get(java.net.URI.create(ledger))
      if (!java.nio.file.Files.exists(p)) 0
      else java.nio.file.Files.list(p).iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val deliveredTicks = delivered.keySet().asScala.map(_.longValue).toSet
    Segment(lat, due.length, lat.length, due.length - lat.length,
      (claimed -- deliveredTicks).size, problems.asScala.toSeq.distinct,
      math.max(1e-9, end - t0), lag.toSeq, ledgerFiles, jobs,
      progress.asScala.toSeq.filter(_._1 > 0).drop(WarmupTicks), deliverMs.asScala.map(_.doubleValue).toSeq)
  }
}
