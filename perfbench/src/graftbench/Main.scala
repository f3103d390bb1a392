package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark JVM entry point, started by `perfbench/run.py`:
 *
 *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir>
 *
 * Runs one workload in this process on Spark `local[<cores>]`, checks
 * its outputs, and writes `result.json` (and, when traced, `spans.json`)
 * into the run directory. Every Spark artefact (warehouse, local dirs,
 * checkpoints) lives under the run directory, so runs never see each
 * other's state.
 */
object Main {
  val Workloads: Seq[String] = Seq("fleet_cycle", "paced_delivery", "corpus_recipe", "ann_search")
  /** Root spans whose layer counters a workload reports; the first is
    * its traced operation, which the counters are averaged over. */
  val OpRoots: Map[String, Seq[String]] = Map("fleet_cycle" -> Seq("cycle", "layers"),
    "paced_delivery" -> Seq("tick"), "corpus_recipe" -> Seq("recipe"), "ann_search" -> Seq("probe"))

  def main(args: Array[String]): Unit = {
    require(args.length == 5, "usage: graftbench.Main <workload> <seed> <seconds> <trace> <run dir>")
    val Array(workload, seedS, secondsS, traceS, runDir) = args
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Paths.get(runDir, "warehouse").toUri.toString)
      .config("spark.local.dir", Paths.get(runDir, "local").toString)
      .config("spark.sql.streaming.checkpointLocation", Paths.get(runDir, "checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tr = new Tracer(spark.sparkContext, traced)
    val ctx = Ctx(spark, seed, seconds, tr, runDir)
    val t0 = Stats.nowS()
    val out = run(workload, ctx)
    val wall = Stats.nowS() - t0

    org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
    // VmHWM swings by a fifth between runs with G1's adaptive sizing,
    // wider than any bound could tolerate: reported, not gated
    val peakRss = Stats.peakRssMb()
    out.notes("peak_rss_mb") = peakRss
    val layers =
      if (!traced) Map.empty[String, Double]
      else out.layers ++ LayerReport.counters(tr, OpRoots(workload)) + ("jvm.peak_rss_mb" -> peakRss)
    if (traced) write(runDir, "spans.json", Stats.json(tr.records()))

    val e2e = out.endToEnd
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> out.attempted, "failed" -> out.failed, "failures" -> out.failures,
      "metrics" -> (if (traced) layers else e2e),
      "end_to_end" -> e2e, "notes" -> out.notes, "workload_wall_s" -> wall,
      "cores" -> cores, "spark_master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))
    write(runDir, "result.json", Stats.json(result))
    spark.stop()
  }

  private def run(workload: String, ctx: Ctx): Outcome =
    try workload match {
      case "fleet_cycle" => FleetRun.run(ctx)
      case "paced_delivery" => PacedRun.run(ctx)
      case "corpus_recipe" => CorpusRun.run(ctx)
      case "ann_search" => AnnRun.run(ctx)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(1, 1, Seq(s"workload aborted: $e"), Map.empty, Map.empty,
          mutable.LinkedHashMap.empty)
    }

  private def write(dir: String, name: String, text: String): Unit =
    Files.write(Paths.get(dir, name), text.getBytes(StandardCharsets.UTF_8))
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, tr: Tracer, runDir: String)

/** Closed-loop drivers shared by the workloads. */
object Loop {

  /** Run `op` back to back until `seconds` have passed; returns each
    * successful op's latency in ms, the failures and the wall seconds
    * from the first start to the last end. */
  def closed(seconds: Double)(op: => Unit): (Seq[Double], Seq[String], Double) = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val fails = mutable.ArrayBuffer.empty[String]
    val t0 = Stats.nowS()
    while (Stats.nowS() - t0 < seconds) {
      val s = Stats.nowS()
      try { op; lat += (Stats.nowS() - s) * 1e3 }
      catch { case e: Exception => fails += e.toString }
    }
    (lat.toSeq, fails.toSeq, Stats.nowS() - t0)
  }

  /** Traced run: one untraced op to warm the JVM up (the first op of a
    * run compiles most of what the others reuse), then alternate a
    * traced and an untraced op until `seconds` have passed; returns both
    * latency samples (ms), the failures and the number of ops attempted. */
  def paired(seconds: Double)(plain: => Unit)(traced: => Unit)
      : (Seq[Double], Seq[Double], Seq[String], Int) = {
    val a = mutable.ArrayBuffer.empty[Double]
    val b = mutable.ArrayBuffer.empty[Double]
    val fails = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def timed(buf: mutable.ArrayBuffer[Double], op: () => Unit): Unit = {
      attempted += 1
      val s = Stats.nowS()
      try { op(); buf += (Stats.nowS() - s) * 1e3 }
      catch { case e: Exception => fails += e.toString }
    }
    timed(mutable.ArrayBuffer.empty, () => plain)
    val t0 = Stats.nowS()
    while (Stats.nowS() - t0 < seconds || a.isEmpty) {
      timed(b, () => traced)
      timed(a, () => plain)
    }
    (a.toSeq, b.toSeq, fails.toSeq, attempted)
  }

  /** How often a run repeats its set-up; `setup_s` is the median. A
    * set-up that costs about a second repeats more, since its first
    * repeats are still compiling. */
  val SetupRepeats = 3
  val CheapSetupRepeats = 5

  /** Wall seconds of each of `repeats` repetitions of a set-up step,
    * recorded in `notes`; returns their median. */
  def setup(notes: mutable.Map[String, Any], repeats: Int = SetupRepeats)(body: => Unit): Double = {
    val times = (1 to repeats).map(_ => Stats.timed(body)._1)
    notes("setup_repeats_s") = times
    Stats.median(times)
  }
}
