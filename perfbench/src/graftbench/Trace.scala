package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. Times are wall-clock milliseconds. */
final class Span(val id: Long, val name: String, val parent: Long,
    val traceId: Long, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  def durMs: Double = endMs - startMs
  /** The layer a span belongs to: its name up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work attributed to one span: every job started under the
  * span's job group, and every task of those jobs' stages. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var gcMs = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Longest task ÷ median task in the stage with the most task time. */
  def taskSkew: Double =
    if (taskMsByStage.isEmpty) 0.0
    else {
      val ds = taskMsByStage.values.maxBy(_.sum).map(_.toDouble).toSeq
      val med = Stats.median(ds)
      if (med <= 0.0) 0.0 else ds.max / med
    }

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs
    schedDelayMs += o.schedDelayMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; gcMs += o.gcMs
    o.taskMsByStage.foreach { case (s, d) =>
      taskMsByStage.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= d }
  }
}

/**
 * Span recorder for the traced run. A span is opened around a call into
 * one of the program's public functions; while it is open, the calling
 * thread's Spark job group names the span, so a listener can attribute
 * jobs, tasks and task metrics to it. Spans stay in memory and are
 * written out once, when the run ends. With `enabled = false` every
 * method is a pass-through, so the timed run pays nothing.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val GroupPrefix = "graftbench-span-"
  private val JobGroup = "spark.jobGroup.id"
  private val JobDesc = "spark.job.description"
  private val Interrupt = "spark.job.interruptOnCancel"

  private val ids = new AtomicLong(0)
  private val traceIds = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val traceOf = new ThreadLocal[Long] { override def initialValue() = 0L }
  private val counters = TrieMap.empty[Long, Counters]
  private val stageSpan = TrieMap.empty[Int, Long]
  private val jobs = new AtomicLong(0)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val group = Option(j.properties).flatMap(p => Option(p.getProperty(JobGroup)))
      group.filter(_.startsWith(GroupPrefix))
        .flatMap(_.drop(GroupPrefix.length).toLongOption).foreach { sid =>
        val c = counters.getOrElseUpdate(sid, new Counters)
        c.synchronized(c.jobs += 1)
        j.stageIds.foreach(st => stageSpan.put(st, sid))
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      for (sid <- stageSpan.get(t.stageId); m <- Option(t.taskMetrics)) {
        val c = counters.getOrElseUpdate(sid, new Counters)
        val dur = Option(t.taskInfo).map(_.duration).getOrElse(0L)
        c.synchronized {
          c.tasks += 1
          c.busyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.schedDelayMs += math.max(0L, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.taskMsByStage.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += dur
        }
      }
  })

  /** Spark jobs started so far, in or out of a span (0 when disabled).
    * Listener events arrive late: drain the bus before reading. */
  def jobsSeen: Long = jobs.get()

  private def nowMs(): Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  /** Run `body` as the root span of a fresh trace (one cycle, tick,
    * pass or probe). */
  def trace[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = traceOf.get()
      traceOf.set(traceIds.incrementAndGet())
      try span(name)(body) finally traceOf.set(prev)
    }

  /** Run `body` as a span nested in the thread's current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parents = stack.get()
      val s = new Span(ids.incrementAndGet(), name,
        parents.headOption.map(_.id).getOrElse(0L), traceOf.get(), nowMs())
      spans.add(s)
      val saved = Seq(JobGroup, JobDesc, Interrupt).map(k => k -> sc.getLocalProperty(k))
      sc.setLocalProperty(JobGroup, GroupPrefix + s.id)
      sc.setLocalProperty(JobDesc, name)
      stack.set(s :: parents)
      try body
      finally {
        s.endMs = nowMs()
        stack.set(parents)
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }

  /** Every recorded span, in start order. Call after the listener bus
    * has drained. */
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  def countersOf(s: Span): Counters = counters.getOrElse(s.id, new Counters)

  /** Duration minus the part of it covered by the span's children. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    s.durMs - covered
  }

  /** Spans with self time and counters, as JSON records. */
  def records(): Seq[Map[String, Any]] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val c = countersOf(s)
      Map(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "trace" -> s.traceId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durMs, "self_ms" -> selfMs(s, kids.getOrElse(s.id, Nil)),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_busy_s" -> c.busyMs / 1e3,
        "scheduler_delay_ms" -> c.schedDelayMs.toDouble,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
        "input_bytes" -> c.inputBytes,
        "gc_s" -> c.gcMs / 1e3, "task_skew" -> c.taskSkew)
    }
  }
}

object Tracer {
  /** A tracer that records nothing. */
  def off(sc: SparkContext): Tracer = new Tracer(sc, false)

  // wall-clock anchor for nanoTime-based span times
  private val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}

/** Turns recorded spans into the per-layer metrics of a traced run. */
object LayerReport {
  /** Layers the per-layer metrics cover, named after the program's
    * modules; a workload that never calls a layer reports zeros for it. */
  val Layers: Seq[String] = Seq("generators", "transforms", "dispatch", "sinks",
    "textstats", "dedup", "corpus", "similarity")

  /** For each metric, the median over traces rooted at `root` of the
    * summed self time (ms × `scale` / 1000) of the spans it names. */
  def spanSeconds(tr: Tracer, root: String,
      metrics: Map[String, (Seq[String], Double)]): Map[String, Double] = {
    val recs = tr.records()
    val roots = recs.filter(r => r("name") == root && r("parent") == 0L).map(_("trace"))
    val byTrace = recs.groupBy(_("trace"))
    metrics.map { case (metric, (names, scale)) =>
      val perTrace = roots.map { t =>
        byTrace.getOrElse(t, Nil).filter(r => names.contains(r("name")))
          .map(_("self_ms").asInstanceOf[Double]).sum * scale / 1e3
      }
      metric -> (if (perTrace.isEmpty) 0.0 else Stats.median(perTrace))
    }
  }

  /** Spark counters per layer over the traces rooted at any of `roots`,
    * as a mean per traced operation (a trace rooted at `roots.head`);
    * task skew is the median over the layer's spans. */
  def counters(tr: Tracer, roots: Seq[String]): Map[String, Double] = {
    val spans = tr.all
    def rooted(name: String): Set[Long] =
      spans.filter(s => s.name == name && s.parent == 0L).map(_.traceId).toSet
    val ops = roots.flatMap(rooted).toSet
    val nOps = math.max(1, rooted(roots.head).size)
    Layers.flatMap { layer =>
      val mine = spans.filter(s => s.layer == layer && ops.contains(s.traceId))
      val c = new Counters
      mine.foreach(s => c.add(tr.countersOf(s)))
      val skews = mine.map(s => tr.countersOf(s).taskSkew).filter(_ > 0.0)
      Seq(
        s"$layer.jobs" -> c.jobs.toDouble / nOps,
        s"$layer.tasks" -> c.tasks.toDouble / nOps,
        s"$layer.task_busy_s" -> c.busyMs / 1e3 / nOps,
        s"$layer.scheduler_delay_ms" -> c.schedDelayMs.toDouble / nOps,
        s"$layer.shuffle_bytes" -> c.shuffleBytes.toDouble / nOps,
        s"$layer.spill_bytes" -> c.spillBytes.toDouble / nOps,
        s"$layer.gc_s" -> c.gcMs / 1e3 / nOps,
        s"$layer.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)))
    }.toMap
  }

  /** Tracing overhead: median traced op minus median untraced op. */
  def overhead(plainMs: Seq[Double], tracedMs: Seq[Double]): Map[String, Double] = Map(
    "trace.untraced_op_ms" -> Stats.median(plainMs),
    "trace.traced_op_ms" -> Stats.median(tracedMs),
    "trace.overhead_ms" -> (Stats.median(tracedMs) - Stats.median(plainMs)))
}
