package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.Similarity

/**
 * `ann_search`: top-k similarity search over a persisted IVF index.
 * The corpus is `NumVectors` seeded Gaussian-mixture embeddings of
 * `Dims` dimensions (the shape of the `embeddings.parquet` fixture) around
 * `Clusters` centres. Set-up draws the corpus and builds a fresh index
 * with `Similarity.ensureIvfIndex` (16 centroids, 3 Lloyd iterations);
 * the loop is one client making `ivfProbeTopK(k = 10)` queries back to
 * back, each collected to the driver. Recall against `bruteForceTopK` is
 * measured after the loop, outside the timing.
 */
object AnnRun {
  val NumVectors = 1000
  val Dims = 64
  val Clusters = 16
  val Centroids = 16
  val Iters = 3
  val K = 10
  val QueryPool = 64

  /** Corpus rows `(vec_id, embedding)` and a pool of query vectors, both
    * drawn from `seed` around the same mixture centres. */
  def draw(seed: Long): (Seq[(Long, Seq[Double])], Seq[Seq[Double]]) = {
    val r = new java.util.Random(seed)
    val centres = Seq.fill(Clusters)(Seq.fill(Dims)(r.nextGaussian() * 3.0))
    def near(c: Seq[Double]): Seq[Double] = c.map(_ + r.nextGaussian())
    val corpus = (0 until NumVectors).map(i => (i.toLong, near(centres(r.nextInt(Clusters)))))
    val queries = Seq.fill(QueryPool)(near(centres(r.nextInt(Clusters))))
    (corpus, queries)
  }

  private val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))
  private val QuerySchema = StructType(Seq(StructField("query_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  def queryFrame(spark: SparkSession, qs: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(qs.map { case (i, v) => Row(i, v) }, 1),
      QuerySchema)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val notes = mutable.LinkedHashMap[String, Any]("vectors" -> NumVectors, "dims" -> Dims)
    var corpus: DataFrame = null
    var pool: Seq[Seq[Double]] = Nil
    var builds = 0
    def name: String = s"ann_s${c.seed}_$builds"
    // every build gets a fresh index name: ensureIvfIndex attaches to
    // a complete index of the same name instead of building it
    val setupS = Loop.setup(notes) {
      val (rows, qs) = draw(c.seed)
      pool = qs
      corpus = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (i, v) => Row(i, v) }, spark.sparkContext.defaultParallelism), VecSchema)
        .localCheckpoint()
      builds += 1
      Similarity.ensureIvfIndex(corpus, name, Centroids, Iters)
    }
    val fails = mutable.ArrayBuffer.empty[String]
    val answers = mutable.LinkedHashMap.empty[Long, Seq[Long]]
    var next = 0L
    def query(): (Long, DataFrame) = {
      val qid = next
      next += 1
      (qid, queryFrame(spark, Seq(qid -> pool((qid % QueryPool).toInt))))
    }
    def checked(qid: Long, ids: Seq[Long]): Unit = {
      val p = Seq(
        if (ids.length != K) Some(s"query $qid: ${ids.length} neighbours, want $K") else None,
        if (ids.distinct.length != ids.length) Some(s"query $qid: repeated neighbour ids") else None,
        ids.find(i => i < 0 || i >= NumVectors).map(i => s"query $qid: neighbour $i is not in the corpus")
      ).flatten
      if (p.nonEmpty) { fails ++= p; throw new IllegalStateException(p.head) }
      answers(qid % QueryPool) = ids
    }
    def neighbours(df: DataFrame): Seq[Long] =
      df.orderBy(col("rank")).select(col("neighbor_id")).collect().map(_.getLong(0)).toSeq
    def probe(): Unit = {
      val (qid, q) = query()
      checked(qid, neighbours(Similarity.ivfProbeTopK(spark, name, q, K)))
    }

    if (!c.tr.enabled) {
      // one untimed probe: the first compiles the probe plan's code
      probe()
      val (lat, opFails, wall) = Loop.closed(c.seconds)(probe())
      notes("queries") = lat.length
      notes("recall_at_10") = recall(spark, corpus, pool, answers)
      Outcome(1 + lat.length + opFails.length, opFails.length, (fails ++ opFails).distinct.toSeq, Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> lat.length / wall,
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p90_ms" -> Stats.pct(lat, 0.9)), Map.empty, notes)
    } else {
      val tr = c.tr
      val s = new Samples
      // one traced build of a fresh index, with the centroid training
      // (the build's first step) timed again on its own
      tr.trace("build") {
        tr.span("similarity.train") { Similarity.trainIvfCentroids(corpus, Centroids, Iters) }
        builds += 1
        tr.span("similarity.build") { Similarity.ensureIvfIndex(corpus, name, Centroids, Iters) }
      }
      val cells = spark.table(s"${name}_assign").groupBy("cid").count().collect().map(_.getLong(1))
      s.add("similarity.cell_balance", cells.max * cells.length.toDouble / cells.sum)
      def tracedProbe(): Unit = tr.trace("probe") {
        val (qid, q) = query()
        val df = tr.span("similarity.probe_call") { Similarity.ivfProbeTopK(spark, name, q, K) }
        tr.span("similarity.probe_plan") { df.queryExecution.executedPlan }
        checked(qid, tr.span("similarity.probe_exec") { neighbours(df) })
      }
      val (plain, traced, opFails, attempted) = Loop.paired(c.seconds)(probe())(tracedProbe())
      s.add("similarity.recall_at_10", recall(spark, corpus, pool, answers))
      val build = tr.all.filter(_.name == "similarity.build")
      val probes = tr.all.filter(sp => sp.name.startsWith("similarity.probe_"))
      val nProbes = math.max(1, traced.length)
      val layers = s.medians ++ LayerReport.spanSeconds(tr, "build", Map(
        "similarity.train_s" -> (Seq("similarity.train"), 1.0),
        "similarity.build_s" -> (Seq("similarity.build"), 1.0))) ++
        LayerReport.spanSeconds(tr, "probe", Map(
          "similarity.probe_plan_ms" -> (Seq("similarity.probe_plan"), 1e3))) ++ Map(
        "similarity.build_jobs" -> build.map(tr.countersOf(_).jobs).sum.toDouble,
        "similarity.probe_jobs" -> probes.map(tr.countersOf(_).jobs).sum.toDouble / nProbes,
        "similarity.probe_bytes_read" -> probes.map(tr.countersOf(_).inputBytes).sum.toDouble / nProbes) ++
        LayerReport.overhead(plain, traced)
      Outcome(attempted, opFails.length,
        (fails ++ opFails).distinct.toSeq, Map.empty, layers, notes)
    }
  }

  /** Mean share of the exact top-k (`bruteForceTopK`) that the probes
    * returned, over the pool queries the run asked. */
  def recall(spark: SparkSession, corpus: DataFrame, pool: Seq[Seq[Double]],
      answers: collection.Map[Long, Seq[Long]]): Double = {
    if (answers.isEmpty) return 0.0
    val qs = answers.keys.toSeq.sorted.map(i => i -> pool(i.toInt))
    val exact = Similarity.bruteForceTopK(corpus, queryFrame(spark, qs), K).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    qs.map { case (q, _) =>
      answers(q).count(exact.getOrElse(q, Set.empty[Long])).toDouble / K
    }.sum / qs.length
  }
}
