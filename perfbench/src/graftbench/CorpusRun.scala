package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Corpus, Dedup, Recipe, TextStats}

/**
 * Synthetic pretraining corpus drawn from a seed. Tokens come from the
 * pool of the sf0.1 `documents` fixture (its 30 words, copied here so
 * the benchmark reads nothing outside its checkout). Stated shares of
 * the documents are exact duplicates of a base document, near
 * duplicates (a base document with a few token substitutions), leaks
 * (a base document holding a verbatim 8-token window of a held-out
 * benchmark document) and too-short documents the quality filter drops,
 * over five languages.
 */
final case class SynthCorpus(docs: Seq[(Long, String, String)], bench: Seq[(Long, String)],
    exactGroups: Seq[Seq[Long]], nearDups: Seq[Long], leaks: Seq[Long])

object SynthCorpus {
  val Tokens: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  /** Language shares of the sf0.1 fixture. */
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "fr" -> 0.15, "es" -> 0.15)
  val NumDocs = 400
  val NumBench = 20
  val ExactShare = 0.10
  val NearShare = 0.10
  val LeakShare = 0.05
  val ShortShare = 0.03
  val Window = 8

  def draw(seed: Long): SynthCorpus = {
    val n = NumDocs
    val r = new java.util.Random(seed)
    def words(k: Int): Seq[String] = Seq.fill(k)(Tokens(r.nextInt(Tokens.length)))
    def lang(): String = {
      var u = r.nextDouble()
      Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
    }
    val bench = (0 until NumBench).map(i => (1000000L + i, words(40 + r.nextInt(40)).mkString(" ")))
    val nExact = (n * ExactShare).toInt
    val nNear = (n * NearShare).toInt
    val nLeak = (n * LeakShare).toInt
    val nShort = (n * ShortShare).toInt
    val nBase = n - nExact - nNear - nLeak - nShort
    val base = (0 until nBase).map(i => (i.toLong, lang(), words(10 + r.nextInt(91))))
    var id = nBase.toLong
    def next(): Long = { id += 1; id - 1 }
    val groups = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val exact = (0 until nExact).map { _ =>
      val b = base(r.nextInt(nBase))
      val d = next()
      groups.getOrElseUpdate(b._1, mutable.ArrayBuffer(b._1)) += d
      (d, b._2, b._3)
    }
    val near = (0 until nNear).map { _ =>
      val b = base(r.nextInt(nBase))
      val w = b._3.toArray
      (0 until 3).foreach(_ => w(r.nextInt(w.length)) = Tokens(r.nextInt(Tokens.length)))
      (next(), b._2, w.toSeq)
    }
    // fresh text around the window, so a leak is not also a near
    // duplicate that dedup would drop before decontamination sees it
    val leak = (0 until nLeak).map { _ =>
      val text = words(10 + r.nextInt(91))
      val src = bench(r.nextInt(bench.length))._2.split(" ")
      val at = r.nextInt(src.length - Window + 1)
      val cut = r.nextInt(text.length + 1)
      (next(), lang(), text.take(cut) ++ src.slice(at, at + Window) ++ text.drop(cut))
    }
    val short = (0 until nShort).map(_ => (next(), lang(), words(1 + r.nextInt(4))))
    val all = (base ++ exact ++ near ++ leak ++ short).map { case (i, l, w) => (i, l, w.mkString(" ")) }
    SynthCorpus(all, bench, groups.values.map(_.toSeq).toSeq, near.map(_._1), leak.map(_._1))
  }
}

/**
 * `corpus_recipe`: closed loop, one client. Each pass runs
 * `Recipe.run` with the parameters of the `x_recipe_e2e` query over
 * the synthetic corpus and collects the packed output. TextStats, Dedup
 * and Corpus do all the work; blueprint generation does none.
 */
object CorpusRun {
  /** Mixture weights, capacity and bucket count of `x_recipe_e2e`. */
  val MixWeights: Map[String, Double] = Map("en" -> 5.0, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0, "zh" -> 2.0)
  val Capacity = 256L
  val Buckets = 64
  val MinJaccard = 0.3

  private def frames(spark: SparkSession, sc: SynthCorpus): (DataFrame, DataFrame) = {
    val cores = spark.sparkContext.defaultParallelism
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(
        sc.docs.map { case (i, l, t) => Row(i, l, t) }, cores),
      StructType(Seq(StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))).localCheckpoint()
    val bench = spark.createDataFrame(spark.sparkContext.parallelize(
        sc.bench.map { case (i, t) => Row(i, t) }, 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .localCheckpoint()
    (docs, bench)
  }

  private def recipe(docs: DataFrame, bench: DataFrame, seed: Long): DataFrame =
    Recipe.run(docs, bench, MixWeights, seed, TextStats.bpeishTokenCount(col("text")),
      capacity = Capacity, minJaccard = MinJaccard, buckets = Buckets)

  /** Output checks: returns the problems found in one pass's rows
    * `(doc_id, n_tokens, ord, start_tok, pack_id, pack_span)`. */
  def check(sc: SynthCorpus, out: Seq[Row]): Seq[String] = {
    val ids = out.map(_.getLong(0))
    val input = sc.docs.map(_._1).toSet
    val survivors = ids.toSet
    val problems = mutable.ArrayBuffer.empty[String]
    if (ids.distinct.length != ids.length) problems += "a document is packed twice"
    ids.filterNot(input).headOption.foreach(i => problems += s"output id $i is not an input id")
    sc.exactGroups.filter(g => g.count(survivors) > 1).headOption.foreach(g =>
      problems += s"exact-duplicate group $g has ${g.count(survivors)} survivors")
    sc.leaks.find(survivors).foreach(i => problems += s"leak $i survived")
    packTokens(out).find(_._2 > Capacity).foreach { case (p, n) =>
      problems += s"pack $p holds $n tokens > $Capacity" }
    problems.toSeq
  }

  /** Tokens each pack holds: a document's token span intersected with
    * every pack it straddles. */
  def packTokens(out: Seq[Row]): Map[Long, Long] = {
    val m = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    out.foreach { r =>
      val (n, start, pack, span) = (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
      (pack until pack + span).foreach { p =>
        val lo = math.max(start, p * Capacity)
        val hi = math.min(start + n, (p + 1) * Capacity)
        m(p) += math.max(0L, hi - lo)
      }
    }
    m.toMap
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val notes = mutable.LinkedHashMap.empty[String, Any]
    var sc: SynthCorpus = null
    var docs: DataFrame = null
    var bench: DataFrame = null
    val setupS = Loop.setup(notes, Loop.CheapSetupRepeats) {
      sc = SynthCorpus.draw(c.seed)
      val f = frames(spark, sc)
      docs = f._1; bench = f._2
    }
    notes("docs") = sc.docs.length
    val fails = mutable.ArrayBuffer.empty[String]
    def pass(): Unit = {
      val out = recipe(docs, bench, c.seed).collect().toSeq
      val p = check(sc, out)
      if (p.nonEmpty) { fails ++= p; throw new IllegalStateException(p.head) }
      val survivors = out.map(_.getLong(0)).toSet
      notes("near_dups_dropped_frac") = sc.nearDups.count(i => !survivors(i)).toDouble / sc.nearDups.length
    }
    if (!c.tr.enabled) {
      val (lat, opFails, wall) = Loop.closed(c.seconds)(pass())
      notes("passes") = lat.length
      Outcome(lat.length + opFails.length, opFails.length, (fails ++ opFails).distinct.toSeq, Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> sc.docs.length.toDouble * lat.length / wall,
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p90_ms" -> Stats.pct(lat, 0.9)), Map.empty, notes)
    } else {
      val s = new Samples
      val (plain, traced, opFails, attempted) = Loop.paired(c.seconds)(pass())(tracedPass(c, sc, docs, bench, s))
      // candidate yield, outside the recipe traces: the same quality
      // survivors through the minhash estimator
      val q = TextStats.qualityFacets(docs.select("doc_id", "lang", "text"))
        .where(col("quality_bucket") =!= "poor").select("doc_id", "text")
      val est = Dedup.minhashEstimates(q).agg(count(lit(1)),
        sum(when(col("jaccard") >= MinJaccard, 1L).otherwise(0L))).head()
      s.add("dedup.candidate_pairs", est.getLong(0).toDouble)
      s.add("dedup.verify_yield", est.getLong(1).toDouble / math.max(1L, est.getLong(0)))
      val layers = s.medians ++ LayerReport.spanSeconds(c.tr, "recipe", Map(
        "textstats.quality_s" -> (Seq("textstats.quality"), 1.0),
        "dedup.near_dup_s" -> (Seq("dedup.near_dup"), 1.0),
        "dedup.apply_s" -> (Seq("dedup.apply"), 1.0),
        "corpus.decontaminate_s" -> (Seq("corpus.decontaminate"), 1.0),
        "corpus.mix_s" -> (Seq("corpus.mix"), 1.0),
        "corpus.pack_s" -> (Seq("corpus.pack"), 1.0))) ++ LayerReport.overhead(plain, traced)
      Outcome(attempted, opFails.length,
        (fails ++ opFails).distinct.toSeq, Map.empty, layers, notes)
    }
  }

  /** One recipe pass with each stage of `Recipe.run` called in order and
    * forced inside its own span. */
  private def tracedPass(c: Ctx, sc: SynthCorpus, docs: DataFrame, bench: DataFrame,
      s: Samples): Unit = c.tr.trace("recipe") {
    val tr = c.tr
    val base = docs.select(col("doc_id"), col("lang"), col("text"))
    val quality = tr.span("textstats.quality") {
      TextStats.qualityFacets(base, "text").where(col("quality_bucket") =!= "poor")
        .select(col("doc_id"), col("lang"), col("text")).localCheckpoint()
    }
    val nQuality = quality.count()
    s.add("textstats.kept_frac", nQuality.toDouble / sc.docs.length)
    val clusters = tr.span("dedup.near_dup") {
      Dedup.nearDuplicates(quality, "doc_id", "text", minJaccard = MinJaccard).localCheckpoint()
    }
    s.add("dedup.clusters", clusters.select("rep").distinct().count().toDouble)
    val deduped = tr.span("dedup.apply") { Dedup.applyDedup(quality, clusters, "doc_id").localCheckpoint() }
    val clean = tr.span("corpus.decontaminate") {
      val flagged = Corpus.decontaminateSubstring(deduped, bench, SynthCorpus.Window, "doc_id", "text")
        .localCheckpoint()
      s.add("corpus.flagged", flagged.count().toDouble)
      deduped.join(flagged.select(col("doc_id")), Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val mixed = tr.span("corpus.mix") { Corpus.mixTo(clean, "lang", MixWeights, c.seed, "doc_id").localCheckpoint() }
    val out = tr.span("corpus.pack") {
      Corpus.packChunks(mixed, Capacity, c.seed, TextStats.bpeishTokenCount(col("text")),
        "doc_id", Buckets).collect().toSeq
    }
    val packs = packTokens(out)
    s.add("corpus.pack_fill", packs.values.sum.toDouble / (packs.size * Capacity))
    val p = check(sc, out)
    if (p.nonEmpty) throw new IllegalStateException(s"traced pass: ${p.head}")
  }
}
