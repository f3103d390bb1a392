package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.SkewUtils
import graft.ext.Similarity
import graft.streaming.PacedRunner

/** Scale/streaming additions: salted joins, IVF ANN, at-most-once
  * delivery, typed API edge. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join ≡ plain join (inner), including duplicate keys") {
    val big = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (1L, "e"))
      .toDF("k", "payload")
    val small = Seq((1L, "x"), (2L, "y"), (4L, "z")).toDF("k", "tag")
    val plain = big.join(small, Seq("k")).orderBy("k", "payload")
    val salted = SkewUtils.saltedJoin(big, small, Seq("k"), buckets = 4)
      .orderBy("k", "payload")
    salted.columns.toSeq shouldBe plain.columns.toSeq
    salted.collect().toSeq shouldBe plain.collect().toSeq
  }

  test("hot/cold salted join ≡ plain join; replication confined to the hot slice") {
    val big = (0L until 400L).map(i => (i % 20, s"p$i")).toDF("k", "payload")
    val small = (0L until 25L).map(i => (i, s"t$i")).toDF("k", "tag")
    // declare keys 0 and 7 hot; 19 appears only on the big side, 20-24
    // only on the small side — all edges must survive the split
    val hot = Seq(0L, 7L, 24L).toDF("k")
    for (joinType <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("k"), joinType)
        .orderBy("k", "payload")
      val split = SkewUtils.saltedJoinHotCold(big, small, Seq("k"),
          buckets = 4, hotKeys = hot, joinType = joinType)
        .orderBy("k", "payload")
      withClue(joinType) {
        split.columns.toSeq shouldBe plain.columns.toSeq
        split.collect().toSeq shouldBe plain.collect().toSeq
      }
    }
    // the hot-key split is a broadcast (never a shuffled join of the
    // big side against the key list)
    val plan = SkewUtils.saltedJoinHotCold(big, small, Seq("k"),
      buckets = 4, hotKeys = hot).queryExecution.executedPlan.toString
    "BroadcastHashJoin.*LeftSemi".r.findAllIn(plan).size should be >= 1
    "BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).size shouldBe 1
    // unsupported join types fail fast, naming THIS entry point, before
    // the semi/anti splits plan anything
    val err = the[IllegalArgumentException] thrownBy
      SkewUtils.saltedJoinHotCold(big, small, Seq("k"),
        buckets = 4, hotKeys = hot, joinType = "full_outer")
    err.getMessage should include("saltedJoinHotCold")
    // detection closes the loop: hotKeys finds the planted 40% key and
    // its output frame IS the hotKeys parameter shape
    val skewed = (0L until 500L)
      .map(i => (if (i < 200) 0L else i % 50 + 1, i)).toDF("k", "v")
    val detected = SkewUtils.hotKeys(skewed, Seq("k"), minShare = 0.2)
    detected.collect().map(_.getLong(0)).toSeq shouldBe Seq(0L)
    val viaDetected = SkewUtils.saltedJoinHotCold(skewed, small, Seq("k"),
        buckets = 4, hotKeys = detected)
      .orderBy("k", "v").collect().toSeq
    viaDetected shouldBe skewed.join(small, Seq("k")).orderBy("k", "v")
      .collect().toSeq
  }

  test("bloom-pruned join ≡ plain join; filter actually prunes non-keys") {
    // range-backed fact side: a local Seq would let
    // ConvertToLocalRelation fold the probe away at plan time, hiding
    // the expression the plan assertions below pin
    val fact = spark.range(0L, 1000L)
      .select($"id".as("fk"), concat(lit("p"), $"id").as("payload"))
    val dim = Seq((10L, "x"), (500L, "y"), (999L, "z")).toDF("dk", "tag")
    val plain = fact.join(dim, $"fk" === $"dk").orderBy("fk")
    val bloomed = SkewUtils.bloomPrunedJoin(fact, dim, "fk", "dk",
      expectedKeys = 10L, fpp = 0.01).orderBy("fk")
    bloomed.collect().toSeq shouldBe plain.collect().toSeq
    // the probe is the codegen'd might_contain expression, not a
    // boxing per-row Scala UDF
    val plan = bloomed.queryExecution.executedPlan.toString
    plan should not include "ScalaUDF"
    plan.toLowerCase should include("might_contain")
    // the pre-filter must cut the fact side to ~|dim| (+ fp slack),
    // otherwise the "reduction" shuffles everything anyway — probe the
    // same hashed-key filter the operator builds
    val bf = dim.select(xxhash64($"dk".cast("long")).as("h"))
      .stat.bloomFilter("h", 10L, 0.01)
    val kept = fact.where(udf { (k: Long) => bf.mightContainLong(k) }
      .apply(xxhash64($"fk".cast("long")))).count()
    kept should be < 100L
  }

  test("typed top-k aggregator: window-rank equivalence, ties, small groups, any partitioning") {
    import graft.operators.TopK
    val rows = Seq(
      ("a", 5.0, 1L), ("a", 9.0, 2L), ("a", 9.0, 3L), ("a", 1.0, 4L), ("a", 7.0, 5L),
      ("b", 2.0, 6L), ("b", 2.0, 7L), // tie on score -> id asc
      ("c", 3.0, 8L))                 // group smaller than k
    for (parts <- Seq(1, 3, 7)) {
      val df = rows.toDF("g", "score", "id").repartition(parts)
      val got = TopK.perGroup(df, "g", "score", "id", k = 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      got shouldBe Seq(
        ("a", 1, 9.0, 2L), ("a", 2, 9.0, 3L), ("a", 3, 7.0, 5L),
        ("b", 1, 2.0, 6L), ("b", 2, 2.0, 7L),
        ("c", 1, 3.0, 8L))
    }
    // NaN ranks FIRST — Spark's ORDER BY score DESC treats NaN as
    // greater than any double, and the aggregator must agree
    val withNaN = Seq(("n", Double.NaN, 1L), ("n", 99.0, 2L),
      ("n", Double.PositiveInfinity, 3L)).toDF("g", "score", "id")
    val nanTop = TopK.perGroup(withNaN, "g", "score", "id", k = 2)
      .orderBy("rank").collect().map(_.getLong(3)).toSeq
    nanTop shouldBe Seq(1L, 3L) // NaN, then +Inf
    // ±0.0 are EQUAL under Spark's ORDER BY (NormalizeFloatingNumbers);
    // ties must break by id asc, not by sign bit
    val zeros = Seq(("z", 0.0, 2L), ("z", -0.0, 1L), ("z", -1.0, 3L))
      .toDF("g", "score", "id")
    val zeroTop = TopK.perGroup(zeros, "g", "score", "id", k = 2)
      .orderBy("rank").collect().map(_.getLong(3)).toSeq
    zeroTop shouldBe Seq(1L, 2L) // -0.0@1 ties +0.0@2 -> id asc
  }

  test("bloom-pruned join supports string keys without a silent numeric cast") {
    val fact = (0 until 500).map(i => (s"key$i", i)).toDF("fk", "payload")
    val dim = Seq(("key7", "x"), ("key300", "y")).toDF("dk", "tag")
    val plain = fact.join(dim, $"fk" === $"dk").orderBy("fk")
    val bloomed = SkewUtils.bloomPrunedJoin(fact, dim, "fk", "dk",
      expectedKeys = 10L, fpp = 0.01).orderBy("fk")
    bloomed.collect().toSeq shouldBe plain.collect().toSeq
    // mixed categories are rejected up front instead of mis-probing
    an[IllegalArgumentException] should be thrownBy
      SkewUtils.bloomPrunedJoin(fact, dim.select($"dk".cast("double").as("dk"), $"tag"),
        "fk", "dk", expectedKeys = 10L)
  }

  test("salted collect_list preserves the multiset per key") {
    val df = (1 to 100).map(i => (i % 3, i)).toDF("k", "v")
    val out = SkewUtils.saltedCollectList(df, Seq("k"), "v", buckets = 5)
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).sorted).toMap
    out(0) shouldBe (3 to 99 by 3)
    out(1) shouldBe (1 to 100 by 3)
    out(2) shouldBe (2 to 98 by 3)
  }

  test("LSH top-k recall is high on clustered vectors (low on noise is expected)") {
    import graft.ext.Similarity
    // 20 well-separated cluster centers, 10 tight members each: the
    // regime LSH exists for. Deterministic construction.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(64)(rnd.nextGaussian() * 5.0))
    val rows = for {
      c <- centers.indices
      m <- 0 until 10
    } yield (c.toLong * 10 + m,
      centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
    val lsh = Similarity.lshTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
    val hits = bf.join(lsh, Seq("query_id", "neighbor_id")).count()
    val total = bf.count()
    total shouldBe 100L // 20 queries × 5
    // same-cluster members collide in every hyperplane table with high
    // probability; demand strong (not perfect) recall
    hits.toDouble / total should be >= 0.9
  }

  test("IVF top-k: self-match at rank 1, deterministic across runs") {
    val vecs = (0L until 100L).map { i =>
      val r = new java.util.Random(i)
      (i, Array.fill(16)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.ivfTopK(vecs, queries, k = 3, nCentroids = 8,
      nProbe = 3, iters = 2)
    val top1 = out.where($"rank" === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
    top1.length shouldBe 4
    top1.foreach { case (q, n) => n shouldBe q } // probes must include own cell
    val again = Similarity.ivfTopK(vecs, queries, k = 3, nCentroids = 8,
      nProbe = 3, iters = 2)
    again.orderBy("query_id", "rank").collect().map(_.getLong(1)).toSeq shouldBe
      out.orderBy("query_id", "rank").collect().map(_.getLong(1)).toSeq
  }

  test("at-most-once delivery: claim ledger dedups re-delivered ticks") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-amo").toString
    val slots = Seq((0L, 10L), (1L, 11L), (2L, 12L)).toDF("t", "value")
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val mem = MemoryStream[Long]
    mem.addData(0L, 1L) // before start: AvailableNow snapshots at start
    val q = PacedRunner.startAtMostOnce(spark, slots, 3L, s"$tmp/ledger",
      (tick, _) => { delivered.add(tick); () },
      mem.toDF(), Trigger.AvailableNow())
    q.awaitTermination(60000)
    // second query over the same ledger: tick 1 repeats + new tick 2
    val mem2 = MemoryStream[Long]
    mem2.addData(1L, 2L)
    val q2 = PacedRunner.startAtMostOnce(spark, slots, 3L, s"$tmp/ledger",
      (tick, _) => { delivered.add(tick); () },
      mem2.toDF(), Trigger.AvailableNow())
    q2.awaitTermination(60000)
    delivered.toArray.map(_.asInstanceOf[Long]).sorted.toSeq shouldBe Seq(0L, 1L, 2L)
  }

  test("partitioned parquet: partition pruning reads only the matching directory") {
    val dirPath = java.nio.file.Files.createTempDirectory("graft_part")
    val dir = dirPath.toString
    try {
    Seq(("click", 1L, 1.0), ("view", 2L, 2.0), ("error", 3L, 3.0),
        ("click", 4L, 4.0), ("view", 5L, 5.0))
      .toDF("event_type", "event_id", "value")
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).where($"event_type" === "click")
    pruned.collect().map(_.getAs[Long]("event_id")).sorted shouldBe Array(1L, 4L)
    // the executed plan must carry the partition filter, and the scan's
    // selected partitions must exclude view/error directories
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    scan.partitionFilters.map(_.toString).mkString should include("event_type")
    val parts = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
    parts should not be empty
    all(parts) should include("event_type=click")
    } finally {
      java.nio.file.Files.walk(dirPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
  }

  test("q_partitioned_scan: the driver query's scan prunes to the filtered lang directories") {
    val q = SparkEntry.queries("q_partitioned_scan")(spark, "/root/testdata/sf0.001")
    q.collect().length should be >= 1
    // the aggregate puts the query under AQE: the scan hides behind the
    // AdaptiveSparkPlanExec and its QueryStageExec leaf wrappers, so
    // descend both (finalized by the collect() above)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(q.queryExecution.executedPlan).head
    scan.partitionFilters.map(_.toString).mkString should include("lang")
    val parts = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
    parts should not be empty
    all(parts) should (include("lang=en") or include("lang=zh"))
  }

  test("decontaminateBloom: filter runs below the verify join; tiny saturated filter stays exact") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "totally unrelated words that share no window at all here"),
      (3L, "short doc")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // 64-bit filter with 2 probes saturates fast — false positives are
    // guaranteed in general, and the verify join must erase them
    val bloom = graft.ext.Corpus.decontaminateBloom(docs, bench,
      bits = 64, numProbes = 2)
    val exact = graft.ext.Corpus.decontaminateSubstring(docs, bench)
    bloom.collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      exact.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // the bloom membership test (shiftright on the literal word array)
    // must appear in a Filter BELOW the join — candidates are pruned
    // before any shuffle toward the verify join
    val plan = bloom.queryExecution.optimizedPlan.toString
    val joinIdx = plan.indexOf("Join")
    val filtIdx = plan.indexOf("shiftright")
    joinIdx should be >= 0
    filtIdx should be > joinIdx // below the join = later in the tree dump
  }

  test("q_range_window: the frame is event_type-partitioned — no single-partition window") {
    val q = SparkEntry.queries("q_range_window")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    winLines should not be empty
    winLines.foreach { w =>
      withClue(w) { w should include regex "windowspecdefinition\\(event_type#" }
    }
  }

  test("q5: dims broadcast, single fact-fact shuffle pair on the order key") {
    val q = SparkEntry.queries("q5_local_supplier")(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // customer(+nation+region) and supplier ride broadcasts; only the
    // lineitem⋈orders join shuffles
    plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") should be >= 2
    // every shuffle is either the fact-fact order-key pair or the
    // final n_name aggregation — no dim table ever shuffles
    val shuffles = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    all(shuffles) should (include("l_orderkey") or include("o_orderkey")
      or include("n_name"))
  }

  test("bucketed join plan has no Exchange on either join side") {
    // disable auto-broadcast so the small test tables take the
    // sort-merge path the bucketing is designed for
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = SparkEntry.queries("q_bucketed_join")(spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      // the join reads bucketed tables directly: no shuffle below it
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      joinPart should not include "Exchange hashpartitioning(l_orderkey"
      joinPart should not include "Exchange hashpartitioning(o_orderkey"
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bruteForceTopK: bounded aggregation replaces the per-query window, same output") {
    val corpus = (0L until 60L).map { i =>
      val r = new java.util.Random(i * 7 + 1)
      (i, Array.fill(8)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.bruteForceTopK(corpus, queries, k = 5)
    // scale contract: no window over the scored corpus — ranking goes
    // through the TopK aggregator (partial aggregation before shuffle)
    out.queryExecution.executedPlan.toString should not include "Window"
    // output identical to the window-rank formulation
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select($"vec_id", $"embedding".as("cv"))
    val q = queries.select($"query_id", $"embedding".as("qv"))
    val scored = c.crossJoin(q).withColumn("score",
      Similarity.cosine($"cv", $"qv"))
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"vec_id".asc)
    val ref = scored.withColumn("rank", row_number().over(w))
      .where($"rank" <= 5)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"score", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    out.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet shouldBe ref
  }

  test("packChunks: global rank runs as a per-bucket window, not a global sort") {
    import graft.ext.{Corpus, TextStats}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Corpus.packChunks(docs, capacity = 256L, seed = 42L,
      tokenCount = TextStats.tokenCount($"text"), buckets = 64)
    val plan = out.queryExecution.executedPlan.toString
    // the corpus-side window is partitioned by the bucket column —
    // parallel across buckets, never one task sorting the corpus
    plan should include regex """Window \[[^\]]*row_number[^\]]*\], \[__b"""
    // bucket offsets join back as a broadcast (≤buckets rows)
    plan should include("BroadcastHashJoin")
    // the only single-partition exchange is the ≤buckets-row offset
    // frame's window; the corpus never converges to one partition
    "Exchange SinglePartition".r.findAllIn(plan).size should be <= 1
  }

  test("packSlices: the fan-out is a narrow Generate — no shuffle beyond packChunks") {
    import graft.ext.{Corpus, TextStats}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunks = Corpus.packChunks(docs, capacity = 256L, seed = 42L,
      tokenCount = TextStats.tokenCount($"text"), buckets = 64)
    val slices = Corpus.packSlices(docs, capacity = 256L, seed = 42L,
      tokenCount = TextStats.tokenCount($"text"), buckets = 64)
    val chunkPlan = chunks.queryExecution.executedPlan.toString
    val slicePlan = slices.queryExecution.executedPlan.toString
    // the explode shows up as a Generate...
    slicePlan should include("Generate explode")
    // ...and adds zero exchanges over the packChunks plan: the fan-out
    // runs where the chunk rows already live
    "Exchange".r.findAllIn(slicePlan).size shouldBe
      "Exchange".r.findAllIn(chunkPlan).size
    // slice invariants: per-doc slice token counts sum to n_tokens and
    // every slice fits its pack
    val bad = slices
      .where($"tok_from" < 0 || $"tok_to" > 256 || $"tok_from" > $"tok_to")
      .count()
    bad shouldBe 0L
    val sums = slices.groupBy($"doc_id").agg(sum($"n_slice_tokens").as("s"))
      .join(chunks.select($"doc_id", $"n_tokens"), "doc_id")
      .where($"s" =!= $"n_tokens").count()
    sums shouldBe 0L
  }

  test("minhashSignatures: fused kernel plans a pure projection — no shuffle, no explode") {
    import graft.ext.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 32)
    val plan = out.queryExecution.executedPlan.toString
    // pre-round-9 this was explode + 32 min-aggregations (a full gram
    // Generate and a shuffle of (doc_id, 32 longs)); the fused native
    // expression keeps signatures inside the scan's projection
    plan should not include "Exchange"
    plan should not include "Generate"
    plan.toLowerCase should include("minhashsig")
    // and the projection stays in whole-stage codegen (the `*(n)` span
    // marker), evaluated ONCE in its own Project below the h0..h31
    // element_at fan-out (CollapseProject keeps non-cheap exprs single)
    plan should include("*(1) Project")
    // the md5 simhash got the same surgery: pure projection, no
    // explode, no 60-aggregation shuffle
    val simPlan = Dedup.simhashSignatures(docs)
      .queryExecution.executedPlan.toString
    simPlan should not include "Exchange"
    simPlan should not include "Generate"
    simPlan.toLowerCase should include("simhashmd5")
  }

  test("chunkDocs plans a narrow Generate (no shuffle); bm25 top-k is TakeOrdered") {
    import graft.ext.{Corpus, TextStats}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val chunkPlan = Corpus.chunkDocs(docs, 32, 16)
      .queryExecution.executedPlan.toString
    chunkPlan should include("Generate posexplode")
    chunkPlan should not include "Exchange"
    val bm25Plan = TextStats.bm25TopK(docs, Seq("hash", "join"), k = 10)
      .queryExecution.executedPlan.toString
    // the final top-k never plans a global sort
    bm25Plan should include("TakeOrderedAndProject")
    // the token explode is filtered to the query terms BEFORE any
    // aggregation shuffles it
    bm25Plan.toLowerCase should include("filter")
  }

  test("typed-key overloads: long keys match the string path without string casts") {
    import graft.operators.TopK
    import graft.ext.Sketches
    val df = (0L until 300L).map(i => (i % 7, (i % 13).toDouble, i))
      .toDF("g", "score", "id")
    val viaString = TopK.perGroup(df, "g", "score", "id", 3)
      .orderBy("g", "rank").collect().toSeq
    val viaLong = TopK.perGroupLong(df, "g", "score", "id", 3)
      .orderBy("g", "rank").collect().toSeq
    viaLong shouldBe viaString
    // a string key is rejected, not silently cast-nulled
    an[IllegalArgumentException] should be thrownBy
      TopK.perGroupLong(df.select($"g".cast("string").as("g"), $"score", $"id"),
        "g", "score", "id", 3)
    // sketches: same results on integral keys, long variants en route
    val v = (0L until 500L).map(i => (i % 5, (i % 97).toDouble)).toDF("g", "v")
    Sketches.kmvDistinctLong(v, "g", "v", 32, 42L).orderBy("g").collect().toSeq shouldBe
      Sketches.kmvDistinct(v, "g", "v", 32, 42L).orderBy("g").collect().toSeq
    Sketches.histQuantilesLong(v, "g", "v", 10.0, 16, Seq(0.5, 0.9))
      .orderBy("g").collect().toSeq shouldBe
      Sketches.histQuantiles(v, "g", "v", 10.0, 16, Seq(0.5, 0.9))
        .orderBy("g").collect().toSeq
    // the long path never renders the key as a string
    TopK.perGroupLong(df, "g", "score", "id", 3)
      .queryExecution.executedPlan.toString should not include "as string"
    // NULL integral keys group as one NULL group — same output shape
    // as the string path (boxed key encoding, not a runtime throw)
    val withNull = Seq((Some(1L), 2.0, 10L), (None, 3.0, 11L), (None, 1.0, 12L))
      .toDF("g", "score", "id")
    val nullViaLong = TopK.perGroupLong(withNull, "g", "score", "id", 2)
      .orderBy("rank").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getInt(1), r.getLong(3)))
    val nullViaString = TopK.perGroup(withNull, "g", "score", "id", 2)
      .orderBy("rank").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getInt(1), r.getLong(3)))
    nullViaLong.toSeq.sorted shouldBe nullViaString.toSeq.sorted
    nullViaLong.count(_._1 == -1L) shouldBe 2
    val nullV = Seq((Some(1L), 5.0), (None, 7.0), (None, 7.0), (None, 9.0))
      .toDF("g", "v")
    Sketches.kmvDistinctLong(nullV, "g", "v", 8, 42L).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getDouble(1)))
      .toSeq.sorted shouldBe Seq((-1L, 2.0), (1L, 1.0))
    Sketches.histQuantilesLong(nullV, "g", "v", 1.0, 16, Seq(0.5)).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getDouble(1)))
      .toSeq.sorted shouldBe Seq((-1L, 7.0), (1L, 5.0))
  }

  test("recipe composition adds no redundant exchange: one bucket shuffle, stage reuse, broadcast-only corpus joins") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.ext.Recipe.run(
      d.where($"doc_id" % 50 =!= 0), d.where($"doc_id" % 50 === 0),
      Map("en" -> 5.0, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0, "zh" -> 2.0),
      42L, graft.ext.TextStats.bpeishTokenCount($"text"), buckets = 64)
    val plan = out.queryExecution.executedPlan.toString
    // stage boundaries are materialized once: the packing stage's plan
    // reads ONLY the checkpointed clean corpus, never the parquet scan
    // (without the checkpoints the measured plan re-ran the whole
    // quality+dedup+decontaminate subtree three times)
    plan should not include "FileScan"
    plan should include("Scan ExistingRDD")
    // the only corpus-wide shuffles are packChunks' own two bounded __b
    // exchanges (phase-1 offsets aggregate + phase-2 bucket window) —
    // no stage re-shuffles another stage's output
    "Exchange hashpartitioning\\(__b".r.findAllIn(plan).size shouldBe 2
    // every corpus-side join is broadcast; nothing sort-merges or
    // cartesians the packed corpus
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // exactly the two designed windows: the partition-less one is the
    // ≤buckets-row offsets frame, the partitioned one is per-bucket
    "Window \\[".r.findAllIn(plan).size shouldBe 2
    out.count() should be > 0L
  }

  test("bigramLogProb shuffles only hashed 8-byte keys, never word strings") {
    import graft.ext.TextStats
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextStats.bigramLogProb(docs, docs.where($"doc_id" % 2 === 0))
      .queryExecution.executedPlan.toString
    // every exchange partitions on a derived long key (__k12/__k1/__k2/
    // __kw/doc_id), never on a raw word column
    val exchanges = "hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
    exchanges should not be empty
    exchanges.foreach { e =>
      withClue(e) {
        e should not include "w1#"
        e should not include "w2#"
        e should not include "z."
      }
    }
  }

  test("round-10 operators keep their scale shapes: novelty has no pair join, ppl window is partitioned, semDedup joins on cid") {
    import graft.ext.{Dedup, TextStats}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // ngramNovelty is doc-frequency + rollup: two aggregations over the
    // window rows, one hash-key join back, and NO self-join pair term —
    // the plan must not contain a join of wins against wins on doc
    // inequality (the exactSubstringPairs shape)
    val novPlan = Dedup.ngramNovelty(docs).queryExecution.executedPlan.toString
    novPlan should not include "Cartesian"
    novPlan should not include ("a#")
    // pplBuckets windows per stratum: every window spec carries the
    // source partition — no empty-partition global window anywhere
    val pplPlan = TextStats.pplBuckets(docs, docs.where($"doc_id" % 2 === 0))
      .queryExecution.executedPlan.toString
    val winLines = pplPlan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    winLines should not be empty
    winLines.foreach { w =>
      // windowspecdefinition(partitionSpec, orderSpec, frame): the
      // stratum column must lead the spec — an unpartitioned global
      // window would start with the ordering expression instead
      withClue(w) { w should include regex "windowspecdefinition\\(source#" }
    }
    // gopherRules: every facet is per-document, so the whole rule
    // suite must plan as ONE shuffle-free projection (the fused native
    // gram kernel) — no Exchange, no Generate, no join anywhere
    val gPlan = TextStats.gopherRules(docs).queryExecution.executedPlan.toString
    gPlan should not include "Exchange"
    gPlan should not include "Generate"
    gPlan should not include "Join"
    gPlan should include("gophergramstats")
  }

  test("cms: grid aggregates partially over a constant key space; probe join is broadcast") {
    import graft.ext.Sketches
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(graft.ext.TextStats.tokens($"text")).as("token"))
    // build side: partial count below the exchange — at most
    // depth·width cells per partition cross the shuffle
    val gridPlan = Sketches.cmsGrid(docs, "token", 42L)
      .queryExecution.executedPlan.toString
    gridPlan should include("partial_count")
    // probe side: the bounded grid broadcasts; the probe frame is
    // never shuffled into a sort-merge join
    val hh = Sketches.cmsHeavyHitters(docs, "token", k = 10, seed = 42L)
    val plan = hh.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("selectToBudget: banded two-phase prefix sum — bounded offsets window, per-band ranking, no global sort") {
    import graft.ext.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", (xxhash64($"doc_id") % 1000).as("p"),
        (($"doc_id" % 50) + 1).as("n"))
    val plan = Corpus.selectToBudget(docs, $"p", $"n", budget = 1000L,
        bandWidth = 100L).queryExecution.executedPlan.toString
    // ONE window, and it is partitioned by band (parallel across
    // bands); the band-offsets frame is computed driver-side over the
    // ≤2·maxBands+1-row band aggregate (bounded by construction) and
    // joins back as a broadcast local relation — no partition-less
    // window anywhere in the plan
    val winSpecs = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    winSpecs should not be empty
    winSpecs.count(_.contains("windowspecdefinition(__band#")) shouldBe winSpecs.size
    // the offsets frame joins back as a broadcast; nothing sort-merges
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    // no global ORDER BY over the data-sized frame
    "rangepartitioning\\([^)]*__p9".r.findAllIn(plan).toSeq shouldBe empty
  }

  test("selectToBudget band-skew guard: a one-band tie flood ranks in parallel sub-bands, exactly") {
    import graft.ext.Corpus
    // pathological occupancy: 4000 docs, ALL the same priority (one
    // band, one value) plus a handful of outliers — the shape that
    // would single-partition the in-band sort without the guard
    val flood = (0L until 4000L).map(i => (i, 500L, (i % 7) + 1))
    val outliers = Seq((9000L, 2500L, 10L), (9001L, -300L, 10L))
    val docs = (flood ++ outliers).toDF("doc_id", "p", "n")
    val out = Corpus.selectToBudget(docs, $"p", $"n", budget = 600L,
      bandWidth = 100L, splitBandRows = 256L, idBandWidth = 64L)
    // exact reference: global greedy by (p desc, id) with inclusive sum
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"p".desc, $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ref = docs.withColumn("cum", sum($"n").over(w))
      .where($"cum" <= 600L).select("doc_id").collect().map(_.getLong(0)).toSet
    out.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe ref
    // the ranking window is partitioned by (band, value, id-band) —
    // the flood's 4000 rows rank across ~63 parallel sub-band groups,
    // and no window in the plan is partition-less over the data frame
    val plan = out.queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("windowspecdefinition(__band#"))
      .exists(_.contains("__idb#")) shouldBe true
    // occupancy diagnostic reports the flood band
    val occ = Corpus.bandOccupancy(docs, $"p", $"n", bandWidth = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    occ(5L) shouldBe 4000L
  }

  test("semDedup cell cap: overflowing cells keep all members; sizing rule scales centroids") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // cap below every cell size (16 cells over the corpus): no pairs
    // can generate, so EVERY vector is kept — under-dedup, never a
    // quadratic join
    val capped = Similarity.semDedup(emb, threshold = 0.2, maxCellSize = 1)
    capped.where(!$"kept").count() shouldBe 0L
    // ... and the guard plans as a broadcast anti-join
    val plan = capped.queryExecution.executedPlan.toString
    "BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).size should be >= 1
    // with the cap above the cell sizes the result equals the uncapped run
    val un = Similarity.semDedup(emb, threshold = 0.2,
        maxCellSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    Similarity.semDedup(emb, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet shouldBe un
    // overflow diagnostic names every cell at cap 1; empty at the default
    Similarity.semDedupCellOverflow(emb, maxCellSize = 1)
      .count() should be > 0L
    Similarity.semDedupCellOverflow(emb).count() shouldBe 0L
    // the sizing rule: cells ≈ targetCellSize members each
    Similarity.semDedupCentroids(1000000L, 1024) shouldBe 977
    Similarity.semDedupCentroids(100L, 1024) shouldBe 1
  }

  test("shuffleShards: every window is shard-partitioned — no global sort anywhere") {
    import graft.ext.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Corpus.shuffleShards(docs, nShards = 16, seed = 42L)
      .queryExecution.executedPlan.toString
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    winLines should not be empty
    winLines.foreach { w =>
      withClue(w) { w should include regex "windowspecdefinition\\(shard#" }
    }
    plan should not include "rangepartitioning"  // no global ORDER BY
  }

  test("curriculumOrder: corpus window is (bucket, shard)-partitioned; only the bounded offsets frame is single-partition") {
    import graft.ext.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Corpus.curriculumOrder(docs,
        (col("doc_id") % 3).cast("int"), nShards = 8, seed = 42L)
      .queryExecution.executedPlan.toString
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    winLines should not be empty
    val (partitioned, global) =
      winLines.partition(_.contains("windowspecdefinition(bucket_rank#"))
    partitioned should not be empty // the corpus-sized rank
    // the lone unpartitioned window runs over the |buckets|·nShards
    // counts frame, never corpus rows
    global.length should be <= 1
    plan should not include "rangepartitioning" // no global ORDER BY
  }

  test("Recipe.curate: composed manifest matches stagewise composition; no global sort") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = d.where($"doc_id" % 50 =!= 0)
    val bench = d.where($"doc_id" % 50 === 0)
    val out = graft.ext.Recipe.curate(docs, bench, nShards = 8, seed = 42L)
    // stagewise composition with the standalone operators
    val winners = graft.ext.Dedup.exactKeepBest(docs,
      org.apache.spark.sql.functions.length($"text").cast("long"))
    val deduped = docs.join(winners.select($"keep_id".as("doc_id")),
      Seq("doc_id"), "left_semi")
    val flagged = graft.ext.Corpus.decontaminateBloom(deduped, bench)
    val clean = deduped.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
    val manifest = graft.ext.Corpus.curriculumOrder(
      graft.ext.TextStats.qualityFacets(clean),
      when($"quality_bucket" === "good", 0)
        .when($"quality_bucket" === "fair", 1).otherwise(2),
      nShards = 8, seed = 42L)
    val a = out.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val b = manifest.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    a shouldBe b
    // the composed job never global-sorts the corpus
    out.queryExecution.executedPlan.toString should not include "rangepartitioning"
  }

  test("dsirWeights: fused-kernel scoring plans a pure projection — no explode, no join, no shuffle") {
    import graft.ext.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Corpus.dsirWeights(docs.where($"lang" =!= "en"),
        docs.where($"lang" === "en"))
      .queryExecution.executedPlan.toString
    // the ratio table is trained at plan-build time (bounded driver
    // collect over the ≤buckets-row joined profiles — the IVF-centroid
    // posture); the QUERY is then one stateless codegen projection,
    // which is also what makes the same call legal on a readStream
    plan should include("dsirscore")
    plan should not include "Exchange"
    plan should not include "Generate"
    plan should not include "Join"
    // top-k selection is a per-partition heap, not a global sort
    val selPlan = Corpus.dsirResample(docs.where($"lang" =!= "en"),
        docs.where($"lang" === "en"), k = 10, seed = 42L)
      .queryExecution.executedPlan.toString
    selPlan should include("TakeOrderedAndProject")
  }

  test("persisted IVF index: probe-only path matches retrain-per-query, no k-means at probe time") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val name = "ivf_spec_" + (System.nanoTime() % 1000000)
    Similarity.ensureIvfIndex(emb, name)
    val probe = Similarity.ivfProbeTopK(spark, name, queries, k = 5)
      .orderBy("query_id", "rank")
    val retrain = Similarity.ivfTopK(emb, queries, k = 5)
      .orderBy("query_id", "rank")
    probe.collect().toSeq shouldBe retrain.collect().toSeq
    // probing never re-runs Lloyd iterations: no coordinate explode /
    // means aggregation in the plan — just the index scan, the
    // broadcast probe join, and the per-query rank
    val plan = probe.queryExecution.executedPlan.toString
    plan should not include "posexplode"
    plan should include("FileScan")
    // re-ensure is idempotent (catalog short-circuit), probe repeats
    Similarity.ensureIvfIndex(emb, name)
    Similarity.ivfProbeTopK(spark, name, queries, k = 5)
      .orderBy("query_id", "rank").collect().toSeq shouldBe retrain.collect().toSeq
  }

  test("persisted PQ index: probe matches encode-per-query, no Lloyd or encode at probe time") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val name = "pq_spec_" + (System.nanoTime() % 1000000)
    Similarity.ensurePqIndex(emb, name)
    val probe = Similarity.pqProbeTopK(spark, name, queries, kNeighbors = 5)
      .orderBy("query_id", "rank")
    val cb = Similarity.pqTrain(emb)
    val perQuery = Similarity.pqTopK(emb, queries, cb, kNeighbors = 5)
      .orderBy("query_id", "rank")
    probe.collect().toSeq shouldBe perQuery.collect().toSeq
    // the probe plan reads the persisted code table — the pqcodesexpr
    // kernel (encoding) never runs at probe time; the only Generate is
    // the TopK buffer explode. (Training is driver-side collects and
    // cannot appear in any plan — its absence is the ensure guard.)
    val plan = probe.queryExecution.executedPlan.toString
    plan.toLowerCase should not include "pqcodesexpr"
    plan should include("FileScan")
    Similarity.pqEncode(emb, cb).queryExecution.executedPlan
      .toString.toLowerCase should include("pqcodesexpr")
    // re-ensure is idempotent; probe repeats
    Similarity.ensurePqIndex(emb, name)
    Similarity.pqProbeTopK(spark, name, queries, kNeighbors = 5)
      .orderBy("query_id", "rank").collect().toSeq shouldBe perQuery.collect().toSeq
  }

  test("histQuantiles excludes NULL and NaN values instead of binning them low") {
    import graft.ext.Sketches
    val bad = Seq(("a", Some(1.0)), ("a", None), ("a", Some(Double.NaN)),
      ("c", None)).toDF("g", "v")
    val out = Sketches.histQuantiles(bad, "g", "v",
      width = 1.0, maxBins = 8, probs = Seq(0.5)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // group a: only the real 1.0 survives (NaN would otherwise land in
    // bin 0 and drag the median to 0.0); all-null group c vanishes
    out shouldBe Map("a" -> 1.0)
  }

  test("ensureClusters: reports probe the persisted table — the pipeline never re-runs") {
    import graft.ext.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val name = "clusters_spec_" + (System.nanoTime() % 1000000)
    var builds = 0
    Dedup.ensureClusters(spark, name) {
      builds += 1; Dedup.duplicateClusters(pairs)
    }
    builds shouldBe 1
    val probe = Dedup.ensureClusters(spark, name) {
      builds += 1; Dedup.duplicateClusters(pairs)
    }
    // the by-name builder was never evaluated on the second ensure —
    // reports pay a table scan, not a cluster resolution
    builds shouldBe 1
    probe.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    // probe plan: bare parquet scan of the persisted clusters — no
    // joins, no checkpoint scans, no pointer-doubling anywhere
    val plan = probe.queryExecution.executedPlan.toString
    plan should include("FileScan")
    plan should not include "Join"
  }

  test("persisted langid profile: probe scoring matches inline training, no train explode in the plan") {
    import graft.ext.TextStats
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.where($"doc_id" % 2 === 0)
    val langs = Seq("de", "en", "fr")
    val name = "langid_spec_" + (System.nanoTime() % 1000000)
    var builds = 0
    val profile = TextStats.ensureLangIdProfile(spark, name, langs) {
      builds += 1; TextStats.langIdProfile(train, langs)
    }
    builds shouldBe 1
    val probe = TextStats.scoreLangId(docs, profile, langs).orderBy("doc_id")
    val inline = TextStats.langIdTrigram(docs, train, langs).orderBy("doc_id")
    probe.collect().toSeq shouldBe inline.collect().toSeq
    // probe plan: ONE trigram explode (the docs being scored) — the
    // train-side explode+aggregate is replaced by the profile scan
    // (take the final-plan section only: AQE's toString repeats the
    // initial plan below it)
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    "chartrigramhashes".r.findAllIn(plan.toLowerCase).size shouldBe 1
    plan should include(s"spark_catalog.default.$name")
    // re-ensure never retrains
    TextStats.ensureLangIdProfile(spark, name, langs) {
      builds += 1; TextStats.langIdProfile(train, langs)
    }
    builds shouldBe 1
  }

  test("capped pair finders plan the quadratic-cell guard as a broadcast anti-join") {
    import graft.ext.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the bucket-size guard: hot cells (an aggregation over the narrow
    // checkpointed bucket rows) anti-joined back by broadcast — the
    // hotKeys split posture, never a shuffled join against the corpus
    val plan = Dedup.minhashLshPairs(docs).queryExecution.executedPlan.toString
    "BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).size should be >= 1
    val splan = Dedup.simhashPairs(docs).queryExecution.executedPlan.toString
    "BroadcastHashJoin.*LeftAnti".r.findAllIn(splan).size should be >= 1
    // round 13: containmentPairs carries the same guard on its gram key
    val cplan = Dedup.containmentPairs(docs).queryExecution.executedPlan.toString
    "BroadcastHashJoin.*LeftAnti".r.findAllIn(cplan).size should be >= 1
    // ...and sourceOverlap on its shingle key (group-cardinality ceiling)
    val oplan = Dedup.sourceOverlap(docs).queryExecution.executedPlan.toString
    "BroadcastHashJoin.*LeftAnti".r.findAllIn(oplan).size should be >= 1
    // disabling the cap removes the guard entirely (no anti-join)
    val un = Dedup.minhashLshPairs(docs, maxBucketSize = Int.MaxValue)
      .queryExecution.executedPlan.toString
    un should not include "LeftAnti"
  }

  test("exactSubstringPairs: codegen window hashing, no gram strings in the join") {
    import graft.ext.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Dedup.exactSubstringPairs(docs, windowTokens = 8)
    // the self-join runs over the localCheckpointed window frame, so
    // its plan starts at the checkpoint scan: join keys are the 8-byte
    // window hashes (w#..L, a LONG), never the window strings
    val plan = out.queryExecution.executedPlan.toString.toLowerCase
    plan should include regex """hashjoin \[w#\d+l\], \[w#\d+l\]"""
    // window construction (the stage feeding the checkpoint) is the
    // one-pass native kernel, not an interpreted transform() lambda or
    // a gram-string explode
    val winPlan = docs
      .where(org.apache.spark.sql.functions.size(
        graft.ext.TextStats.tokens($"text")) >= 8)
      .select($"doc_id",
        explode(graft.plans.NativeFunctions.hashedShingles($"text", 8)).as("w"))
      .queryExecution.executedPlan.toString.toLowerCase
    winPlan should include("hashedshingles")
    winPlan should not include "transform("
  }

  test("kmvDistinct: sketch aggregates partially before the shuffle") {
    import graft.ext.Sketches
    val df = (0L until 500L).map(i => (s"g${i % 3}", s"v$i")).toDF("g", "v")
    val out = Sketches.kmvDistinct(df, "g", "v", k = 32, seed = 42L)
    val plan = out.queryExecution.executedPlan.toString
    // the bounded buffer participates in map-side partial aggregation:
    // a partial ObjectHashAggregate below the exchange, final above —
    // at most k doubles per (group, partition) cross the shuffle
    "ObjectHashAggregate".r.findAllIn(plan).size should be >= 2
    plan should include("partial_kmvaggregator")
  }

  test("histQuantiles: bounded bin map aggregates partially before the shuffle") {
    import graft.ext.Sketches
    val df = (0L until 500L).map(i => (s"g${i % 3}", (i % 100).toDouble))
      .toDF("g", "v")
    val out = Sketches.histQuantiles(df, "g", "v",
      width = 10.0, maxBins = 16, probs = Seq(0.5, 0.9))
    val plan = out.queryExecution.executedPlan.toString
    // the ≤maxBins map participates in map-side partial aggregation —
    // at most maxBins entries per (group, partition) cross the shuffle
    "ObjectHashAggregate".r.findAllIn(plan).size should be >= 2
    plan should include("partial_histaggregator")
  }

  test("cosinePairs enforces its O(n²) small-input contract") {
    // one-hot direction per class: cross-class cosine is exactly 0,
    // same-class cosine is exactly 1 — so threshold assertions are meaningful
    val vecs = (0L until 10L).map { i =>
      val v = Array.fill(4)(0f); v((i % 3).toInt) = (i + 1).toFloat
      (i, v)
    }.toDF("vec_id", "embedding")
    // over the bound: refuse instead of broadcasting an unbounded corpus
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(vecs, 0.5, maxRows = 5)
    }
    ex.getMessage should include("embeddingNearDups")
    // within the bound: exact pairs, a < b, threshold respected
    val out = Similarity.cosinePairs(vecs, 0.999).collect()
    out.foreach { r => r.getLong(0) should be < r.getLong(1) }
    // ids with equal direction (i%3 equal) are cosine-1 pairs
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 3L))
    pairs should not contain ((0L, 1L))
  }

  test("documents corpus is pure ASCII (dataset canary for the media suite)") {
    // The x_media_* oracles are now byte-semantic (strlen /
    // hex(encode(..)) slicing), so they no longer DEPEND on an ASCII
    // corpus — this pin remains as a data-drift canary covering every SF
    // the suite and the driver bench run at, so a corpus change that
    // introduces multi-byte text is a visible event, not a silent one.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val bad = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .where(octet_length($"text") =!= org.apache.spark.sql.functions.length($"text") ||
          $"text".rlike("[^\\x00-\\x7F]"))
        .count()
      withClue(s"$sf non-ascii docs:") { bad shouldBe 0L }
    }
  }

  test("typed API: Dataset[DataPoint] round-trips the IR frame") {
    val bp = graft.blueprint.BlueprintParser.parse(
      """{"generators":[{"id":"g","shape":"constant","config":{"num_points":5,"constant":3}}],
        | "targets":[]}""".stripMargin)
    val ds = TypedApi.materialize(spark, bp, 42L)
    val rows = ds.collect().sortBy(_.t)
    rows.map(_.generatorId).distinct.toSeq shouldBe Seq("g")
    rows.map(_.value).toSeq shouldBe Seq(3L, 3L, 3L, 3L, 3L)
  }

  test("round-12 kernels: winnow/cdc/hash-features/nb plan as shuffle-free projections") {
    import graft.ext.{Dedup, TextStats}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // winnowing: the positional-gram Generate + per-document window
    // sort became ONE kernel projection + one narrow Generate over its
    // array — no Exchange, no Window anywhere
    val wPlan = Dedup.winnowFingerprints(docs)
      .queryExecution.executedPlan.toString
    wPlan.toLowerCase should include("winnowfps")
    wPlan should not include "Exchange"
    wPlan should not include "Window"
    // content-defined chunking: kernel projection + narrow posexplode
    val cPlan = Dedup.cdcChunks(docs).queryExecution.executedPlan.toString
    cPlan.toLowerCase should include("cdcchunks")
    cPlan should include("Generate posexplode")
    cPlan should not include "Exchange"
    // hashing-trick summary: pure projection, nothing leaves the scan
    val hPlan = TextStats.hashFeatures(docs)
      .queryExecution.executedPlan.toString
    hPlan.toLowerCase should include("hashfeaturestats")
    hPlan should not include "Exchange"
    hPlan should not include "Generate"
    // NB serving: training collects are bounded plan-build work (the
    // dsirScore/langid posture); the SCORED side is one stateless
    // projection — no explode, no |labels| fan-out join, no shuffle
    val nbPlan = TextStats
      .naiveBayesFused(docs, docs.where($"doc_id" % 2 === 0))
      .queryExecution.executedPlan.toString
    nbPlan.toLowerCase should include("nbpredict")
    nbPlan should not include "Exchange"
    nbPlan should not include "Generate"
    nbPlan should not include "Join"
  }

  test("round-13 operators: mattr is a shuffle-free projection; reservoir plans TakeOrdered; sketch aggregates partially") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // MATTR: window distinct-counting lives entirely inside one
    // projection over the scan — no Exchange, no Generate
    val mPlan = graft.ext.TextStats.mattr(docs)
      .queryExecution.executedPlan.toString
    mPlan should not include "Exchange"
    mPlan should not include "Generate"
    // weighted reservoir: global top-k is TakeOrdered (bounded
    // per-partition heaps), never Sort + GlobalLimit over a full sort
    val rPlan = graft.ext.Corpus.weightedReservoir(
        docs.select(col("doc_id")), lit(1.0), k = 100, seed = 7L)
      .queryExecution.executedPlan.toString
    rPlan should include("TakeOrderedAndProject")
    // bottom-k sketch: the signature aggregation runs with a partial
    // (map-side) phase before its one shuffle — bounded mergeable state
    val sPlan = graft.ext.Dedup.sourceOverlapSketch(docs)
      .queryExecution.executedPlan.toString
    "ObjectHashAggregate|SortAggregate".r.findAllIn(sPlan).size should be >= 2
  }

  test("run finders join on long window hashes; lateral top-k decorrelates (no cartesian)") {
    import graft.ext.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // positional-window pair finders: join keys are the xxhash64 longs
    // (w#..L), never the window strings
    for (df <- Seq(Dedup.longestRunPairs(docs),
        Dedup.verbatimSpanScrub(docs),
        Dedup.selfRepeatRuns(docs))) {
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      plan should include regex """hashjoin \[.*w#\d+l\], \[.*w#\d+l\]"""
    }
    // the correlated LATERAL LIMIT decorrelates to a per-key window +
    // equi-join — a cartesian/nested-loop here would be the wrong plan
    // at any scale
    val q = SparkEntry.queries("q_lateral_join")(spark, "/root/testdata/sf0.001")
    q.collect()
    val lplan = q.queryExecution.executedPlan.toString
    lplan should not include "CartesianProduct"
    lplan should not include "BroadcastNestedLoopJoin"
  }

  test("AQE skew-join splits a deliberately skewed fact-fact shuffle (the q5 join shape)") {
    import org.apache.spark.sql.functions._
    // q5_local_supplier's one fact-fact shuffle joins lineitem⋈orders
    // on the ORDER key, which TPC-H bounds at ≤7 lineitems per order —
    // that key cannot skew by construction, so the production query
    // needs no salting. This synthetic replica of the same join shape
    // skews the key ON PURPOSE (one hot order carrying 200k rows vs a
    // uniform tail) and scales AQE's size thresholds down to test
    // size, proving the runtime guard that WOULD catch a skewed
    // fact-fact key at 100 TB: AQE splits the oversized partition into
    // parallel skew-join reads instead of sorting it on one task.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      val hotFact = spark.range(0, 200000)
        .select(lit(0L).as("l_orderkey"), col("id").as("v"))
      val tailFact = spark.range(1, 2000)
        .select(col("id").as("l_orderkey"), col("id").as("v"))
      val orders = spark.range(0, 2000)
        .select(col("id").as("o_orderkey"), (col("id") % 100).as("o_custkey"))
      val j = hotFact.union(tailFact)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("v").as("s"))
      j.collect() // execute so AQE finalizes the runtime plan
      val plan = j.queryExecution.executedPlan.toString
      val skewNodes = plan.linesIterator.filter(_.toLowerCase.contains("skew")).toSeq
      info("skewed-join plan nodes:")
      skewNodes.foreach(l => info("  " + l.trim))
      // the finalized plan must carry the skew-handled join/read nodes
      skewNodes.nonEmpty shouldBe true
      plan should include("skew=true")
      // correctness under the split is untouched: hot key 0 joins order
      // 0 (custkey 0): 200k rows of v=0..199999 plus tail id 100*k
      val hotSum = j.where(col("o_custkey") === 0).head().getLong(1)
      hotSum shouldBe (199999L * 200000L / 2 +
        (1L until 2000L).filter(_ % 100 == 0).sum)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("boilerplate family: exchanges keyed on the 8-byte segment hash, never on segment text; stateless scrub is a shuffle-free kernel projection") {
    import graft.ext.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // both the report and the scrub shuffle only on (source, doc_id,
    // __key)-shaped tuples — the raw __seg / segment string columns
    // ride as aggregate payloads, never as partitioning keys
    val plans = Seq(
      Corpus.boilerplateSegments(docs, segTokens = 4, minFrac = 0.05),
      Corpus.boilerplateScrub(docs, segTokens = 4, minFrac = 0.05))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach { plan =>
      val keys = "hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
      keys should not be empty
      all(keys) should not include "__seg#"
      all(keys) should not include "segment#"
    }
    // the stateless twin: one fused binary-search kernel inside a
    // projection — no Exchange, no Generate, no per-segment literal
    // array scan riding the plan
    val keys = Corpus.boilerplateFlagKeys(docs, segTokens = 4, minFrac = 0.05)
    val sPlan = Corpus.scrubRowStateless(docs, keys, segTokens = 4)
      .queryExecution.executedPlan.toString
    sPlan.toLowerCase should include("scrubsegments")
    sPlan should not include "Exchange"
    sPlan should not include "Generate"
    sPlan should not include "array_contains"
  }

  test("domainStats: URL text leaves the plan at the first aggregate — exchanges carry only (domain, url-key)") {
    import graft.ext.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.com/p/"), (col("doc_id") % 15).cast("string")))
    val plan = Dedup.domainStats(docs).queryExecution.executedPlan.toString
    val keys = "hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
    keys should not be empty
    all(keys) should not include "url"
  }

  test("globalRank ≡ single-window row_number; ntileFromRank ≡ ntile; calibration plan drops the corpus-sized unpartitioned window") {
    import graft.ext.Corpus
    import org.apache.spark.sql.expressions.Window
    // adversarial: heavy first-key ties (range boundaries straddle
    // them), multi-partition scrambled input; id makes the order total
    val base = (0L until 5000L).map(i => ((i * 2654435761L) % 7, i))
      .toDF("k", "id").repartition(13)
    val got = Corpus.globalRank(base, Seq(col("k"), col("id")), "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = base.withColumn("rk",
        row_number().over(Window.orderBy("k", "id")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got shouldBe want
    // ntile decomposition, all shapes: n < b, n % b != 0, n % b == 0
    for (n <- Seq(3L, 7L, 37L, 40L, 5000L); b <- Seq(3, 10)) {
      val rows = spark.range(1, n + 1).toDF("id")
      val viaRank = rows
        .withColumn("bin", Corpus.ntileFromRank(col("id"), lit(n), b))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val viaNtile = rows
        .withColumn("bin", ntile(b).over(Window.orderBy("id")))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      withClue(s"n=$n b=$b: ") { viaRank shouldBe viaNtile }
    }
    // the calibration query: its big-side window is partitioned on the
    // range-partition id; the global-ntile single-partition window —
    // the one corpus-sized unpartitioned window the catalog had — is gone
    val q = SparkEntry.queries("x_logreg_calibration")(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    plan should include("__gr_p")
    plan should not include "ntile"
  }

  test("crawl funnel: every row exchange keys on shard/domain/hash — never archive or URL text") {
    val q = graft.SparkEntry.queries("x_crawl_e2e")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val keys = "hashpartitioning\\(([A-Za-z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    keys should not be empty
    keys.foreach { k =>
      withClue(s"exchange key $k: ") {
        (k.startsWith("shard") || k.startsWith("host") ||
          k.startsWith("domain") || k.startsWith("__")) shouldBe true
      }
    }
    // the frames that carry archive/page text never hash-shuffle
    plan should not include "hashpartitioning(url_norm"
    plan should not include "hashpartitioning(content"
    plan should not include "hashpartitioning(payload"
    plan should not include "hashpartitioning(uri"
  }

  test("revisit marking: exchanges key on the 8-byte payload hash, never payload text") {
    val q = graft.SparkEntry.queries("x_warc_revisit")(spark,
      "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val keys = "hashpartitioning\\(([A-Za-z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    keys should not be empty
    keys.foreach { k =>
      withClue(s"exchange key $k: ") {
        (k.startsWith("shard") || k.startsWith("__")) shouldBe true
      }
    }
    plan should not include "hashpartitioning(payload"
    plan should not include "hashpartitioning(content"
  }

  test("wet codec: parse is a narrow Generate with no shuffle; render is one aggregate exchange") {
    import graft.ext.Warc
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.com/doc/"), col("doc_id").cast("string")))
      .withColumn("shard", pmod(col("doc_id"), lit(4)))
    // Render: exactly the one partial/final aggregate exchange of the
    // per-shard collect_list — file assembly costs one narrow shuffle.
    val renderPlan = Warc.renderFiles(docs)
      .queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(renderPlan).size shouldBe 1
    // Parse over an already-materialized file frame (the production
    // shape: files arrive from storage): pure projection + posexplode,
    // zero shuffle — the file is the unit of parallelism.
    val fileFrame = Seq((0L, Warc.VersionLine +
      "WARC-Type: conversion\r\nWARC-Target-URI: u\r\n" +
      "WARC-Record-ID: <urn:graft:7>\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"))
      .toDF("shard", "content")
    val parsePlan = Warc.parseRecords(fileFrame)
      .queryExecution.executedPlan.toString
    parsePlan should include("Generate posexplode")
    parsePlan should not include "Exchange"
    // the wire-coding decode layer stays a pure projection too: the
    // dechunk/gunzip/charset kernels add ZERO shuffle to the parse
    val encPlan = Warc.parseHttpEncoded(Warc.parseRecords(fileFrame))
      .queryExecution.executedPlan.toString
    encPlan should not include "Exchange"
  }

  test("host rank: exchanges key on 8-byte host hashes; quota select broadcasts the rank table") {
    // hostRank checkpoints every few rounds, so the returned plan
    // carries the tail rounds' joins/aggregates next to the final
    // hash→text re-attach — pin that every hash exchange leads with
    // an 8-byte hash key (h / src_h / dst_h / __*), never a URL
    val q = graft.SparkEntry.queries("x_host_rank")(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val keys = "hashpartitioning\\(([A-Za-z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    keys.foreach { k =>
      withClue(s"exchange key $k: ") {
        (k == "h" || k.startsWith("src_h") || k.startsWith("dst_h") ||
          k.startsWith("host") || k.startsWith("__")) shouldBe true
      }
    }
    plan should not include "hashpartitioning(url"
    // rankWeightedSelect: the host-bounded quota table BROADCASTS into
    // the doc frame; the row_number window is host-PARTITIONED (the
    // plan's window spec carries a partition column, never a global
    // single-partition sort)
    val q2 = graft.SparkEntry.queries("x_rank_weighted_select")(
      spark, "/root/testdata/sf0.001")
    val plan2 = q2.queryExecution.executedPlan.toString
    plan2 should include("BroadcastExchange")
    plan2 should include("Window")
    plan2 should not include "hashpartitioning(url"
  }

  test("anchor corpus: every exchange leads with the 8-byte URL hash, never anchor or URL text") {
    val q = graft.SparkEntry.queries("x_anchor_text")(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val keys = "hashpartitioning\\(([A-Za-z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    keys should not be empty
    keys.foreach { k =>
      withClue(s"exchange key $k: ") { k.startsWith("__") shouldBe true }
    }
    plan should not include "hashpartitioning(url_norm"
    plan should not include "hashpartitioning(anchor"
    // the collect_list aggregate's INPUT is bounded (the r19 weak,
    // fixed): a row_number rank filter over the distinct pair frame
    // sits below the collect, so the aggregation buffer holds at most
    // maxAnchors entries per key — never a hot target's full in-link
    // anchor mass
    plan should include("collect_list")
    plan should include("Window")
    plan should include regex "_rn#\\d+ <= 8"
  }

  test("host components: iteration exchanges key on 8-byte hashes, never host text") {
    // the contraction loop runs eagerly (per-round localCheckpoint +
    // driver-side edge count), so pin the per-round frames directly:
    // the relabel join and local-min aggregate must exchange on the
    // 8-byte hash columns (a/b/__v), and the returned plan's final
    // hash→text re-attach on h/lbl — nothing keyed on host text
    import graft.ext.LinkGraph
    val edges = spark.range(200).selectExpr(
      "concat('s', id % 40) AS src_host",
      "concat('s', (id + 8) % 40) AS dst_host")
    val out = LinkGraph.hostComponents(edges)
    val plan = out.queryExecution.executedPlan.toString
    val keys = "hashpartitioning\\(([A-Za-z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    keys should not be empty
    keys.foreach { k =>
      withClue(s"exchange key $k: ") {
        (k == "h" || k == "lbl" || k == "a" || k == "b" ||
          k.startsWith("__") || k == "component") shouldBe true
      }
    }
    plan should not include "hashpartitioning(host"
    plan should not include "hashpartitioning(src_host"
    plan should not include "hashpartitioning(dst_host"
    // 8 residue classes mod gcd(8,40)=8, 5 hosts each
    out.select("component").distinct().count() shouldBe 8L
    // the component prior put to work: the host-bounded family table
    // BROADCASTS into the doc frame and the keep-first window is
    // component-PARTITIONED (never a global single-partition sort)
    val q2 = graft.SparkEntry.queries("x_mirror_family_select")(
      spark, "/root/testdata/sf0.001")
    val plan2 = q2.queryExecution.executedPlan.toString
    plan2 should include("BroadcastExchange")
    plan2 should include("Window")
    plan2 should include regex "windowspecdefinition\\(component"
  }

  /** `n` generators cycling through one shape mix — sinusoidal, a
    * gamma-sampled random, a prefix-free and a prefix-referencing custom
    * formula, a square wave — with per-generator parameters and formulas,
    * commons noise and anomalies, a cloudwatch and a grouped lambda
    * target over all of them. */
  private def mixedFleet(n: Int, points: Int): graft.blueprint.Blueprint = {
    val gens = (0 until n).map { i =>
      val cfg = i % 5 match {
        case 0 => s""""sinusoidal","config":{"frequency":0.0${1 + i % 9}}"""
        case 1 => s""""random","config":{"type":"gammavariate","alpha":${1 + i % 4},"beta":2}"""
        case 2 => s""""custom","config":{"formula":"(t % ${5 + i}) + 2"}"""
        case 3 => s""""custom","config":{"formula":"1 if t == 0 else (max(datapoints) % ${3 + i}) + (t % 4)"}"""
        case _ => s""""square","config":{"low_value":1,"low_width":${1 + i % 3},"high_value":${i},"high_width":2}"""
      }
      s"""{"id":"g$i","shape":$cfg}"""
    }
    val ids = (0 until n).map(i => s""""g$i"""").mkString("[", ",", "]")
    graft.blueprint.BlueprintParser.parse(
      s"""{"commons":{"num_points":$points,"noise_min":1,"noise_max":3,
         |            "anomalies":{"start":2,"end":20,"counts":2}},
         | "generators":[${gens.mkString(",")}],
         | "targets":[{"type":"cloudwatch","generators":$ids},
         |            {"type":"lambda","group_datapoints":true,"generators":$ids}]}""".stripMargin)
  }

  test("materialize: plan size and range scans do not grow with generator count") {
    import org.apache.spark.sql.execution.RangeExec
    def shape(n: Int): (Int, Int) = {
      val plan = graft.operators.Engine.materialize(spark, mixedFleet(n, 50), 1L)
        .queryExecution.sparkPlan
      (plan.collect { case p => p }.size, plan.collect { case r: RangeExec => r }.size)
    }
    val (nodes5, ranges5) = shape(5)
    shape(500) shouldBe ((nodes5, ranges5))
  }

  test("execute: a 200-generator × 2,016-point blueprint runs to completion") {
    val bp = mixedFleet(200, 2016)
    val frames = graft.operators.Engine.execute(spark, bp, 1L,
      to_timestamp(lit("2026-01-01 00:00:00")))
    frames.map(_._2) shouldBe Seq("cloudwatch", "lambda")
    frames(0)._3.count() shouldBe 200L * 2016L // one metric row per point
    frames(1)._3.count() shouldBe 2016L        // one grouped envelope per slot
  }
}
