package graft

import org.apache.spark.sql.functions._
import graft.blueprint.BlueprintParser
import graft.operators.{Dispatch, Engine, Generators, Transforms}
import graft.sources.Sinks

/** End-to-end materialization (EP2, SURVEY §3) + sinks + the driver
  * contract surface. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("flagship blueprint materializes every generator, long-typed, deterministic") {
    val bp = BlueprintParser.parse(SparkEntry.FlagshipBlueprintJson)
    val series = Engine.materialize(spark, bp, 42L).cache()
    val counts = series.groupBy("generator_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts shouldBe Map("ts1" -> 2000L, "ts2" -> 50L, "ts3" -> 2000L,
      "ts4" -> 2000L, "ts5" -> 2000L)
    series.schema("value").dataType.typeName shouldBe "long"
    // deterministic re-materialization
    val again = Engine.materialize(spark, bp, 42L)
    series.unionByName(again).distinct().count() shouldBe series.distinct().count()
    series.unpersist()
  }

  test("slot view zero-fills short generators to the longest cycle") {
    val bp = BlueprintParser.parse(SparkEntry.FlagshipBlueprintJson)
    val series = Engine.materialize(spark, bp, 42L)
    val slots = Engine.slotView(spark, bp, series)
    slots.count() shouldBe 5 * 2000L
    // ts2 has 50 points; slots 50.. must be zero-filled
    slots.where($"generator_id" === "ts2" && $"t" >= 50)
      .agg(sum("value")).head().getLong(0) shouldBe 0L
  }

  test("slot records: one row per slot with all generators present") {
    val recs = SparkEntry.entry(spark)
    recs.count() shouldBe 2000L
    val m = recs.orderBy("t").head().getMap[String, Long](1)
    m.keys.toSeq.sorted shouldBe Seq("ts1", "ts2", "ts3", "ts4", "ts5")
  }

  test("fake-object corpus: rows = sum of values, deterministic, well-formed keys") {
    val bp = BlueprintParser.parse(
      """{"generators":[{"id":"g1","shape":"constant","config":{"num_points":10,"constant":3}}],
        | "targets":[{"type":"s3","action":"put","prefix":"p/","generators":["g1"],
        |             "fake_types":["sentence","email"],"fake_counts":2}]}""".stripMargin)
    val series = Engine.materialize(spark, bp, 42L)
    val objs = Sinks.fakeObjects(Dispatch.routeToTarget(series, bp.targets.head),
      bp.targets.head, 42L).cache()
    objs.count() shouldBe 30L // 10 slots × value 3
    val keys = objs.select("key").collect().map(_.getString(0))
    all(keys.toSeq) should fullyMatch regex """p/(sentence|email|mixed)/[0-9a-f-]{36}\.fake"""
    val bodies = objs.select("body").collect().map(_.getString(0))
    all(bodies.toSeq) should startWith("Sample Report")
    // disclaimer + fake_counts lines
    all(bodies.map(_.linesIterator.size).toSeq) shouldBe 4
    // deterministic
    val again = Sinks.fakeObjects(Dispatch.routeToTarget(series, bp.targets.head),
      bp.targets.head, 42L)
    again.exceptAll(objs).count() shouldBe 0L
    objs.unpersist()
  }

  test("s3/get draws come from the real-key pool padded with fakes, with replacement") {
    val bp = BlueprintParser.parse(
      """{"generators":[{"id":"g1","shape":"constant","config":{"num_points":30,"constant":5}}],
        | "targets":[{"type":"s3","action":"get","generators":["g1"],"prefix":"pre/"}]}""".stripMargin)
    val series = Engine.materialize(spark, bp, 42L)
    val routed = Dispatch.routeToTarget(series, bp.targets.head)
    val listing = Seq("pre/real-1", "pre/real-2", "pre/real-3").toDF("key")
    val out = Sinks.getRequests(routed, bp.targets.head, 42L, Some(listing)).cache()
    out.count() shouldBe 150L // 30 slots × value 5
    val keys = out.select("key").collect().map(_.getString(0))
    // pool per slot = 3 real keys + 2 fake pads; draws hit both kinds
    keys.count(_.startsWith("pre/real-")) should be > 0
    keys.count(_.startsWith("pre/fake-object-")) should be > 0
    keys.foreach(k => k should startWith("pre/"))
    // deterministic
    val again = Sinks.getRequests(routed, bp.targets.head, 42L, Some(listing))
    again.exceptAll(out).count() shouldBe 0L
    // no listing → all fakes (current k_get_requests behavior)
    val noList = Sinks.getRequests(routed, bp.targets.head, 42L)
    noList.where(col("key").startsWith("pre/fake-object-")).count() shouldBe 150L
    out.unpersist()
  }

  test("metric frame carries shape dimension from the blueprint (src/main.py:1059-1069)") {
    val bp = BlueprintParser.parse(
      """{"generators":[{"id":"g1","shape":"constant","config":{"num_points":5,"constant":2}}],
        | "targets":[{"type":"cloudwatch","generators":["g1"]}]}""".stripMargin)
    val series = Engine.materialize(spark, bp, 42L)
    val metrics = Sinks.metricData(series, bp, lit(0L)).collect()
    metrics.length shouldBe 5
    all(metrics.map(_.getAs[String]("shape")).toSeq) shouldBe "constant"
    all(metrics.map(_.getAs[String]("metric_name")).toSeq) shouldBe "Timeseries"
  }

  test("mixed fleet: every generator's rows equal its own single-generator run") {
    // every synthesized shape, random types incl. a UDF sampler and the
    // unscaled triangular, a prefix-referencing formula, commons noise
    // and anomalies (one generator opts out of noise), and one generator
    // overriding both with its own specs and formula
    val bp = BlueprintParser.parse(
      """{"commons": {"num_points": 120, "signal_min": 1, "signal_max": 30,
        |             "noise_min": 1, "noise_max": 4,
        |             "anomalies": {"start": 5, "end": 60, "counts": 4}},
        | "generators": [
        |  {"id":"sin","shape":"sinusoidal","config":{"frequency":0.1,"amplitude":3}},
        |  {"id":"con","shape":"constant","config":{"num_points":40,"constant":6,"noise_min":0}},
        |  {"id":"sq","shape":"square","config":{"low_value":2,"low_width":3,"high_value":9,"high_width":4}},
        |  {"id":"uni","shape":"random","config":{"type":"uniform"}},
        |  {"id":"gam","shape":"random","config":{"type":"gammavariate","alpha":2,"beta":3}},
        |  {"id":"tri","shape":"random","config":{"type":"triangular","num_points":90}},
        |  {"id":"gau","shape":"random","config":{"type":"gauss","mu":4,"sigma":2}},
        |  {"id":"cus","shape":"custom","config":{"formula":"(t % 13) + 2 * (t % 5)"}},
        |  {"id":"pre","shape":"custom","config":{"formula":"1 if t == 0 else (max(datapoints) % 11) + (t % 7)"}},
        |  {"id":"own","shape":"custom","config":{"formula":"t * 3","noise_min":2,"noise_max":8,
        |    "anomalies":[{"start":0,"end":30,"counts":3,"formula":"max(datapoints) + t"},{"counts":2}]}}],
        | "targets": []}""".stripMargin)
    val fleet = Engine.materialize(spark, bp, 7L).cache()
    fleet.count() shouldBe bp.generators.map(_.config.numPoints).sum
    for (g <- bp.generators) withClue(s"${g.id}: ") {
      val alone = Transforms.intCast(Transforms.applyAnomalies(
        Transforms.applyNoise(Generators.forSpec(spark, g, 7L), g.config, 7L),
        g.config.anomalies, g.config.numPoints, 7L, g.id))
      longSeriesOf(fleet.where($"generator_id" === g.id)) shouldBe longSeriesOf(alone)
    }
    fleet.unpersist()
  }

  test("execute: full blueprint → one activity frame per target (EP2+EP3)") {
    val bp = BlueprintParser.parse(
      """{"commons": {"num_points": 20},
        | "generators":[
        |  {"id":"g1","shape":"constant","config":{"constant":3}},
        |  {"id":"g2","shape":"square","config":{"low_value":0,"low_width":1,"high_value":6,"high_width":1}}],
        | "targets":[
        |  {"type":"s3","action":"put","generators":["g1"],"fake_types":["sentence"]},
        |  {"type":"s3","action":"get","generators":["g2"],"prefix":"pre/"},
        |  {"type":"cloudwatch","generators":["g1","g2"]},
        |  {"type":"lambda","function_name":"fn","generators":["g1"],"slice_size":2}]}""".stripMargin)
    val frames = Engine.execute(spark, bp, 42L, to_timestamp(lit("2026-01-01 00:00:00")))
      .map(t => t._1 -> (t._2, t._3)).toMap
    frames.size shouldBe 4
    // s3/put: 20 slots × value 3 objects
    frames(0)._2.count() shouldBe 60L
    // s3/get: only nonzero slots (value 6 on odd slots) × 6 gets
    frames(1)._2.count() shouldBe 60L
    // cloudwatch: every datapoint incl zeros (zero-skip is S3-only, §2.8 #4)
    frames(2)._2.count() shouldBe 40L
    // lambda single mode with slice_size 2: value 3 → [2,1] per slot
    frames(3)._2.count() shouldBe 40L
    val env = frames(3)._2.head()
    env.getAs[String]("target") should include("\"function_name\":\"fn\"")
    env.getAs[String]("target") should not include "generators"
  }

  test("SampleBlueprint-shaped blueprint runs end to end (full reference surface)") {
    // Mirrors resources/SampleBlueprint.json structurally (6 generators
    // incl. a `real` replay file; 3 sensitive-content put targets, a
    // sliced get target, a grouped lambda target, cloudwatch) with
    // num_points scaled 10000 → 200 so the spec stays fast. This is the
    // "a user of the reference switches their blueprint over" golden.
    val replayFile = java.nio.file.Files.createTempFile("graft-replay", ".dat")
    java.nio.file.Files.writeString(replayFile,
      (1 to 120).map(i => if (i % 7 == 0) "" else s"${i % 30}").mkString("\n"))
    val bp = BlueprintParser.parse(
      s"""{
         | "commons": {"num_points": 200, "signal_min": 1, "signal_max": 10,
         |             "noise_min": -5, "noise_max": 5,
         |             "anomalies": {"start": 10, "end": 20, "counts": 2,
         |                           "formula": "max(datapoints) + t * 10"}},
         | "generators": [
         |  {"id":"ts1","shape":"sinusoidal","config":{"frequency":0.25}},
         |  {"id":"ts2","shape":"constant","config":{"num_points":50,"constant":20,
         |      "anomalies":{"start":80,"end":85,"counts":1}}},
         |  {"id":"ts3","shape":"random","config":{"type":"uniform"}},
         |  {"id":"ts4","shape":"square","config":{"high_value":40,"low_value":10,"high_width":5,"low_width":10}},
         |  {"id":"ts5","shape":"real","config":{"bucket":"test-bucket","key":"${replayFile.toString}"}},
         |  {"id":"ts6","shape":"custom","config":{"formula":"t * 10"}}
         | ],
         | "targets": [
         |  {"type":"s3","prefix":"sensitive/","action":"put","generators":["ts1","ts2"],
         |   "fake_types":["bban","iban","credit_card_full","phone_number","ssn","address"],
         |   "fake_counts":20},
         |  {"type":"s3","prefix":"crypto/","action":"put","generators":["ts1","ts2"],
         |   "fake_types":["rsa","dsa","pgp","ec","aws_creds","github_creds","slack_creds","facebook_creds"],
         |   "fake_counts":1},
         |  {"type":"s3","prefix":"passwd/","action":"put","generators":["ts1","ts2"],
         |   "fake_types":["linux_shadow","linux_passwd"],"fake_counts":1},
         |  {"type":"s3","bucket":"test-bucket","action":"get","slice_size":100,
         |   "generators":["ts3","ts4"]},
         |  {"type":"lambda","function":"test","generators":["ts1"],"group_datapoints":true},
         |  {"type":"cloudwatch","namespace":"Test/Timeseries",
         |   "generators":["ts1","ts2","ts3","ts4","ts5","ts6"],"group_datapoints":true}
         | ]}""".stripMargin)

    val series = Engine.materialize(spark, bp, 42L).cache()
    // every generator materializes at its own length; values are longs
    val lens = series.groupBy("generator_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    lens shouldBe Map("ts1" -> 200L, "ts2" -> 50L, "ts3" -> 200L,
      "ts4" -> 200L, "ts5" -> 200L, "ts6" -> 200L)

    val frames = Engine.execute(spark, bp, 42L,
      to_timestamp(lit("2026-01-01 00:00:00")))
    frames.map(_._2) shouldBe Seq("s3", "s3", "s3", "s3", "lambda", "cloudwatch")

    def routedSum(gens: Seq[String]): Long = series
      .where(col("generator_id").isin(gens: _*) && col("value") > 0)
      .agg(sum("value")).head().getLong(0)

    // put targets: one object per unit of activity, keys under the
    // target's prefix, body = disclaimer + fake_counts provider lines
    val putRows = frames(0)._3.cache()
    putRows.count() shouldBe routedSum(Seq("ts1", "ts2"))
    val keys = putRows.select("key").collect().map(_.getString(0))
    all(keys.toSeq) should startWith("sensitive/")
    all(keys.toSeq) should endWith(".fake")
    val body = putRows.select("body").head().getString(0)
    body should startWith("Sample Report")
    frames(1)._3.select("key").head().getString(0) should startWith("crypto/")
    frames(2)._3.select("key").head().getString(0) should startWith("passwd/")

    // get target: one request per unit of activity even when sliced;
    // no listing was supplied, so the whole pool is fake keys
    val gets = frames(3)._3.cache()
    gets.count() shouldBe routedSum(Seq("ts3", "ts4"))
    gets.select("key").head().getString(0) should include("fake-object-")

    // grouped lambda target: one envelope per slot of its generator
    frames(4)._3.count() shouldBe 200L

    // cloudwatch: one metric row per datapoint of all six generators
    // (zero-skip is an S3-only semantic, SURVEY §2.8 #4)
    frames(5)._3.count() shouldBe series.count()

    // end-to-end determinism: a second execution produces byte-identical
    // activity (same seed → same noise, anomalies, draws, fake content)
    val again = Engine.execute(spark, bp, 42L,
      to_timestamp(lit("2026-01-01 00:00:00")))
    again(0)._3.collect().map(_.toString).sorted shouldBe
      putRows.collect().map(_.toString).sorted
    java.nio.file.Files.delete(replayFile)
  }

  test("batched delivery chunks per partition (D2, ≤10 per call)") {
    val df = spark.range(35).toDF("v").repartition(2)
    // chunk sizes observed via an accumulator (callback runs on executors)
    val acc = spark.sparkContext.collectionAccumulator[Int]("chunks")
    Sinks.deliverBatched(df, 10, chunk => acc.add(chunk.size))
    val chunks = acc.value
    chunks.size should be >= 4 // 2 partitions × ≥2 chunks
    all(chunks.toArray.map(_.asInstanceOf[Int]).toSeq) should be <= 10
    chunks.toArray.map(_.asInstanceOf[Int]).sum shouldBe 35
  }

  test("replay from a text file preserves line order, skips blanks (S3, src/main.py:510-529)") {
    val f = java.nio.file.Files.createTempFile("graft-replay", ".txt")
    java.nio.file.Files.writeString(f,
      "10\n20\n\n30\n  \n40\n50\n60\n70\n80\n90\n100\n")
    val cfg = graft.blueprint.Config.of(
      """{"num_points":12,"signal_min":1,"signal_max":10}""")
    val out = longSeriesOf(graft.operators.Transforms.intCast(
      graft.operators.Replay.fromTextFile(spark, "r", f.toString, cfg)))
    // 10 values, zero-padded to 12, scaled to [1,10]: v=10*k → k, pad 0 → ceil(0*9/100*... )
    out.map(_._1) shouldBe (0L until 12L)
    // raw [10..100, 0, 0]: mn=0 mx=100 → ceil(v/100*9+1)
    val raw = Seq(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 0, 0).map(_.toDouble)
    val expected = raw.map(v => math.ceil(v / 100.0 * 9.0 + 1.0).toLong)
    out.map(_._2) shouldBe expected
    java.nio.file.Files.delete(f)
  }

  test("blueprint parseFile reads from a path (EP1)") {
    val f = java.nio.file.Files.createTempFile("graft-bp", ".json")
    java.nio.file.Files.writeString(f, SparkEntry.FlagshipBlueprintJson)
    BlueprintParser.parseFile(f.toString).generators.map(_.id) shouldBe
      Seq("ts1", "ts2", "ts3", "ts4", "ts5")
    java.nio.file.Files.delete(f)
  }

  test("driver contract: every oracle has a query; queries all named sanely") {
    val q = SparkEntry.queries
    val o = SparkEntry.oracleSql
    o.keySet.diff(q.keySet) shouldBe empty
    q.keySet.foreach(k => k should fullyMatch regex """[a-z0-9_]+""")
  }
}
