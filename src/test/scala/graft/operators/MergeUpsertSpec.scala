package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MergeUpsertSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def baseOf(rows: (Long, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("k", "name", "price")
  }
  private def changesOf(rows: (Long, String, String, Double)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("k", "op", "name", "price")
  }

  test("merge applies update, delete, insert; untouched rows pass through") {
    val base = baseOf((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    val ch = changesOf(
      (2L, "U", "b2", 22.0),
      (3L, "D", "", 0.0),
      (9L, "I", "i", 90.0))
    val out = MergeUpsert.merge(base, ch, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 22.0), (9L, "i", 90.0)))
  }

  test("empty changeset payload is rejected; op-only updates keep schema") {
    val base = baseOf((1L, "a", 10.0))
    val s = spark
    import s.implicits._
    val noPayload = Seq((1L, "U")).toDF("k", "op")
    assertThrows[IllegalArgumentException] {
      MergeUpsert.merge(base, noPayload, "k")
    }
  }

  test("broadcastChangeset=false produces the same rows via a shuffled join") {
    val base = baseOf((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    val ch = changesOf((2L, "U", "b2", 22.0), (3L, "D", "", 0.0), (9L, "I", "i", 90.0))
    val hinted = MergeUpsert.merge(base, ch, "k").orderBy("k").collect().toSeq
    val shuffled = MergeUpsert.merge(base, ch, "k", broadcastChangeset = false)
      .orderBy("k").collect().toSeq
    assert(hinted == shuffled)
  }

  test("incremental count maintenance: inserts add, deletes subtract, zeros drop") {
    val s = spark
    import s.implicits._
    val baseCounts = Seq((10L, 2L), (20L, 1L)).toDF("g", "n")
    val ch = Seq(
      (1L, "I", 10L),  // g=10: 2 -> 3
      (2L, "D", 20L),  // g=20: 1 -> 0 (dropped)
      (3L, "I", 30L),  // g=30: new group, 0 -> 1
      (4L, "U", 10L))  // updates never change counts
      .toDF("k", "op", "g")
    val out = MergeUpsert.maintainCounts(baseCounts, ch, "g")
      .orderBy("g").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((10L, 3L), (30L, 1L)))
  }

  test("update on every key + no inserts = same row count, new values") {
    val base = baseOf((1L, "a", 1.0), (2L, "b", 2.0))
    val ch = changesOf((1L, "U", "a'", 11.0), (2L, "U", "b'", 12.0))
    val out = MergeUpsert.merge(base, ch, "k").orderBy("k").collect()
    assert(out.length == 2 && out.map(_.getDouble(2)).toSeq == Seq(11.0, 12.0))
  }

  test("an uncached changeset is evaluated exactly once") {
    // merge's plan walks the changeset twice (matched-side broadcast +
    // insert-side union); the auto-localCheckpoint must collapse that to
    // ONE evaluation of the changeset's lineage — the silent recompute it
    // prevents is what made the 60M-event upsert probe super-linear before
    // the streamUpsert caller-side fix. Instrument with an accumulator
    // bumped per evaluated changeset row.
    val s = spark
    import s.implicits._
    val acc = spark.sparkContext.longAccumulator("changeset-evals")
    val tick = udf((k: Long, v: Double) => { acc.add(1L); v })
    val base = baseOf((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    val chRaw = Seq((2L, "U", "b2", 22.0), (4L, "I", "d", 40.0))
      .toDF("k", "op", "name", "price")
    val ch = chRaw.withColumn("price", tick(col("k"), col("price")))
    val out = MergeUpsert.merge(base, ch, "k").collect()
    assert(out.length == 4)
    assert(acc.value == 2L,
      s"changeset rows must be evaluated once each (2), saw ${acc.value}")
    // a caller-persisted changeset is left alone (no double checkpoint) and
    // still evaluates once
    val acc2 = spark.sparkContext.longAccumulator("changeset-evals-2")
    val tick2 = udf((k: Long, v: Double) => { acc2.add(1L); v })
    val chP = chRaw.withColumn("price", tick2(col("k"), col("price")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(MergeUpsert.merge(base, chP, "k").collect().length == 4)
      assert(acc2.value == 2L, s"persisted changeset evaluated ${acc2.value} times")
    } finally chP.unpersist(true)
  }

  test("the base side never shuffles (broadcast resolution)") {
    // pre-AQE initial plan: exchanges are real nodes, not query stages
    val df = graft.SparkEntry.freshQueries("q90_merge_upsert")(spark, graft.TestSpark.Sf0001)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    // the only exchanges allowed are the broadcast of the changeset and the
    // presentation sort's single-partition exchange — no hash exchange of
    // the base may appear
    val dataShuffles = plan.collect {
      case e: ShuffleExchangeLike
          if e.outputPartitioning.numPartitions > 1 => e
    }
    assert(dataShuffles.isEmpty, plan.toString)
  }
}
