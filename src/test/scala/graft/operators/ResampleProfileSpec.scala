package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ResampleProfileSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def evOf(rows: (Long, Long, Double, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("user_id", "ts_us", "value", "event_id")
  }

  test("gap cells emit n_events=0 with the forward-filled value") {
    // user 1: events in cells 0 and 3 → cells 1, 2 are gaps carrying v=10
    val ev = evOf((1L, 5L, 10.0, 1L), (1L, 35L, 40.0, 2L))
    val out = Resample.gapFillResample(ev, "user_id", "ts_us", "value", "event_id", 10L)
      .orderBy("cell").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq((0L, 1L, 10.0), (1L, 0L, 10.0), (2L, 0L, 10.0), (3L, 1L, 40.0)))
  }

  test("within-cell last pick: max ts wins, event_id breaks ts ties") {
    val ev = evOf(
      (1L, 5L, 1.0, 9L), (1L, 7L, 2.0, 1L),          // cell 0: ts 7 wins
      (1L, 15L, 3.0, 1L), (1L, 15L, 4.0, 2L))        // cell 1: tie → id 2 wins
    val out = Resample.gapFillResample(ev, "user_id", "ts_us", "value", "event_id", 10L)
      .orderBy("cell").collect().map(_.getDouble(3)).toSeq
    assert(out == Seq(2.0, 4.0))
  }

  test("grids are per-entity spans, not the global span") {
    val ev = evOf((1L, 5L, 1.0, 1L), (2L, 95L, 2.0, 2L))
    val out = Resample.gapFillResample(ev, "user_id", "ts_us", "value", "event_id", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 0L), (2L, 9L))) // one cell each, no cross product
  }

  test("q96 runs on ONE data exchange (entity repartition), as documented") {
    // pre-AQE initial plan: exchanges are real nodes, not query stages
    val df = graft.SparkEntry.freshQueries("q96_gapfill_resample")(spark, graft.TestSpark.Sf0001)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val dataShuffles = plan.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning.numPartitions > 1 => e
    }
    assert(dataShuffles.size == 1, plan.toString)
  }

  test("profile counts nulls and distincts per column in one aggregate") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(1L), Some("a")), (Some(1L), None), (None, Some("b")))
      .toDF("k", "v")
    val out = Profile.profile(df, Seq("k", "v")).orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("k", 1L, 1L), ("v", 1L, 2L)))
  }

  test("correlation matrix: known values, one aggregate, partition-count invariant") {
    val s = spark
    import s.implicits._
    // y = 2x (corr +1), z = -x (corr -1 with x, -1 with y)
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0),
      (4.0, 8.0, -4.0)).toDF("x", "y", "z")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.correlationMatrix(d, Seq("x", "y", "z"))
        .orderBy("col_a", "col_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val out = run(df)
    assert(out == Seq(("x", "y", 1.0), ("x", "z", -1.0), ("y", "z", -1.0)),
      out.toString)
    // exact decimal moments ⇒ the result cannot move with partitioning
    assert(run(df.repartition(7)) == out)
    // one pass: a single aggregate over the table, no join/self-join
    val plan = Profile.correlationMatrix(df, Seq("x", "y", "z"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("correlation matrix NULL contract: listwise deletion, n matches moments") {
    val s = spark
    import s.implicits._
    // a NULL in any profiled column drops the whole row — n and every
    // moment describe the same row set (the pre-fix count(1) counted the
    // null rows the null-skipping sums dropped, corrupting every pair)
    val withNulls = Seq(
      (Some(1.0), Some(2.0)), (Some(2.0), Some(4.0)),
      (Some(3.0), Some(6.0)), (Some(4.0), Some(8.0)),
      (None, Some(99.0)), (Some(77.0), None)).toDF("x", "y")
    val complete = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0)).toDF("x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Profile.correlationMatrix(d, Seq("x", "y")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(run(withNulls) == run(complete))
    assert(run(withNulls) == Seq(("x", "y", 1.0)))
  }

  test("constraint audit: unique/ref-only audits run without row-local checks") {
    val s = spark
    import s.implicits._
    val child = Seq(Some(1L), Some(1L), Some(7L), None).toDF("k")
    val parent = Seq(1L, 2L).toDF("pk")
    val out = Profile.constraintAudit(child, notNull = Nil, unique = Seq("k"),
      ranges = Nil, refs = Seq(("k", parent, "pk")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("unique(k)" -> 2L, "ref(k)" -> 1L), out.toString)
    // and a constraint-free call fails fast instead of NoSuchElement deep inside
    val err = intercept[IllegalArgumentException] {
      Profile.constraintAudit(child, Nil, Nil, Nil, Nil)
    }
    assert(err.getMessage.contains("at least one constraint"))
  }

  test("constraint audit: exact violation counts per kind, zeros reported too") {
    val s = spark
    import s.implicits._
    val child = Seq(
      (Some(1L), 5.0),  // clean
      (Some(1L), 5.0),  // dup of key 1 (both rows violate unique)
      (Some(2L), 99.0), // out of range
      (None, 5.0),      // null key
      (Some(7L), 5.0),  // orphan (no parent 7)
    ).toDF("k", "v")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val out = Profile.constraintAudit(child,
      notNull = Seq("k"), unique = Seq("k"),
      ranges = Seq(("v", 0.0, 10.0)), refs = Seq(("k", parent, "pk")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map(
      "not_null(k)" -> 1L,
      "unique(k)" -> 2L,   // every member of the dup class, not n - distinct
      "range(v,0.0,10.0)" -> 1L,
      "ref(k)" -> 1L), out.toString)
    // an all-clean table reports EXPLICIT zeros, not missing rows
    val clean = Seq((Some(1L), 5.0), (Some(2L), 6.0)).toDF("k", "v")
    val zeros = Profile.constraintAudit(clean, Seq("k"), Seq("k"),
      Seq(("v", 0.0, 10.0)), Seq(("k", parent, "pk")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(zeros.size == 4 && zeros.values.forall(_ == 0L), zeros.toString)
    // ...including on an EMPTY drop of data (sum over zero rows is SQL
    // NULL without the coalesce — the audit must still read all-passing)
    val empty = Profile.constraintAudit(child.limit(0), Seq("k"), Seq("k"),
      Seq(("v", 0.0, 10.0)), Seq(("k", parent, "pk")))
      .collect().map(r => (r.getString(0), r.isNullAt(1), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(empty.length == 4 && empty.forall { case (_, isNull, v) => !isNull && v == 0L },
      empty.mkString(", "))
  }
}
