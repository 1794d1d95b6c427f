package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Store-independence of the certified stateful semantics: every stateful
  * replay that certifies on the default (HDFS-backed) state store must
  * produce IDENTICAL rows on the RocksDB provider — the store a deployment
  * at the claimed state scale actually runs (q130 already certifies on
  * RocksDB; this closes the matrix for the rest). Each replay builds a
  * fresh throwaway checkpoint, so the provider switch is clean per run.
  */
class RocksDbParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val stateful = Seq(
    "q61_stream_dedup",          // dropDuplicatesWithinWatermark state
    "q64_stream_stateful_count", // mapGroupsWithState
    "q125_stream_sessionize",    // flatMapGroupsWithState + event-time timers
    "q73_stream_interval_join",  // stream-stream inner interval join buffers
    "q80_stream_outer_join",     // outer variant (watermark-gated null emission)
  )

  test("stateful replays produce identical rows on the RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    for (q <- stateful) {
      val defaultRows = SparkEntry.freshQueries(q)(spark, TestSpark.Sf0001).collect().toSeq
      assert(defaultRows.nonEmpty, s"$q: empty default-provider result")
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocksRows =
        try SparkEntry.freshQueries(q)(spark, TestSpark.Sf0001).collect().toSeq
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(rocksRows == defaultRows, s"$q: RocksDB rows differ from default provider")
    }
  }
}
