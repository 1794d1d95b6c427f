package graft.tools

import graft.{Bench, SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the properties the adjudicator's envelope rule leans on
  * (`Bench.planFingerprint`, served via the `PLAN` protocol command):
  *
  *  1. determinism — the same query built twice (fresh Dataset instances,
  *     so fresh expression ids) fingerprints identically: the scrubber
  *     really does remove every per-build token (#exprIds, object hashes,
  *     paths), otherwise the envelope could never accumulate matching
  *     windows and the rule would be dead code;
  *  2. session independence — a second isolated session (what a new bench
  *     server JVM is, as far as plan ids are concerned) produces the same
  *     fingerprint;
  *  3. discrimination — a genuinely different plan (an added filter)
  *     fingerprints differently: the scrubber must not be so aggressive
  *     that "same code" stops meaning anything;
  *  4. path independence — the SF dir is scrubbed, so envelopes compare
  *     across staged copies of the same SF (e.g. /tmp/graft_sf1 restaging).
  */
class PlanFingerprintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("same query, fresh builds -> identical fingerprint (expr ids scrubbed)") {
    val q = SparkEntry.freshQueries("q01_scan_count")
    val a = Bench.planFingerprint(q(spark, sf), sf)
    val b = Bench.planFingerprint(q(spark, sf), sf)
    assert(a == b)
    assert(a.matches("[0-9a-f]{16}"))
  }

  test("isolated session -> same fingerprint (what a fresh server JVM sees)") {
    val q = SparkEntry.freshQueries("q03_project")
    val a = Bench.planFingerprint(q(spark, sf), sf)
    val s2 = spark.newSession()
    val b = Bench.planFingerprint(q(s2, sf), sf)
    assert(a == b)
  }

  test("a different plan -> different fingerprint (scrubber keeps meaning)") {
    val df = SparkEntry.freshQueries("q03_project")(spark, sf)
    val a = Bench.planFingerprint(df, sf)
    val b = Bench.planFingerprint(df.filter("1=1"), sf) // folded, same plan
    val c = Bench.planFingerprint(df.limit(7), sf)
    assert(a == b, "constant-folded no-op must not move the fingerprint")
    assert(a != c, "a real plan change must move the fingerprint")
  }

  test("lambda identities are scrubbed (typed-closure plans, r18)") {
    // q54/q74/q94/q95 carry MapPartitions/MapGroups closures whose plan
    // rendering embeds `$$Lambda$<n>/0x<addr>` — per-JVM tokens that made
    // their fingerprints differ in every bench window until r18. The
    // scrubbed text must carry no JVM address and still fingerprint
    // deterministically across fresh builds.
    for (n <- Seq("q54_multimodal_decode", "q74_pack_sequences",
                  "q94_frame_sample", "q95_multimodal_resize")) {
      val q = SparkEntry.freshQueries(n)
      val scrubbed = Bench.scrubbedPlan(q(spark, sf), sf)
      assert(!scrubbed.matches("(?s).*0x[0-9a-fA-F]{6,}.*"),
        s"$n: JVM address survived the scrub:\n$scrubbed")
      assert(Bench.planFingerprint(q(spark, sf), sf) ==
        Bench.planFingerprint(q(spark, sf), sf))
    }
  }

  test("fingerprint is stable across the sf dir spelling") {
    val q = SparkEntry.freshQueries("q01_scan_count")
    val a = Bench.planFingerprint(q(spark, sf), sf)
    val b = Bench.planFingerprint(q(spark, sf + "/"), sf + "/")
    assert(a == b)
  }
}
