package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale fixture builders for [[BenchSf1]]'s densified corpus. */
object ProbeFixtures {

  /** `mult` disjoint copies of the sf0.1 documents, de-correlated by a
    * per-copy SUBSTITUTION CIPHER (rotation × reverse × case-swap — 104
    * distinct bijections): a bijective char map is bijective on the
    * character-shingle space, so within-copy Jaccard — and the planted
    * near-dup structure — is preserved EXACTLY, while cross-copy shingles
    * share nothing; duplicate-cluster size stays constant as the corpus
    * grows, which is the regime the linearity claims are about. Copy 0 is
    * the identity cipher: the original sf0.1 texts under shifted ids.
    */
  def cipheredDocs(spark: SparkSession, mult: Int): DataFrame = {
    def rot(s: String, by: Int) = s.drop(by % s.length) + s.take(by % s.length)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    val d = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    (0 until mult).map { i =>
      val l0 = rot(lower, i % 26)
      val u0 = rot(upper, i % 26)
      val (l1, u1) = if ((i / 26) % 2 == 1) (l0.reverse, u0.reverse) else (l0, u0)
      val (lTo, uTo) = if ((i / 52) % 2 == 1) (u1, l1) else (l1, u1)
      val to = lTo + uTo + rot(digits, i % 10)
      d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", translate(col("text"), lower + upper + digits, to))
    }.reduce(_ unionAll _).repartition(32)
  }
}
