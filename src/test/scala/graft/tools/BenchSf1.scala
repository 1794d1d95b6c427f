package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Dev tool: the sf1-scale ratio point over the FULL query suite.
  * Densifies the sf0.1 fixtures ×10 under `/tmp/graft_sf1` (disjoint keys
  * per copy; documents use the
  * substitution-cipher copies so duplicate-class structure stays constant;
  * embeddings get disjoint vec_ids per copy since round 11) and benches
  * EVERY declared query with the exact `graft.Bench` methodology (fresh
  * plan, collect, one warmup then min of 3). Writes the Spark side to
  * `/tmp/bench_sf1_spark.json`; `tools/bench_sf1.py` runs the same
  * queries' committed oracle SQL in DuckDB over the SAME parquet and
  * merges both maps into `BENCH_sf1.json` — classifying golden-read
  * oracles (no DuckDB-side work to compare) and streaming replays (no
  * DuckDB analog for the micro-batch machinery) so the headline ratio is
  * computed over honestly comparable pairs.
  *
  * Through round 10 this tool benched a 23-query data-proportional
  * subset; the full-suite run replaces the extrapolated "the rest is
  * floor-dominated" claim with measurement.
  */
object BenchSf1 {
  lazy val Queries: Seq[String] = SparkEntry.freshQueries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.local.dir", graft.streaming.EventStreams.scratchBase)
        // same warehouse posture as graft.Bench (r19): certification
        // artifacts are throwaway derived data; keep both SF points'
        // measurement environments identical
        .config("spark.sql.warehouse.dir",
          sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
            graft.StageDir.scratchBase + "/graft_warehouse"))
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val src = "/root/testdata/sf0.1"
    val dir = "/tmp/graft_sf1"
    val mult = 10

    def copies(df: DataFrame): DataFrame =
      df.select(col("*"), explode(sequence(lit(0L), lit(mult - 1L))).as("_i"))

    // v2 staging signature: round 11 adds densified embeddings — a dir
    // staged by the old recipe must not be reused (the z-order lesson)
    if (!Files.exists(Paths.get(dir, "_STAGED_v2"))) {
      Files.createDirectories(Paths.get(dir))
      def write(name: String)(df: DataFrame): Unit =
        df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      // dims unchanged: copies keep valid dim references
      Seq("region", "nation", "supplier", "part").foreach { t =>
        write(t)(spark.read.parquet(s"$src/$t.parquet"))
      }
      // embeddings ARE a fact table for the ANN/semantic family: densify
      // with disjoint vec_ids (vectors repeat across copies — identical
      // vectors are legitimate near-dup/ANN structure, same as the
      // ciphered documents keep duplicate-class structure)
      val emb0 = spark.read.parquet(s"$src/embeddings.parquet")
      val eOff = emb0.agg(max("vec_id")).head().getLong(0) + 1
      write("embeddings")(copies(emb0)
        .withColumn("vec_id", col("vec_id") + col("_i") * eOff).drop("_i"))
      val orders0 = spark.read.parquet(s"$src/orders.parquet")
      val cust0 = spark.read.parquet(s"$src/customer.parquet")
      val li0 = spark.read.parquet(s"$src/lineitem.parquet")
      // disjoint key spaces per copy, consistent ACROSS tables so the join
      // graph is preserved (each copy joins only with itself)
      val kOff = orders0.agg(max("o_orderkey")).head().getLong(0) + 1
      val cOff = cust0.agg(max("c_custkey")).head().getLong(0) + 1
      write("customer")(copies(cust0)
        .withColumn("c_custkey", col("c_custkey") + col("_i") * cOff).drop("_i"))
      write("orders")(copies(orders0)
        .withColumn("o_orderkey", col("o_orderkey") + col("_i") * kOff)
        .withColumn("o_custkey", col("o_custkey") + col("_i") * cOff).drop("_i"))
      write("lineitem")(copies(li0)
        .withColumn("l_orderkey", col("l_orderkey") + col("_i") * kOff).drop("_i")
        .repartition(32))
      write("events")(copies(spark.read.parquet(s"$src/events.parquet"))
        .withColumn("user_id", col("user_id") + col("_i") * 10000000L)
        .withColumn("event_id", col("event_id") + col("_i") * 1000000000L)
        .drop("_i").repartition(32))
      write("documents")(ProbeFixtures.cipheredDocs(spark, mult))
      Files.createFile(Paths.get(dir, "_STAGED_v2"))
    }

    // per-query scrubbed-plan fingerprints (r17, ADVICE r16): captured as
    // a side effect of the last completed run — the timed wall is taken
    // BEFORE the fingerprint work, and the plan was already materialized
    // by the collect. bench_sf1.py's outlier ledger gates its window-drift
    // self-adjudication on these (an unchanged fingerprint is the
    // "same plan" signal; a changed one downgrades the verdict to
    // unconfirmed instead of silently closing a real regression).
    val planFps = scala.collection.mutable.Map[String, String]()
    def runOnce(name: String,
                fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val dt = try {
        val df = fn(spark, dir)
        df.collect()
        val t = (System.nanoTime() - t0) / 1e9
        try planFps(name) = graft.Bench.planFingerprint(df, dir)
        catch { case _: Exception => () }
        t
      } catch {
        case e: Throwable =>
          System.err.println(s"BENCHFAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          -1.0
      }
      dt
    }
    val all = SparkEntry.freshQueries
    val results = Queries.map { name =>
      val fn = all(name)
      runOnce(name, fn) // warmup
      val ts = Seq(runOnce(name, fn), runOnce(name, fn), runOnce(name, fn))
      // full-suite hygiene (the graft.Bench discipline): drop caches the
      // finished query pinned and collect its garbage outside timed runs
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Exception => () }
      System.gc()
      val ok = ts.filter(_ >= 0)
      val v = if (ok.nonEmpty) ok.min else -1.0
      println(f"BENCHSF1 $name%-24s $v%8.3f s")
      name -> v
    }
    // q129 SEARCH-ONLY sub-metric (round 12): the certification row above
    // deliberately times rebuild+search+append (result = pure function of
    // the fixture), which conflates the once-per-corpus build with the
    // per-increment search the deployment claim is about. Build the index
    // once here (untimed, same parameters and corpus slice as q129), then
    // time searchIvfIndex alone with the bench discipline — the committed
    // number substantiating "search cost stays nprobe/nlist of the corpus".
    val searchOnly = {
      import org.apache.spark.sql.functions.col
      import graft.operators.Similarity
      val emb = graft.Tables(spark, dir).embeddings
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      val probes = emb.filter(col("vec_id") % 5 === 0)
      val tag = Integer.toHexString(dir.hashCode) + "searchonly"
      Similarity.buildIvfIndex(spark, corpus, "vec_id", "embedding", tag)
      def once(): Double = {
        val t0 = System.nanoTime()
        Similarity.searchIvfIndex(spark, probes, "vec_id", "embedding", tag,
          k = 3, nprobe = 4).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val v = Seq(once(), once(), once()).min
      println(f"BENCHSF1 q129_search_only        $v%8.3f s (index build untimed)")
      v
    }
    // q91 SCORE-ONLY sub-metric (round 13): q91's certification row pays
    // the vocab aggregate + the scoring pass every run; in deployment the
    // top-V vocab is a MAINTAINED artifact (the q119 pattern) and each
    // increment pays only the map-only broadcast probe + doc-major
    // aggregate. Build the vocab once here (untimed, same cut as q91),
    // time vocabOovScore alone.
    val scoreOnly = {
      import graft.operators.TextAnalysis
      val docs = graft.Tables(spark, dir).documents
      // maintained artifact = the driver-pinned term list (r15: the
      // deployment scorer is the map-only native pass, vocab untimed)
      val terms = TextAnalysis.collectVocab(TextAnalysis.topVocab(
        TextAnalysis.tokenCountPairs(docs, "doc_id", "text"), 1000))
      def once(): Double = {
        val t0 = System.nanoTime()
        TextAnalysis.vocabOovScoreLocal(docs, "doc_id", "text", terms).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val v = Seq(once(), once(), once()).min
      println(f"BENCHSF1 q91_score_only          $v%8.3f s (vocab build untimed)")
      v
    }
    // q120 RESOLVE-ONLY sub-metric (round 14): q120's certification row
    // re-scores the whole corpus per run by design; in deployment the
    // per-doc quality score is a MAINTAINED artifact (the q119 pattern)
    // and a resolution run pays only cluster + score join + keep window
    // over duplicate-fraction-sized data. Build the scored artifact and
    // the pair list once here (untimed, same slices and thresholds as
    // q120), time resolveWithScores alone.
    val resolveOnly = {
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      val docs = graft.Tables(spark, dir).documents
      val st = graft.expressions.TextStats.statsCol(spark)(col("text"))
      val scored = docs.withColumn("_st", st)
        .select(col("doc_id"),
          graft.operators.TextAnalysis.qualityScoreFromStats(col("_st")).as("quality_score"))
        .localCheckpoint(true)
      val pairs = Dedup.ngramJaccardPairs(docs.filter(col("doc_id") <= 40), "doc_id", 3)
        .filter(col("jaccard") >= 0.1).localCheckpoint(true)
      def once(): Double = {
        val t0 = System.nanoTime()
        Dedup.resolveWithScores(scored, pairs, "doc_id").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val v = Seq(once(), once(), once()).min
      println(f"BENCHSF1 q120_resolve_only       $v%8.3f s (scores + pairs untimed)")
      v
    }
    // q107 MAINTAIN-ONLY sub-metric (round 16, verdict Missing #4): q107's
    // certification row re-aggregates the base counts AND derives the
    // changeset every run; the operator's entire point is that the
    // maintained path is a tiny delta aggregate + one broadcast join onto
    // PERSISTED counts. Build both artifacts once here (untimed), time
    // maintainCounts alone.
    val maintainOnly = {
      import graft.operators.MergeUpsert
      val o = graft.Tables(spark, dir).orders
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val baseCounts = o.groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val changes = MergeUpsert.changeset(o).localCheckpoint(true)
      def once(): Double = {
        val t0 = System.nanoTime()
        MergeUpsert.maintainCounts(baseCounts, changes, "o_custkey").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val v = Seq(once(), once(), once()).min
      println(f"BENCHSF1 q107_maintain_only      $v%8.3f s (base counts + changeset untimed)")
      v
    }
    // q119 STRIP-ONLY sub-metric (round 16): q119's certification row
    // rebuilds the standing corpus's (line, df) table from text every run;
    // in deployment that table is THE maintained artifact and a daily batch
    // pays only the increment's lines + one dictionary-sized merge. Build
    // the corpus counts once here (untimed), time the increment strip.
    val stripOnly = {
      import graft.operators.Cleaning
      val docs = graft.Tables(spark, dir).documents
      val corpusCounts = Cleaning.lineDocFrequencies(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 16)
        .localCheckpoint(true)
      val increment = docs.filter(col("doc_id") % 5 === 0)
      def once(): Double = {
        val t0 = System.nanoTime()
        Cleaning.boilerplateStripIncrement(corpusCounts, increment,
          "doc_id", "text", 16, 2L).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val v = Seq(once(), once(), once()).min
      println(f"BENCHSF1 q119_strip_only         $v%8.3f s (corpus line-df table untimed)")
      v
    }
    def j(d: Double) = f"$d%.3f"
    val json =
      s"""{"sf":"sf1-densified (10x sf0.1, disjoint keys)","dir":"$dir","cores":$cpus,""" +
        s""""queries":{${results.map { case (n, v) => s""""$n":${j(v)}""" }.mkString(",")}},""" +
        s""""submetrics":{"q129_search_only":${j(searchOnly)},"q91_score_only":${j(scoreOnly)},"q120_resolve_only":${j(resolveOnly)},"q107_maintain_only":${j(maintainOnly)},"q119_strip_only":${j(stripOnly)}},""" +
        s""""plan_fps":{${planFps.toSeq.sortBy(_._1)
          .map { case (n, f) => s""""$n":"$f"""" }.mkString(",")}},""" +
        s""""total":${j(results.map(_._2).filter(_ >= 0).sum)}}"""
    Files.write(Paths.get("/tmp/bench_sf1_spark.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
