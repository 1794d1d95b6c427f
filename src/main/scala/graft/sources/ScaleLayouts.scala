package graft.sources

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage layouts that make the reference's conventions scale (SURVEY §1.4):
  *
  *  - '''Snapshot partitioning''': the reference's dated folders become a
  *    `snapshot_date` partition column, so "latest version" resolution
  *    (gcpl.py:93-96) is a partition-pruned scan — the query touches only
  *    the newest partition's files, never the history.
  *  - '''Bucketed co-location''': fact tables bucketed and sorted by their
  *    join key join with zero exchange — at 100 TB the shuffle IS the cost,
  *    and bucketing moves it to write time, amortized over every later join.
  */
object ScaleLayouts {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Appends one dated snapshot of `df` under `root`. */
  def writeSnapshot(df: DataFrame, root: String, date: LocalDate): Unit =
    df.withColumn("snapshot_date", lit(date.format(fmt)))
      .write.partitionBy("snapshot_date").mode(SaveMode.Append).parquet(root)

  /** Latest snapshot via partition pruning: the date comes from a bounded
    * filesystem listing of partition directories (metadata, not data), and
    * the filter on the partition column prunes every older snapshot out of
    * the scan — check `df.inputFiles`.
    */
  def readLatestSnapshot(spark: SparkSession, root: String): DataFrame = {
    val all = spark.read.parquet(root)
    val dates = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snapshot_date="))
      .map(_.getName.stripPrefix("snapshot_date="))
    val latest = StatlineLayout.latestFolder(dates.toIndexedSeq)
      .getOrElse(throw new NoSuchElementException(s"no snapshots under $root"))
    all.filter(col("snapshot_date") === latest)
  }

  /** Bin-packed compaction of a fragmented parquet layout — the
    * OPTIMIZE-style small-file rewrite every long-lived ingest needs (a
    * streaming sink or per-page fetch leaves thousands of KB-sized files;
    * scans then pay one task + one footer per file). Reads the fragment
    * set, `coalesce`s to ceil(totalBytes / targetBytes) outputs (pure
    * concatenation — NO shuffle; compaction must not pay a data exchange),
    * and republishes atomically under StageDir discipline so readers never
    * observe a half-compacted layout.
    *
    * @return the compacted directory
    */
  def compact(spark: SparkSession, srcDir: String, destName: String,
              sig: String, targetBytes: Long): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(srcDir))
    val totalBytes =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally listing.close()
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // coalesce can only MERGE scan partitions, and the scan's own
    // file-packing (maxPartitionBytes / openCostInBytes) decides how many
    // there are — under the defaults a fragmented layout can pack into
    // FEWER partitions than nOut, silently producing files far above the
    // target. Pin the scan packing to the compaction target for the
    // duration of the rewrite so the bin count is a property of this
    // function, not of the session conf or core count.
    // The packing pins are COMPUTED from the target, so they live on a
    // throwaway session clone, never the caller's conf (r15 — the same
    // caller-isolation rule as the streaming replays; a memoized
    // PostureSessions clone would leak one SessionState per distinct
    // target, so this uses a raw newSession: the publish signature gate
    // already amortizes the rewrite — and the clone — to once per fixture).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
    s2.conf.set("spark.sql.files.openCostInBytes", "0")
    graft.StageDir.publish(destName, sig) { tmp =>
      s2.read.parquet(srcDir).coalesce(nOut)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
  }

  /** Writes `df` bucketed+sorted by `key` as a managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Joins two same-bucketed tables on their bucket key — planned with no
    * shuffle exchange on either side.
    */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                    leftKey: String, rightKey: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable),
      col(leftKey) === col(rightKey))

  /** Changed rows between two dated snapshots of the same table: full outer
    * join on `keyCols`, change class from row-hash comparison. Both sides
    * are partition-pruned scans (only the two named snapshot partitions are
    * read, never the history), and the join shuffles on the natural key —
    * the incremental-refresh primitive the reference's Modified-date skip
    * (statline.py check_gcp_metadata) approximates at whole-table
    * granularity.
    *
    * Returns `keyCols ++ (change: added|removed|changed)`; unchanged rows
    * are filtered before the result leaves the join, so the output is
    * proportional to the churn, not the table.
    */
  def snapshotDiff(spark: SparkSession, root: String, oldDate: LocalDate,
                   newDate: LocalDate, keyCols: Seq[String]): DataFrame = {
    val all = spark.read.parquet(root)
    val dataCols = all.columns.filterNot(_ == "snapshot_date").toSeq
    // xxhash64, not the 32-bit murmur `hash`: the hash stands in for row
    // equality, and at billions of changed rows a 2^-32 per-row collision
    // silently marks real changes unchanged; 2^-64 does not.
    // Shape choice, MEASURED not assumed (same-window A/B, sf1,
    // interleaved 5-rep medians): the full-outer join of the two sides
    // beats a tag-union + single hash aggregate 1.36 s vs 1.91 s. The
    // union folds both exchanges into one, but keys are ~unique within a
    // snapshot, so the aggregate's map-side partial pass builds a
    // corpus-sized hash table that combines nothing — pure overhead the
    // join shape never pays. Keep the join.
    def side(d: LocalDate, tag: String) =
      all.filter(col("snapshot_date") === d.format(fmt))
        .select(keyCols.map(col) :+
          xxhash64(dataCols.map(col): _*).as(s"_h_$tag"): _*)
    side(oldDate, "old").join(side(newDate, "new"), keyCols, "full_outer")
      .withColumn("change",
        when(col("_h_old").isNull, "added")
          .when(col("_h_new").isNull, "removed")
          .when(col("_h_old") =!= col("_h_new"), "changed"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** Morton (Z-order) interleave of the low 16 bits of two non-negative int
    * dimensions — bit i of `a` lands at position 2i, bit i of `b` at 2i+1.
    * Pure integer arithmetic, stays inside whole-stage codegen. Callers with
    * wider/skewed domains pass bucketized dims (day numbers, key mod N,
    * rank tiles); the masking makes out-of-range inputs wrap rather than
    * error, which is fine for a layout (not a semantics) decision.
    */
  def morton16(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until 16).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Writes `df` clustered on the Z-order curve of two dimensions: range-
    * partitioned and sorted by the interleaved key, so every output file
    * covers a small rectangle in (dim1, dim2) space. Parquet min/max stats
    * then prune rowgroups for predicates on EITHER dimension — the
    * multi-column generalization of single-key range layout, at the cost of
    * one write-time sort (amortized over every later scan, like bucketing).
    */
  def writeZOrdered(df: DataFrame, dim1: String, dim2: String,
                    nFiles: Int, path: String): Unit =
    writeZOrderedBy(df, col(dim1), col(dim2), nFiles, path)

  /** [[writeZOrdered]] over arbitrary dimension EXPRESSIONS — the overload
    * wide-domain callers need: morton16 interleaves only the low 16 bits,
    * so a dimension past 65,535 must be tiled first or distant key bands
    * alias onto the same curve positions and the per-file rectangles (and
    * with them the min/max pruning) silently dissolve. [[tile16]] is the
    * standard order-preserving tiler.
    */
  def writeZOrderedBy(df: DataFrame, dim1: org.apache.spark.sql.Column,
                      dim2: org.apache.spark.sql.Column,
                      nFiles: Int, path: String): Unit =
    df.withColumn("_z", morton16(dim1, dim2))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Order-preserving map of a non-negative dimension with known maximum
    * into the 16-bit tile space morton16 interleaves: equal-width tiles, so
    * curve locality in tile space is locality in the original domain.
    */
  def tile16(dim: org.apache.spark.sql.Column, maxVal: Long): org.apache.spark.sql.Column =
    (dim.cast("long") * 65536L / (maxVal + 1L)).cast("long")

  // ------------------------------------------------------- declared queries

  /** q87: [[snapshotDiff]] against a DuckDB oracle. Two dated snapshots are
    * DERIVED deterministically from `orders` and staged once per fixture
    * signature ([[graft.StageDir]]): day 1 drops every `%97` key, day 2
    * drops every `%101` key and bumps `o_totalprice` on `%89` keys — so
    * added/removed/changed membership is pure modular arithmetic the SQL
    * oracle states directly, while the ENGINE derives it from the
    * partition-pruned full-outer hash compare. Keys hitting both drop
    * rules exist in neither snapshot and must not appear at all.
    */
  /** q89: the bucketed co-located join END-TO-END — write-time bucketing is
    * the 100 TB lever (the shuffle moves to write time, amortized over
    * every later join), and this certifies the full round trip: bucketed
    * write → catalog read → exchange-free join → values identical to the
    * plain SQL join. Tables are (re)written once per session+fixture (the
    * in-memory catalog is session-scoped; the overwrite keeps stale
    * warehouse files from a previous JVM from leaking in).
    */
  // Keyed on the session OBJECT (a WeakHashMap — identityHashCode collides
  // after GC reuses addresses), and a dir is marked done only AFTER both
  // bucketed writes succeed: marking up front would make every later q89
  // call in the session skip re-creation and join against missing/partial
  // tables if a write threw. The map-level lock also serializes concurrent
  // first calls, so a second thread can't read half-written tables.
  private val bucketedFor =
    new java.util.WeakHashMap[SparkSession, java.util.Set[String]]()

  private def ensureBucketed(s: SparkSession, dir: String): (String, String) = {
    val tag = Integer.toHexString(dir.hashCode)
    val (to, tc) = (s"graft_bkt_orders_x$tag", s"graft_bkt_customer_x$tag")
    bucketedFor.synchronized {
      val done = bucketedFor.computeIfAbsent(s, _ => new java.util.HashSet[String]())
      if (!done.contains(dir)) {
        Seq(to, tc).foreach(graft.StageDir.dropManagedTable(s, _))
        val t = graft.Tables(s, dir)
        writeBucketed(t.orders.select("o_orderkey", "o_custkey", "o_totalprice"), to, "o_custkey", 8)
        writeBucketed(t.customer.select("c_custkey", "c_mktsegment"), tc, "c_custkey", 8)
        done.add(dir)
      }
    }
    (to, tc)
  }

  /** q106: compaction end-to-end. A 64-fragment copy of a lineitem
    * projection is staged once per fixture signature (the "streaming sink
    * left small files" starting state), [[compact]]ed to ~4 bin-packed
    * files, and the measured query aggregates from the COMPACTED layout —
    * so the oracle hash certifies the rewrite lost and duplicated nothing.
    * File-count/no-shuffle invariants live in the spec.
    */
  private def ensureCompacted(s: SparkSession, dir: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(s"$dir/lineitem.parquet")
    val sig = s"${java.nio.file.Files.size(p)}:${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
    val tag = Integer.toHexString(dir.hashCode)
    val frag = graft.StageDir.publish(s"graft_q106_frag_$tag", sig) { tmp =>
      graft.Tables(s, dir).lineitem
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .repartition(64)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    // target sized so the 64 fragments pack into a handful of files at
    // every SF (bin count adapts to the actual bytes, not the SF)
    compact(s, frag.toString, s"graft_q106_compact_$tag", s"$sig:t256k",
      targetBytes = 256 * 1024)
  }

  /** q126: [[writeZOrdered]] end-to-end. A lineitem projection is staged
    * once per fixture signature, clustered on the Morton curve of
    * `(l_partkey, l_suppkey)`, and the measured query answers a RECTANGLE
    * predicate on both dimensions from the clustered layout — the oracle
    * recomputes it from the original table, so the hash certifies the
    * rewrite lost and duplicated nothing inside the predicate. The pruning
    * claim itself (clustered files/rowgroups cover small rectangles, so
    * min/max stats exclude most of them; an unclustered layout excludes
    * none) is pinned by the footer-stats spec, which counts overlapping
    * rowgroups in both layouts.
    */
  private def ensureZOrdered(s: SparkSession, dir: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(s"$dir/lineitem.parquet")
    // v2: the sig embeds the RECIPE version (v2 = tile16'd dims) — changing
    // the rewrite construction must invalidate previously staged layouts
    val sig = s"zorder-v2:${java.nio.file.Files.size(p)}:${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
    val tag = Integer.toHexString(dir.hashCode)
    graft.StageDir.publish(s"graft_q126_zorder_$tag", sig) { tmp =>
      val li = graft.Tables(s, dir).lineitem
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_returnflag", "l_quantity")
      // TILE the dims before interleaving: key domains grow with the SF
      // (l_partkey passes 16 bits at sf1), and raw keys would wrap mod
      // 2^16 — distant bands aliasing onto the same curve positions, which
      // dissolves exactly the pruning this layout exists to buy. The two
      // maxes are one cheap aggregate inside the once-per-fixture rewrite.
      val r = li.agg(max("l_partkey"), max("l_suppkey")).head()
      writeZOrderedBy(li,
        tile16(col("l_partkey"), r.getLong(0)),
        tile16(col("l_suppkey"), r.getLong(1)),
        nFiles = 8, tmp.toString)
    }
  }

  /** q131: SCHEMA-EVOLUTION read. Long-lived ingest layouts accumulate
    * files of different vintages — the reference hit exactly this with its
    * v4 datasets' drifting schemas (SURVEY §2.A A9's stale-schema quirk) —
    * and at 100 TB a table is NEVER rewritten just because a column
    * appeared. Two parquet batches of `orders` are staged with different
    * schemas (the even-key batch predates the `o_status` column; the
    * odd-key batch carries it), the read merges footers
    * (`mergeSchema=true`), and the measured aggregate groups by the
    * late-added column — old-vintage rows surface as NULL, exactly the
    * union-by-name semantics the oracle derives from the original table's
    * modular arithmetic (no staged-path literals in the SQL).
    */
  private def ensureEvolved(s: SparkSession, dir: String): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(s"$dir/orders.parquet")
    val sig = s"evolve-v1:${java.nio.file.Files.size(src)}:${java.nio.file.Files.getLastModifiedTime(src).toMillis}"
    graft.StageDir.publish(
      s"graft_q131_evolve_${Integer.toHexString(dir.hashCode)}", sig) { tmp =>
      val orders = s.read.parquet(src.toString)
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode(SaveMode.Append).parquet(tmp.toString)
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          when(col("o_orderkey") % 3 === 0, "gold").otherwise("std").as("o_status"))
        .write.mode(SaveMode.Append).parquet(tmp.toString)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_schema_evolution" -> ((s, dir) => {
      import graft.Present._
      s.read.option("mergeSchema", "true")
        .parquet(ensureEvolved(s, dir).toString)
        .groupBy("o_status")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"),
          min(col("o_orderkey")).as("k0"), max(col("o_orderkey")).as("k1"))
        .presented("o_status")
    }),
    "q126_zorder_layout" -> ((s, dir) => {
      import graft.Present._
      s.read.parquet(ensureZOrdered(s, dir).toString)
        .filter(col("l_partkey").between(50, 199) &&
          col("l_suppkey").between(2, 60))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_quantity")).as("sq"),
          min(col("l_orderkey")).as("k0"), max(col("l_orderkey")).as("k1"))
        .presented("l_returnflag")
    }),
    "q106_compaction" -> ((s, dir) => {
      import graft.Present._
      s.read.parquet(ensureCompacted(s, dir).toString)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_quantity")).as("sq"),
          min(col("l_orderkey")).as("k0"), max(col("l_orderkey")).as("k1"))
        .presented("l_returnflag")
    }),
    "q89_bucketed_join" -> ((s, dir) => {
      import graft.Present._
      val (to, tc) = ensureBucketed(s, dir)
      coLocatedJoin(s, to, tc, "o_custkey", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"))
        .presented("c_mktsegment")
    }),
    "q87_snapshot_diff" -> ((s, dir) => {
      val src = java.nio.file.Paths.get(s"$dir/orders.parquet")
      val sig = s"snapdiff-v1:${java.nio.file.Files.size(src)}:${java.nio.file.Files.getLastModifiedTime(src).toMillis}"
      val root = graft.StageDir.publish(
        s"graft_snapdiff_${Integer.toHexString(dir.hashCode)}", sig) { tmp =>
        val orders = s.read.parquet(src.toString)
        writeSnapshot(orders.filter(col("o_orderkey") % 97 =!= 0),
          tmp.toString, LocalDate.of(2026, 1, 1))
        writeSnapshot(orders.filter(col("o_orderkey") % 101 =!= 0)
            .withColumn("o_totalprice",
              when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
                .otherwise(col("o_totalprice"))),
          tmp.toString, LocalDate.of(2026, 1, 2))
      }
      import graft.Present._
      // presentedResultSized: snapshotDiff's OUTPUT is churn-proportional
      // by contract (unchanged rows are filtered before the result leaves
      // the join — scaladoc at snapshotDiff), which the fan-in rule's
      // upper bound cannot see through the full-outer join (it reads the
      // 3M-row snapshot leaves). Measured two-mode at sf1 (r15
      // A/B): single 0.90 s vs range 1.19 s.
      snapshotDiff(s, root.toString, LocalDate.of(2026, 1, 1),
          LocalDate.of(2026, 1, 2), Seq("o_orderkey"))
        .presentedResultSized("o_orderkey")
    }))

  val oracles: Map[String, String] = Map(
    // union-by-name semantics reconstructed from the original table: even
    // keys predate o_status (NULL group), odd keys carry the derived value
    "q131_schema_evolution" ->
      """SELECT o_status, COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                MIN(o_orderkey) AS k0, MAX(o_orderkey) AS k1
         FROM (SELECT o_orderkey, o_totalprice,
                      CASE WHEN o_orderkey % 2 = 0 THEN NULL
                           WHEN o_orderkey % 3 = 0 THEN 'gold'
                           ELSE 'std' END AS o_status
               FROM orders)
         GROUP BY o_status ORDER BY o_status NULLS FIRST""",
    "q126_zorder_layout" ->
      """SELECT l_returnflag, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
                MIN(l_orderkey) AS k0, MAX(l_orderkey) AS k1
         FROM lineitem
         WHERE l_partkey BETWEEN 50 AND 199 AND l_suppkey BETWEEN 2 AND 60
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q106_compaction" ->
      """SELECT l_returnflag, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
                MIN(l_orderkey) AS k0, MAX(l_orderkey) AS k1
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q89_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q87_snapshot_diff" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 97 = 0 THEN 'added'
                     WHEN o_orderkey % 101 = 0 THEN 'removed'
                     ELSE 'changed' END AS change
         FROM orders
         WHERE (CASE WHEN o_orderkey % 97 = 0 THEN o_orderkey % 101 <> 0
                     WHEN o_orderkey % 101 = 0 THEN TRUE
                     ELSE o_orderkey % 89 = 0 END)
         ORDER BY o_orderkey""")
}
