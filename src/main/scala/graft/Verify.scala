package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.freshQueries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: substring filters for a targeted re-dump (builder
    // tooling; the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val filters = args.drop(2)
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: one pathological query must not hang the whole
    // correctness run — cancel its job group after the timeout and move on.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "300").toLong
    SparkEntry.freshQueries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
      val worker = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally spark.sparkContext.clearJobGroup()
      }, s"verify-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000)
      if (worker.isAlive) {
        System.err.println(s"[verify] $name timed out after ${timeoutSec}s; cancelling")
        spark.sparkContext.cancelJobGroup(name)
        // streaming queries run their microbatches under StreamExecution's
        // own job group — stop any stream the hung query left active
        spark.streams.active.foreach { q =>
          try q.stop() catch { case _: Throwable => () }
        }
        worker.join(30000)
      }
    }
    writeOracleSql(Paths.get(s"$outDir/oracle_sql.json"))
    spark.stop()
  }

  /** Writes [[SparkEntry.oracleSql]] as one JSON object (sorted keys): the
    * DuckDB cross-check (`tools/check_oracles.py`) reads it from a Verify
    * dump, and `tools/bench_ab.py` reads the copy [[Bench]] hands it.
    */
  private[graft] def writeOracleSql(path: Path): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(path, SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"))
  }
}
