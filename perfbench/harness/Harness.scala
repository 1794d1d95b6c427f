package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.odata.{ODataUrls, ReplayClient, StatlineClient, StatlineIngest}

/** Counts every request the ingest connector makes. Executors deserialize
  * their own copies, so the counters live in the companion: on `local[n]`
  * all copies share one JVM.
  */
final class CountingClient(inner: StatlineClient) extends StatlineClient {
  override def get(url: String): Option[String] = {
    val t0 = System.nanoTime()
    val r = inner.get(url)
    CountingClient.requests.incrementAndGet()
    CountingClient.bytes.addAndGet(r.map(_.length.toLong).getOrElse(0L))
    CountingClient.getNs.addAndGet(System.nanoTime() - t0)
    r
  }
}

object CountingClient {
  val requests = new java.util.concurrent.atomic.AtomicLong
  val bytes = new java.util.concurrent.atomic.AtomicLong
  val getNs = new java.util.concurrent.atomic.AtomicLong
  def snapshot(): (Long, Long, Long) = (requests.get, bytes.get, getNs.get)
}

/** One benchmark run in one JVM: session start, workload set-up, warm-up
  * passes (the first keeps every op's output for the oracle check), then
  * closed-loop timed passes until the deadline. Reads its settings from a
  * JSON file and writes raw samples, spans and events to another; all
  * statistics are computed by the Python side.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** Ops named `ingest:<table>` publish a replay of that generated table. */
  val IngestPrefix = "ingest:"

  final case class Sample(op: String, pass: Int, traced: Boolean, start: Long, end: Long,
                          cpuNs: Long, gcMs: Long, codegenNs: Long, liveHeap: Long, rows: Long,
                          error: String)

  /** What one ingest op moved: connector traffic in, Parquet out. */
  final case class IngestWrite(op: String, pass: Int, parquetFiles: Int, parquetBytes: Long,
                               jsonBytes: Long, requests: Long, getNs: Long, rows: Long)

  /** A seeded CBS OData v3 replay of one generated table. */
  final case class Dataset(id: String, table: String, pages: Map[String, String],
                           rows: Long, digest: String)

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Order-insensitive digest of collected rows: (row count, sum of hashes). */
  def rowsDigest(rows: Array[Row]): String =
    s"${rows.length}:${rows.iterator.map(_.hashCode.toLong).sum}"

  /** The same idea computed by Spark, over a projection both the generated
    * source and the ingested copy share (timestamps compared as text).
    */
  def frameDigest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType => col(f.name).cast(StringType)
        case _                                => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), s"${r.getLong(0)}:${r.getDecimal(1)}")
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Paths.get(args(0)).toFile)
    val runDir = cfg.get("run_dir").asText
    val dataDir = cfg.get("data_dir").asText
    val cpus = cfg.get("cpus").asInt
    val trace = cfg.get("trace").asBoolean
    val listed = cfg.get("ops").elements().asScala.map(_.asText).toIndexedSeq
    val ops =
      if (listed.nonEmpty) listed
      else cfg.get("families").elements().asScala.flatMap(f => families(f.asText)).toIndexedSeq.sorted
    val seed = cfg.get("seed").asLong

    val sessionStart = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.ui.enabled", "false")
    if (trace) builder
      .config("spark.sql.queryExecutionListeners", classOf[TraceQueryListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[TraceStreamListener].getName)
    val spark = SparkEntry.configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) spark.sparkContext.addSparkListener(new TraceSparkListener)
    val sessionS = (System.nanoTime() - sessionStart) / 1e9

    val fixtureStart = System.nanoTime()
    val datasets: Map[String, Dataset] =
      ops.filter(_.startsWith(IngestPrefix)).zipWithIndex.map { case (op, i) =>
        op -> replayOf(spark, dataDir, op.stripPrefix(IngestPrefix), f"9${i + 1}%04dBEN")
      }.toMap
    val fixtureS = (System.nanoTime() - fixtureStart) / 1e9
    val ingestRoot = s"$runDir/ingest"
    val outputs = Paths.get(runDir, "outputs")
    Files.createDirectories(outputs)
    mapper.writeValue(outputs.resolve("oracle_sql.json").toFile,
      SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }.asJava)

    val samples = ArrayBuffer.empty[Sample]
    val firstDigest = scala.collection.mutable.Map.empty[String, String]
    val writes = ArrayBuffer.empty[IngestWrite]

    /** One op: the timed region is exactly the calls into the program. */
    def runOp(op: String, pass: Int, keepOutput: Boolean): Sample = {
      try spark.sharedState.cacheManager.clearCache() catch { case _: Exception => () }
      System.gc()
      val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val (c0, g0, k0, t0) = (cpuNs(), gcMs(), CodeGenerator.compileTime, Trace.now())
      var rowsN = 0L
      var digest = ""
      var error = ""
      var kept: Option[(Array[Row], StructType)] = None
      var ingested: Option[(String, Dataset)] = None
      val http0 = CountingClient.snapshot()
      try Trace.span("op", op) {
        datasets.get(op) match {
          case Some(ds) =>
            val res = Trace.span("sources.ingest", op) {
              new StatlineIngest(spark, new CountingClient(ReplayClient(ds.pages)))
                .run(ds.id, ingestRoot, "catalog", force = true)
            }
            val (n, d) = Trace.span("sources.readback", op) {
              frameDigest(spark.table(s"cbs_v3_${ds.id}.${ds.id}_TypedDataSet"))
            }
            rowsN = n
            digest = d
            ingested = Some((res.snapshotDir, ds))
          case None =>
            val df = Trace.span("operators.build", op) {
              val d = SparkEntry.freshQueries(op)(spark, dataDir)
              d.queryExecution.tracker.phases.get("analysis").foreach { p =>
                Trace.record("spark.analysis", op, p.startTimeMs, p.endTimeMs)
              }
              d
            }
            Trace.span("spark.optimize", op)(df.queryExecution.optimizedPlan)
            Trace.span("spark.physical", op)(df.queryExecution.executedPlan)
            val rows = Trace.span("spark.execute", op)(df.collect())
            rowsN = rows.length
            kept = Some((rows, df.schema))
        }
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      val t1 = Trace.now()
      val s = Sample(op, pass, Trace.enabled, t0, t1, cpuNs() - c0, gcMs() - g0,
        CodeGenerator.compileTime - k0, liveHeap, rowsN, error)
      // Everything below is untimed bookkeeping and checking.
      ingested.foreach { case (snap, ds) =>
        val parts = Files.walk(Paths.get(snap)).iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p)).toSeq
        val http1 = CountingClient.snapshot()
        writes += IngestWrite(op, pass, parts.size, parts.map(Files.size).sum,
          http1._2 - http0._2, http1._1 - http0._1, http1._3 - http0._3, ds.rows)
        if (error.isEmpty && digest != ds.digest)
          error = s"read-back digest $digest != source digest ${ds.digest}"
      }
      kept.foreach { case (rows, _) => digest = rowsDigest(rows) }
      kept.filter(_ => keepOutput).foreach { case (rows, schema) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(outputs.resolve(op).toString)
      }
      if (error.isEmpty) firstDigest.get(op) match {
        case Some(d) if d != digest => error = s"digest $digest != first digest $d"
        case None                   => firstDigest(op) = digest
        case _                      => ()
      }
      s.copy(error = error)
    }

    def pass(p: Int, keepOutput: Boolean): Seq[Sample] =
      new scala.util.Random(seed * 1000003L + p).shuffle(ops).map(runOp(_, p, keepOutput))

    val warmup = cfg.get("warmup_passes").asInt
    val warmStart = System.nanoTime()
    val warm = (1 to warmup).flatMap(p => pass(p, keepOutput = p == 1))
    val warmupS = (System.nanoTime() - warmStart) / 1e9
    val timedStartMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (cfg.get("seconds").asDouble * 1e9).toLong
    val minPasses = cfg.get("min_passes").asInt
    var p = warmup
    while (p - warmup < minPasses || System.nanoTime() < deadline) {
      p += 1
      // traced runs alternate traced and untraced passes: the difference
      // between the two kinds is the tracing overhead
      Trace.enabled = trace && (p - warmup) % 2 == 1
      samples ++= pass(p, keepOutput = false)
    }
    Trace.enabled = false
    val timedEndMs = System.currentTimeMillis()
    val compileS = CodeGenerator.compileTime / 1e9
    spark.stop() // drains the listener bus: every event is delivered

    val out = mapper.createObjectNode()
    out.put("session_s", sessionS)
    out.put("fixture_s", fixtureS)
    out.put("warmup_s", warmupS)
    out.put("timed_start_ms", timedStartMs)
    out.put("timed_end_ms", timedEndMs)
    out.put("jvm_start_ms", ManagementFactory.getRuntimeMXBean.getStartTime)
    out.put("codegen_total_s", compileS)
    out.put("peak_rss_kb", procStatus("VmHWM"))
    out.put("spark_version", spark.version)
    out.put("jdk", System.getProperty("java.version"))
    out.put("nproc", Runtime.getRuntime.availableProcessors)
    val opsArr = out.putArray("ops")
    ops.foreach(o => opsArr.add(o))
    val sArr = out.putArray("samples")
    def put(s: Sample, warmPass: Boolean): Unit = {
      val n = sArr.addObject()
      n.put("op", s.op); n.put("pass", s.pass); n.put("warmup", warmPass); n.put("traced", s.traced)
      n.put("start", s.start); n.put("end", s.end); n.put("cpu_ns", s.cpuNs); n.put("gc_ms", s.gcMs)
      n.put("codegen_ns", s.codegenNs); n.put("live_heap", s.liveHeap); n.put("rows", s.rows)
      n.put("error", s.error)
    }
    warm.foreach(put(_, warmPass = true))
    samples.foreach(put(_, warmPass = false))
    val spArr = out.putArray("spans")
    Trace.spans.foreach { s =>
      val n = spArr.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("start", s.start); n.put("end", s.end)
      n.put("parent", s.parent); n.put("op", s.op)
    }
    val evArr = out.putArray("events")
    Trace.events.foreach { case (k, st, en, f) =>
      val n = evArr.addObject()
      n.put("kind", k); n.put("start", st); n.put("end", en)
      f.foreach { case (fk, fv) => n.put(fk, fv) }
    }
    val wArr = out.putArray("ingest")
    writes.foreach { w =>
      val n = wArr.addObject()
      n.put("op", w.op); n.put("pass", w.pass); n.put("parquet_files", w.parquetFiles)
      n.put("parquet_bytes", w.parquetBytes); n.put("json_bytes", w.jsonBytes)
      n.put("requests", w.requests); n.put("get_ns", w.getNs); n.put("rows", w.rows)
    }
    mapper.writeValue(Paths.get(cfg.get("out_file").asText).toFile, out)
  }

  /** The program's op families, by the name of the object that declares them. */
  private def families(name: String): Iterable[String] = (name match {
    case "Relational"      => graft.queries.Relational.queries
    case "AsOfJoin"        => graft.operators.AsOfJoin.queries
    case "SkewJoin"        => graft.operators.SkewJoin.queries
    case "Funnels"         => graft.operators.Funnels.queries
    case "Resample"        => graft.operators.Resample.queries
    case "Profile"         => graft.operators.Profile.queries
    case "MergeUpsert"     => graft.operators.MergeUpsert.queries
    case "ScaleLayouts"    => graft.sources.ScaleLayouts.queries
    case "ConnectorReplay" => graft.sources.odata.ConnectorReplay.queries
    case "Dedup"           => graft.operators.Dedup.queries
    case "Similarity"      => graft.operators.Similarity.queries
    case "TextAnalysis"    => graft.operators.TextAnalysis.queries
    case "Cleaning"        => graft.operators.Cleaning.queries
    case "Curation"        => graft.operators.Curation.queries
    case "Sketches"        => graft.operators.Sketches.queries
    case "Multimodal"      => graft.operators.Multimodal.queries
    case "Pipeline"        => graft.operators.Pipeline.queries
    case "EventStreams"    => graft.streaming.EventStreams.queries
    case "DocPipeline"     => graft.streaming.DocPipeline.queries
  }).keys

  private def procStatus(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def edmType(t: DataType): String = t match {
    case LongType                         => "Edm.Int64"
    case IntegerType                      => "Edm.Int32"
    case DoubleType                       => "Edm.Double"
    case TimestampType | TimestampNTZType => "Edm.DateTime"
    case _                                => "Edm.String"
  }

  /** Builds an offline CBS OData v3 replay of one generated table: catalog
    * entry with RecordCount, service document, CSDL `$metadata`,
    * DataProperties, and `$skip` pages of the v3 page size over every url
    * `ODataUrls.pageUrls` asks for — including the trailing empty page when
    * the row count is a multiple of the page size. Row objects come
    * pre-serialized from the generator (`<table>.jsonl`).
    */
  def replayOf(spark: SparkSession, dataDir: String, table: String, id: String): Dataset = {
    val df = spark.read.parquet(s"$dataDir/$table.parquet")
    val fields = df.schema.fields
    val rows = Files.readAllLines(Paths.get(s"$dataDir/$table.jsonl")).asScala.toIndexedSeq
    val base = s"https://opendata.cbs.nl/ODataFeed/odata/$id"
    def page(values: Seq[String]): String =
      s"""{"odata.metadata":"$base/$$metadata#Cbs.TData","value":[${values.mkString(",")}]}"""
    val csdl =
      s"""<?xml version="1.0" encoding="utf-8"?>
         |<edmx:Edmx xmlns:edmx="http://schemas.microsoft.com/ado/2007/06/edmx" Version="1.0">
         |<edmx:DataServices><Schema xmlns="http://schemas.microsoft.com/ado/2009/11/edm" Namespace="Cbs">
         |<EntityType Name="TData">
         |${fields.map(f => s"""<Property Name="${f.name}" Type="${edmType(f.dataType)}"/>""").mkString("\n")}
         |</EntityType></Schema></edmx:DataServices></edmx:Edmx>""".stripMargin
    val props = fields.zipWithIndex.map { case (f, i) =>
      val n = mapper.createObjectNode()
      n.put("odata.type", "Cbs.Topic"); n.put("ID", i); n.put("Position", i)
      n.put("Key", f.name); n.put("Title", f.name)
      n.put("Description", s"Column ${f.name} of the generated $table table")
      mapper.writeValueAsString(n)
    }
    val catalog = mapper.createObjectNode()
    val entry = catalog.putArray("value").addObject()
    entry.put("Identifier", id); entry.put("Title", s"generated $table")
    entry.put("ShortDescription", s"seeded replay of $table"); entry.put("Modified", "2024-01-01T00:00:00")
    entry.put("RecordCount", rows.length.toLong); entry.put("ColumnCount", fields.length)
    val tables = Seq("TableInfos", "UntypedDataSet", "TypedDataSet", "DataProperties")
    val serviceDoc = mapper.createObjectNode()
    val docValues = serviceDoc.putArray("value")
    tables.foreach { t => docValues.addObject().put("name", t).put("url", s"$base/$t") }
    val typedUrl = s"$base/TypedDataSet?$$format=json"
    val pageSize = ODataUrls.V3PageSize.toInt
    val dataPages = ODataUrls.pageUrls(typedUrl, Some(rows.length.toLong), "v3").zipWithIndex.map {
      case (u, i) => u -> page(rows.slice(i * pageSize, (i + 1) * pageSize))
    }
    val pages = Map(
      ODataUrls.v3CatalogUrl(id, thirdParty = false) -> mapper.writeValueAsString(catalog),
      ODataUrls.v3ServiceDoc(id, thirdParty = false) -> mapper.writeValueAsString(serviceDoc),
      s"$base/$$metadata" -> csdl,
      s"$base/DataProperties?$$format=json" -> page(props.toSeq)) ++ dataPages
    val (n, digest) = frameDigest(df)
    Dataset(id, table, pages, n, digest)
  }
}
