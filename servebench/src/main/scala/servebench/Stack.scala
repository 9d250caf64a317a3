package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftshim.ManifestFileIndex

import graft.api.{HttpApi, IngestScheduler}
import graft.compact.Compactor
import graft.core.{Manifest, Storage}
import graft.ingest.{BufferedAppender, HepV3, Listeners}
import graft.query.{Dialect, QueryService}

/** Background cadences for the capture workload: the flush timer (the
  * appender's own 1,000-row buffers flush inline) and the compaction
  * interval, shortened so several passes land in one run. */
final case class Cadence(flushMs: Long, compactMs: Long)

/** One HEPop server, assembled from the same public constructors as
  * `graft.api.Server.main`: Storage(pruneInScan = true), BufferedAppender,
  * QueryService, Compactor, a TCP HEP listener and HttpApi. With tracing
  * on, the listener's sink and the scheduler are harness mirrors of
  * `Listeners.appenderSink` and `IngestScheduler` that time each call. */
final class Stack(spark: SparkSession, val dir: Path, tr: Tracer,
    cadence: Option[Cadence], rawAgeMs: Long = 600000L) {
  Files.createDirectories(dir)
  /** Run-clock time the background cadences started from. */
  val startedMs: Double = tr.nowMs
  val storage = new Storage(dir, pruneInScan = true)
  val appender = new BufferedAppender(spark, dir)
  val queries = new QueryService(spark, storage)
  val compactor = new Compactor(spark, dir, rawAgeNs = rawAgeMs * 1000000L)
  /** The HEP frame sink the listener feeds: the server's own
    * `Listeners.appenderSink`, or its timed mirror when tracing. */
  val sink: Array[Byte] => Unit = if (tr.on) tracedSink else Listeners.appenderSink(appender)
  val tcp: Listeners.TcpHepListener = new Listeners.TcpHepListener(sink, 0).start()
  val http: HttpApi = new HttpApi(queries, appender, 0).start()

  private val walSeen = new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()

  /** Remember every raw WAL file seen in a manifest (compaction later
    * replaces them) as (bytes, rows). */
  def noteWalFiles(files: Seq[(String, Manifest.FileEntry)]): Unit =
    files.filter(_._2.`type` == "raw").foreach { case (t, f) =>
      walSeen.put((t, f.path), (f.size_bytes, f.row_count))
    }

  /** Bytes of compacted files this server's traced passes wrote. */
  val compactedBytes = new java.util.concurrent.atomic.AtomicLong

  def walTotals: (Long, Long) = {
    val v = walSeen.values.asScala
    (v.map(_._1).sum, v.map(_._2).sum)
  }

  private val untracedScheduler: Option[IngestScheduler] =
    if (tr.on) None
    else cadence.map(c => new IngestScheduler(appender, compactor, storage,
      flushIntervalMs = c.flushMs, compactIntervalMs = c.compactMs).start())
  private val tracedScheduler: Option[ScheduledExecutorService] =
    if (!tr.on) None
    else cadence.map { c =>
      val ex = Executors.newScheduledThreadPool(2, r => {
        val t = new Thread(r, "servebench-scheduler"); t.setDaemon(true); t
      })
      ex.scheduleAtFixedRate(() => tracedFlush(), c.flushMs, c.flushMs, TimeUnit.MILLISECONDS)
      ex.scheduleAtFixedRate(() => tracedCompaction(), c.compactMs, c.compactMs,
        TimeUnit.MILLISECONDS)
      ex
    }

  /** Mirror of `Listeners.appenderSink`: decode, then append. An append
    * that leaves the buffer smaller than before flushed inline. */
  private def tracedSink: Array[Byte] => Unit = frame => {
    val t0 = tr.nowMs
    val pkt = HepV3.decode(frame)
    val t1 = tr.nowMs
    tr.sample("hep.decode_ms", t1 - t0)
    pkt.foreach { p =>
      val table = s"hep_${p.rcinfo.payloadType.getOrElse(0)}"
      val before = appender.bufferedRowCount(table)
      appender.addHep(p)
      val t2 = tr.nowMs
      if (appender.bufferedRowCount(table) <= before) {
        tr.sample("append.flush_ms", t2 - t1)
        tr.sample("append.rows_per_flush", before + 1)
        tr.span("BufferedAppender.flush", t1, t2)
      } else tr.sample("append.append_ms", t2 - t1)
    }
  }

  /** `appender.flushAll()`, timed when tracing. */
  def flushAll(): Unit = if (tr.on) tracedFlush() else appender.flushAll()

  private def tracedFlush(): Unit =
    try {
      val rows = appender.tableNames.map(appender.bufferedRowCount).sum
      val t0 = tr.nowMs
      appender.flushAll()
      val t1 = tr.nowMs
      if (rows > 0) {
        tr.sample("append.flush_ms", t1 - t0)
        tr.sample("append.rows_per_flush", rows)
        tr.span("BufferedAppender.flushAll", t0, t1)
      }
    } catch { case e: Exception => System.err.println(s"[flush] $e") }

  /** One pass over every table, as IngestScheduler does, recording the
    * raw WAL files it saw (for bytes per row) and what it rewrote. */
  def tracedCompaction(): Unit =
    try {
      val tables = storage.tableNames
      val before = tables.flatMap(t => manifestFiles(t).map(t -> _))
      noteWalFiles(before)
      val t0 = tr.nowMs
      tables.foreach(compactor.compactTable(_))
      val t1 = tr.nowMs
      val beforeIds = before.map(e => (e._1, e._2.path)).toSet
      val written = tables.flatMap(t => manifestFiles(t).map(t -> _))
        .filterNot(e => beforeIds.contains((e._1, e._2.path)))
        .filter(_._2.`type` == "compacted")
      tr.span("Compactor.pass", t0, t1)
      tr.sample("compact.pass_ms", t1 - t0)
      tr.count("compact.passes")
      compactedBytes.addAndGet(written.map(_._2.size_bytes).sum)
    } catch { case e: Exception => System.err.println(s"[compact] $e") }

  def manifestFiles(table: String): Seq[Manifest.FileEntry] =
    Manifest.writerDirs(dir).flatMap(w =>
      Manifest.loadTable(Manifest.tableManifestPath(dir, w.getFileName.toString, table))
        .toSeq.flatMap(_.files))

  /** Rows committed to the manifest for `table` (all writers). */
  def committedRows(table: String): Long = manifestFiles(table).map(_.row_count).sum

  /** Stop the background work the way the server's shutdown hook does:
    * the scheduler's final flush runs, then listeners and HTTP stop. */
  def stopScheduler(): Unit = {
    untracedScheduler.foreach(_.stop())
    tracedScheduler.foreach { ex =>
      ex.shutdown(); ex.awaitTermination(60, TimeUnit.SECONDS); tracedFlush()
    }
  }

  def stop(): Unit = {
    stopScheduler()
    tcp.stop()
    http.stop()
  }
}

/** One client's HTTP connection to the server. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def query(sql: String): (Int, String) = {
    val q = java.net.URLEncoder.encode(sql, StandardCharsets.UTF_8)
    val r = client.send(HttpRequest.newBuilder(URI.create(s"$base/query?q=$q")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  def write(body: String): Int =
    client.send(HttpRequest.newBuilder(URI.create(s"$base/write"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode
}

/** The traced query path: the steps of `QueryService.executeJson`, run
  * in-process and timed one by one — dialect normalization and parse,
  * QueryService resolution (views, time range, manifest-backed relation),
  * Catalyst analysis/optimization/planning and execution, JSON rendering
  * — plus the manifest and file-pruning counts of each scan. */
final class TracedQuery(spark: SparkSession, tr: Tracer) {
  private val cap = 100000 // QueryService's default JSON row cap

  def run(qs: QueryService, sql: String, dataDir: Option[Path], traceId: Long): String = {
    val root = tr.newId()
    val t0 = tr.nowMs
    val norm = Dialect.normalize(sql)
    spark.sessionState.sqlParser.parsePlan(norm)
    val t1 = tr.nowMs
    tr.span("query.Dialect.parse", t0, t1, root, traceId)
    dataDir.foreach(d => timeManifests(d, sql, root, traceId))
    val group = s"sbq-$traceId"
    spark.sparkContext.setJobGroup(group, "servebench traced query", interruptOnCancel = false)
    try {
      val t2 = tr.nowMs
      val df = qs.execute(sql).asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      val t3 = tr.nowMs
      val execId = tr.span("query.QueryService.execute", t2, t3, root, traceId)
      phases(df.queryExecution.tracker, Set("analysis"), execId, traceId)
      // Files the manifest lists for each scanned table, read before the
      // scan lists them (compaction may swap files while the query runs).
      tr.count("prune.files_considered", df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location match {
            case idx: ManifestFileIndex => idx.inputFiles.length.toLong
            case _ => 0L
          }
          case _ => 0L
        }
      }.sum)
      val out = df.limit(cap + 1).toJSON
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[String]]
      val rows = out.collect()
      val t4 = tr.nowMs
      val collectId = tr.span("query.collect", t3, t4, root, traceId)
      phases(out.queryExecution.tracker, Set("optimization", "planning"), collectId, traceId)
      tr.span("query", t0, t4, 0L, traceId, id = root)
      scans(out.queryExecution.executedPlan).foreach { s =>
        if (s.relation.location.isInstanceOf[ManifestFileIndex]) {
          tr.count("prune.files_kept", s.metrics.get("numFiles").map(_.value).getOrElse(0L))
          tr.count("prune.scans")
        }
      }
      if (rows.length > cap) (rows.take(cap) :+ """{"_truncated":true}""").mkString("[", ",", "]")
      else rows.mkString("[", ",", "]")
    } finally spark.sparkContext.clearJobGroup()
  }

  private def phases(tracker: org.apache.spark.sql.catalyst.QueryPlanningTracker,
      names: Set[String], parent: Long, traceId: Long): Unit =
    tracker.phases.foreach { case (name, p) =>
      if (names.contains(name)) {
        // Phase times are epoch ms; place them on the run clock by their
        // offset from now (both clocks advance together at ms resolution).
        val shift = tr.nowMs - System.currentTimeMillis()
        tr.span(s"catalyst.$name", p.startTimeMs + shift, p.endTimeMs + shift, parent, traceId)
      }
    }

  private def timeManifests(dir: Path, sql: String, parent: Long, traceId: Long): Unit = {
    val tables = "(?i)\\bFROM\\s+([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(sql).map(_.group(1)).toSet
    Manifest.writerDirs(dir).foreach { w =>
      tables.foreach { t =>
        val path = Manifest.tableManifestPath(dir, w.getFileName.toString, t)
        if (Files.exists(path)) {
          val t0 = tr.nowMs
          val m = Manifest.loadTable(path)
          val t1 = tr.nowMs
          tr.span("core.Manifest.load", t0, t1, parent, traceId)
          tr.sample("manifest.load_ms", t1 - t0)
          tr.sample("manifest.entries", m.map(_.files.size).getOrElse(0).toDouble)
          tr.sample("manifest.bytes", Files.size(path).toDouble)
        }
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

object Stack {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
