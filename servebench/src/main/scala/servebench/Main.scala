package servebench

import java.lang.management.ManagementFactory
import java.net.Socket
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.functions.GraftExtensions
import graft.ingest.{LineProtocol, Listeners}
import graft.query.LlmViews

/** ServeBench's in-process half: hosts one HEPop server per set-up
  * repetition, drives it with the inputs `run.py` generated, and writes
  * every raw observation to `record.json` in the run directory. All
  * reduction (percentiles, freshness, self time) and every answer check
  * happen in `run.py`, against the generator's ground truth.
  *
  * Usage: servebench.Main <run dir holding plan.json>
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val runDir = Paths.get(args(0))
    val plan = JsonMethods.parse(Files.readString(runDir.resolve("plan.json")))
    val epochNs = System.nanoTime()
    val tr = new Tracer((plan \ "trace").extract[Int] == 1, epochNs)
    val cpus = Runtime.getRuntime.availableProcessors()
    // The settings of graft.api.Server.main; only scratch locations differ.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.min(cpus, 16))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.registerAll(spark)
    val jobs = new JobListener
    if (tr.on) spark.sparkContext.addSparkListener(jobs)
    val bootS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val rec = mutable.LinkedHashMap[String, Any]("boot_s" -> bootS, "cpus" -> cpus)
    val w = new Workloads(spark, runDir, plan, tr, rec)
    (plan \ "workload").extract[String] match {
      case "capture" => w.capture()
      case "investigate" => w.investigate()
      case "llm_views" => w.llmViews()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (tr.on) {
      Thread.sleep(500) // let the listener bus deliver the last task ends
      rec("jobs") = jobs.snapshot
    }
    rec ++= tr.toRecord
    Files.writeString(runDir.resolve("record.json"), Serialization.write(rec.toMap))
    spark.stop()
    sys.exit(0)
  }
}

final class Workloads(spark: SparkSession, runDir: Path, plan: JValue, tr: Tracer,
    rec: mutable.Map[String, Any]) {
  import Main.formats

  private def int(v: JValue): Int = v.extract[Int]
  private def long(v: JValue): Long = v.extract[Long]
  private def str(v: JValue): String = v.extract[String]
  private val seconds = (plan \ "seconds").extract[Double]
  private val setupReps = int(plan \ "setup_reps")
  private def input(name: String): Path = runDir.resolve(str(plan \ name))

  private val queryLog = new ConcurrentLinkedQueue[Seq[Any]]()
  private val traceIds = new java.util.concurrent.atomic.AtomicLong(0)

  // ---- shared pieces -------------------------------------------------

  private def readFrames(p: Path): Array[Array[Byte]] =
    Listeners.splitFrames(Files.readAllBytes(p)).toArray

  private def readOffsets(p: Path): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(Files.readAllBytes(p)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 8)(bb.getLong)
  }

  /** Overwrite the HEP time chunks. The generator lays every frame out
    * with the seconds chunk body at byte 62 and microseconds at 72. */
  private def stamp(f: Array[Byte], ms: Long): Unit = {
    def u32(at: Int, v: Long): Unit = {
      f(at) = (v >> 24).toByte; f(at + 1) = (v >> 16).toByte
      f(at + 2) = (v >> 8).toByte; f(at + 3) = v.toByte
    }
    u32(62, ms / 1000); u32(72, (ms % 1000) * 1000)
  }

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)
  private val placeholder = "\\{t:(-?\\d+)\\}".r

  /** Replace `{t:<offset ms>}` with the UTC time `anchor + offset`. */
  private def bind(sql: String, anchorMs: Long): String =
    placeholder.replaceAllIn(sql, m => isoFmt.format(Instant.ofEpochMilli(anchorMs + m.group(1).toLong)))

  private def clients(anchorMs: Long): Seq[(String, IndexedSeq[String], Int)] =
    (plan \ "clients").children.map { c =>
      (str(c \ "name"), (c \ "queries").children.map(q => bind(str(q), anchorMs)).toIndexedSeq,
        int(c \ "start"))
    }

  private def sleepUntil(ms: Double): Unit = {
    var left = ms - tr.nowMs
    while (left > 0) { LockSupport.parkNanos((left * 1e6).toLong); left = ms - tr.nowMs }
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.start(); t
  }

  /** Closed-loop client: the next request goes out when the previous one
    * has answered. With tracing on, every other pass over the query list
    * runs the traced in-process path instead of HTTP, so load stays one
    * request at a time and every query is seen both ways. */
  private def closedLoop(st: Stack, name: String, qs: IndexedSeq[String], start: Int,
      untilMs: Double, traced: Option[TracedQuery], dataDir: Option[Path]): Thread =
    thread(s"client-$name") {
      val http = new Http(st.http.boundPort)
      var i = 0
      while (tr.nowMs < untilMs) {
        val idx = (start + i) % qs.size
        val inproc = traced.isDefined && (i / qs.size) % 2 == 1
        val traceId = if (inproc) traceIds.incrementAndGet() else 0L
        val t0 = tr.nowMs
        val (status, body) =
          try {
            if (inproc) (200, traced.get.run(st.queries, qs(idx), dataDir, traceId))
            else http.query(qs(idx))
          } catch { case e: Exception => (-1, e.toString) }
        queryLog.add(Seq(name, idx, t0, tr.nowMs, status, body,
          if (inproc) "inproc" else "http", traceId))
        i += 1
      }
    }

  /** First answered request of a freshly built server: the first query
    * that returns 200 with a body satisfying `ok`. */
  private def firstAnswer(st: Stack, sql: String, ok: String => Boolean = _ => true): String = {
    val http = new Http(st.http.boundPort)
    val deadline = tr.nowMs + 60000
    while (tr.nowMs < deadline) {
      val (s, b) = http.query(sql)
      if (s == 200 && ok(b)) return b
      Thread.sleep(5)
    }
    throw new IllegalStateException(s"no answer to $sql within 60 s")
  }

  /** Warm-up after the set-up repetitions: each distinct query shape
    * answered once, so first-execution compilation is not timed as load. */
  private def warmUp(st: Stack, anchorMs: Long): Unit = {
    val t0 = tr.nowMs
    (plan \ "warmup").children.foreach(q => firstAnswer(st, bind(str(q), anchorMs)))
    rec("warmup_s") = (tr.nowMs - t0) / 1e3
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def measured(startMs: Double)(threads: Seq[Thread]): Unit = {
    val gc0 = gcMs
    threads.foreach(_.join())
    rec("measure") = Map("start_ms" -> startMs, "end_ms" -> tr.nowMs, "gc_ms" -> (gcMs - gc0))
    rec("queries") = queryLog.asScala.toList
  }

  private def parquetBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && Files.isRegularFile(p)
    }.map(Files.size(_)).sum
    finally s.close()
  }

  // ---- capture -------------------------------------------------------

  def capture(): Unit = {
    val hep = plan \ "hep"
    val lp = plan \ "lp"
    val cad = plan \ "cadence"
    val cadence = Cadence(long(cad \ "flush_ms"), long(cad \ "compact_ms"))
    val frames = readFrames(input("hep_frames"))
    val (nMeasure, nBurst) = (int(hep \ "measure"), int(hep \ "burst"))
    val perTick = int(hep \ "per_tick")
    val tickMs = (hep \ "tick_ms").extract[Double]
    val lpLines = Files.readAllLines(input("lp_lines")).asScala.toIndexedSeq
    val (lpBatch, lpPeriodMs) = (int(lp \ "batch"), (lp \ "period_ms").extract[Double])
    val countSql = "SELECT count() AS n FROM hep_1"

    // Set-up: a fresh server to its first answered query, `setupReps`
    // times; the last one serves the measured phase.
    var st: Stack = null
    val reps = (0 until setupReps).map { r =>
      if (st != null) { st.stop(); Stack.deleteTree(st.dir) }
      val t0 = tr.nowMs
      st = new Stack(spark, runDir.resolve(s"data-$r"), tr, Some(cadence),
        rawAgeMs = long(cad \ "raw_age_ms"))
      val sock = new Socket("127.0.0.1", st.tcp.boundPort)
      val f = frames(r); stamp(f, System.currentTimeMillis())
      sock.getOutputStream.write(f); sock.getOutputStream.flush()
      while (st.appender.bufferedRowCount("hep_1") + st.committedRows("hep_1") < 1) Thread.sleep(1)
      st.appender.flushAll()
      firstAnswer(st, countSql, _ == """[{"n":1}]""")
      sock.close()
      tr.nowMs - t0
    }
    rec("setup_reps_s") = reps.map(_ / 1e3)
    warmUp(st, 0L)

    // Measured phase: open-loop HEP and LP senders beside the dashboard
    // and freshness-probe clients. It starts half a compaction period
    // into a cycle of the scheduler, so every run sees the same passes.
    val period = cadence.compactMs.toDouble
    val startMs = st.startedMs + period *
      (math.ceil((tr.nowMs + 200 - st.startedMs - period / 2) / period) + 0.5)
    val endMs = startMs + seconds * 1000
    val ticks = new ConcurrentLinkedQueue[Seq[Any]]()
    val writes = new ConcurrentLinkedQueue[Seq[Any]]()
    val server = st
    val hepSender = thread("hep-sender") {
      val sock = new Socket("127.0.0.1", server.tcp.boundPort)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
      var sent = 0
      var k = 0
      while (sent < nMeasure) {
        val due = startMs + k * tickMs
        sleepUntil(due)
        val at = tr.nowMs
        val wall = System.currentTimeMillis()
        val n = math.min(perTick, nMeasure - sent)
        var j = 0
        while (j < n) {
          val f = frames(setupReps + sent + j); stamp(f, wall); out.write(f); j += 1
        }
        out.flush()
        sent += n
        ticks.add(Seq[Any](due, at, sent))
        k += 1
      }
      sock.close()
    }
    val nBatches = lpLines.size / lpBatch
    val lpSender = thread("lp-sender") {
      val http = new Http(server.http.boundPort)
      var b = 0
      while (b < nBatches) {
        val due = startMs + b * lpPeriodMs
        sleepUntil(due)
        val lines = lpLines.slice(b * lpBatch, (b + 1) * lpBatch)
        if (tr.on) {
          val p0 = tr.nowMs
          lines.foreach(LineProtocol.parse)
          tr.sample("lp.parse_ms_per_line", (tr.nowMs - p0) / lines.size)
        }
        val t0 = tr.nowMs
        val status = try http.write(lines.mkString("\n")) catch { case _: Exception => -1 }
        writes.add(Seq[Any](due, t0, tr.nowMs, status))
        b += 1
      }
    }
    val traced = if (tr.on) Some(new TracedQuery(spark, tr)) else None
    val cs = clients(0L)
    sleepUntil(startMs)
    measured(startMs)(Seq(hepSender, lpSender) ++ cs.map { case (name, qs, start) =>
      closedLoop(server, name, qs, start, endMs, traced, Some(server.dir))
    })
    rec("ticks") = ticks.asScala.toList
    rec("writes") = writes.asScala.toList

    // Burst: a fixed number of frames as fast as the socket takes them,
    // until every row is committed in the manifest.
    val expected = 1L + nMeasure + nBurst
    val b0 = tr.nowMs
    val sock = new Socket("127.0.0.1", server.tcp.boundPort)
    val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
    val wall = System.currentTimeMillis()
    (0 until nBurst).foreach { j =>
      val f = frames(setupReps + nMeasure + j); stamp(f, wall); out.write(f)
    }
    out.flush()
    val burstDeadline = tr.nowMs + 120000
    var committed = server.committedRows("hep_1")
    while (committed < expected && tr.nowMs < burstDeadline) {
      val buffered = server.appender.bufferedRowCount("hep_1")
      if (buffered > 0 && committed + buffered >= expected) server.appender.flushAll()
      else Thread.sleep(1)
      committed = server.committedRows("hep_1")
    }
    val b1 = tr.nowMs
    sock.close()
    rec("burst") = Map("frames" -> nBurst, "seconds" -> (b1 - b0) / 1e3, "committed" -> committed)

    // Final flush (the shutdown path), then one more compaction pass; the
    // row counts before and after it must both equal what was sent.
    server.stopScheduler()
    val http = new Http(server.http.boundPort)
    def count(table: String): Seq[Any] = {
      val (s, b) = http.query(s"SELECT count() AS n FROM $table"); Seq(s, b)
    }
    val before = Map("hep_1" -> count("hep_1"), "cpu" -> count("cpu"))
    if (tr.on) server.tracedCompaction()
    else server.storage.tableNames.foreach(server.compactor.compactTable(_))
    val after = Map("hep_1" -> count("hep_1"), "cpu" -> count("cpu"))
    val (walBytes, walRows) = server.walTotals
    rec("final") = Map(
      "before_compaction" -> before, "after_compaction" -> after,
      "stored_bytes" -> parquetBytes(server.dir),
      "files_after" -> server.storage.tableNames.map(t => server.manifestFiles(t).size).sum,
      "wal_bytes" -> walBytes, "wal_rows" -> walRows,
      "compacted_bytes" -> server.compactedBytes.get)
    server.stop()
  }

  // ---- investigate ---------------------------------------------------

  def investigate(): Unit = {
    val store = plan \ "store"
    val frames = readFrames(input("store_hep"))
    val hepOff = readOffsets(input("store_hep_offsets"))
    val lpLines = Files.readAllLines(input("store_lp")).asScala.toIndexedSeq
    val lpOff = readOffsets(input("store_lp_offsets"))
    val rawAgeMs = long(store \ "compact_raw_age_ms")
    val firstSql = str(((plan \ "clients").children.head \ "queries").children.head)

    var st: Stack = null
    var anchor = 0L
    val reps = (0 until setupReps).map { r =>
      if (st != null) { st.stop(); Stack.deleteTree(st.dir) }
      val t0 = tr.nowMs
      anchor = System.currentTimeMillis() / 1000 * 1000
      st = new Stack(spark, runDir.resolve(s"data-$r"), tr, None, rawAgeMs = rawAgeMs)
      // Backdated store through the server's own sink and appender.
      frames.indices.foreach { i => stamp(frames(i), anchor + hepOff(i)); st.sink(frames(i)) }
      lpLines.indices.grouped(500).foreach { idx =>
        val p0 = tr.nowMs
        val points = idx.flatMap(i =>
          LineProtocol.parse(s"${lpLines(i)} ${(anchor + lpOff(i)) * 1000000L}"))
        tr.sample("lp.parse_ms_per_line", (tr.nowMs - p0) / idx.size)
        st.appender.addLinePoints(points)
      }
      st.flushAll()
      if (tr.on) st.tracedCompaction()
      else st.storage.tableNames.foreach(st.compactor.compactTable(_))
      firstAnswer(st, bind(firstSql, anchor))
      tr.nowMs - t0
    }
    rec("setup_reps_s") = reps.map(_ / 1e3)
    rec("anchor_ms") = anchor
    warmUp(st, anchor)
    val (walBytes, walRows) = st.walTotals
    rec("final") = Map("files_after" -> st.storage.tableNames.map(t => st.manifestFiles(t).size).sum,
      "stored_bytes" -> parquetBytes(st.dir), "wal_bytes" -> walBytes, "wal_rows" -> walRows,
      "compacted_bytes" -> st.compactedBytes.get)

    val traced = if (tr.on) Some(new TracedQuery(spark, tr)) else None
    val startMs = tr.nowMs
    val server = st
    measured(startMs)(clients(anchor).map { case (name, qs, start) =>
      closedLoop(server, name, qs, start, startMs + seconds * 1000, traced, Some(server.dir))
    })
    server.stop()
  }

  // ---- llm_views -----------------------------------------------------

  def llmViews(): Unit = {
    val corpus = input("corpus").toString
    val views = (plan \ "views").children.map(str)
    val firstSql = str(((plan \ "clients").children.head \ "queries").children.head)

    // Train the views' artifacts once, in a throwaway session, into the
    // harness's artifact store (kept across runs: the corpus is fixed);
    // each set-up repetition below is then what a restarted server pays:
    // artifact load and view first touch.
    val p0 = tr.nowMs
    val s0 = spark.newSession()
    LlmViews.registerLazy(s0, corpus)
    LlmViews.ensure(s0, views)
    rec("pretrain_s") = (tr.nowMs - p0) / 1e3
    rec("oracles") = graft.query.DeclaredLlmSql.oracleSql

    var st: Stack = null
    var session: SparkSession = null
    val touch = mutable.ArrayBuffer.empty[Double]
    val reps = (0 until setupReps).map { r =>
      if (st != null) { st.stop(); Stack.deleteTree(st.dir) }
      val t0 = tr.nowMs
      val s = spark.newSession()
      session = s
      GraftExtensions.registerAll(s)
      st = new Stack(s, runDir.resolve(s"data-$r"), tr, None)
      LlmViews.registerLazy(s, corpus)
      val f0 = tr.nowMs
      LlmViews.ensure(s, views)
      touch += (tr.nowMs - f0) / 1e3
      firstAnswer(st, firstSql)
      tr.nowMs - t0
    }
    rec("setup_reps_s") = reps.map(_ / 1e3)
    rec("first_touch_s") = touch.toList
    warmUp(st, 0L)

    val server = st
    val traced = if (tr.on) Some(new TracedQuery(session, tr)) else None
    val startMs = tr.nowMs
    measured(startMs)(clients(0L).map { case (name, qs, start) =>
      closedLoop(server, name, qs, start, startMs + seconds * 1000, traced, None)
    })
    server.stop()
  }
}
