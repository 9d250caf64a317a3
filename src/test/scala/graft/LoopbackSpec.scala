package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.api.{HttpApi, IngestScheduler}
import graft.compact.Compactor
import graft.core.{Manifest, Storage, TimeUtils}
import graft.ingest.{BufferedAppender, HepV3, Listeners, LineProtocol}
import graft.query.QueryService

/** End-to-end loopback — ScalaTest port of the reference's only executable
  * check (examples/loopback_test.sh:27–55): ingest through the real
  * network/HTTP surface → flush → manifest → prune → query back exact
  * counts/averages. Plus TCP framing and tier-2 compaction convergence.
  */
class LoopbackSpec extends GraftSuite {

  private val client = HttpClient.newHttpClient()

  private def get(url: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(url: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("loopback: /write -> flush -> /query count/avg exact") {
    val base = Files.createTempDirectory("graft-loop")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    val qs = new QueryService(spark, new Storage(base))
    val api = new HttpApi(qs, appender, port = 0).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      // 50 points, explicit ns timestamps "now"-ish so the default window
      // and an explicit range both cover them (loopback_test.sh:27–43).
      val t0 = System.currentTimeMillis() - 60000
      val lines = (0 until 50).map { i =>
        s"home,room=Garden temp=${i % 10}.0 ${(t0 + i * 1000) * 1000000}"
      }
      val (wc, _) = post(s"$url/write", lines.mkString("\n"))
      assert(wc == 201)
      appender.flushAll()

      // GET ?q= (loopback_test.sh:45–50 shape, count() dialect form).
      val startIso = java.time.Instant.ofEpochMilli(t0).toString.replace("T", " ").dropRight(1)
      val (qc, body) = get(s"$url/query?q=" + java.net.URLEncoder.encode(
        s"SELECT count() as count, avg(temp) as temp FROM home WHERE time >= '$startIso'", "UTF-8"))
      assert(qc == 200, body)
      val expectedAvg = (0 until 50).map(i => (i % 10).toDouble).sum / 50
      assert(body.contains("\"count\":50"), body)
      assert(body.contains(s""""temp":$expectedAvg"""), body)

      // POST {"query"} form (hepop.js:1033–1041).
      val (pc, pbody) = post(s"$url/query", s"""{"query":"SELECT count() as c FROM home WHERE time >= '$startIso'"}""")
      assert(pc == 200 && pbody.contains("\"c\":50"), pbody)

      // Error shape (hepop.js:1053–1058).
      val (ec, ebody) = get(s"$url/query?q=" + java.net.URLEncoder.encode("SELECT nope FROM missing", "UTF-8"))
      assert(ec == 500 && ebody.contains("error"), s"$ec $ebody")
    } finally api.stop()
  }

  test("small /query responses are not held by Nagle + delayed ACK") {
    // No `q`: the 400 path, no Spark work and a ~30 B JSON body. With
    // Nagle on, the body segment waits for the client's delayed ACK of
    // the header segment, ~40 ms per request.
    val base = Files.createTempDirectory("graft-nodelay")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    val api = new HttpApi(new QueryService(spark, new Storage(base)), appender, port = 0).start()
    try {
      val url = s"http://localhost:${api.boundPort}/query"
      val ms = (0 until 30).map { _ =>
        val t0 = System.nanoTime()
        val (code, body) = get(url)
        assert(code == 400 && body.contains("missing query"), s"$code $body")
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = ms(ms.length / 2)
      assert(median < 15.0, f"median round trip $median%.1f ms: ${ms.mkString(",")}")
    } finally api.stop()
  }

  test("/write reports malformed lines as rejected and keeps the good ones") {
    val base = Files.createTempDirectory("graft-rejected")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    val qs = new QueryService(spark, new Storage(base))
    val api = new HttpApi(qs, appender, port = 0).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      val t0 = System.currentTimeMillis() - 60000
      val good = (0 until 3).map(i => s"rej v=$i.0 ${(t0 + i * 1000) * 1000000}")
      val bad = Seq("rej", "rej v=")
      val (wc, wbody) = post(s"$url/write", (good ++ bad).mkString("\n"))
      assert(wc == 201 && wbody == """{"rejected":2}""", s"$wc $wbody")
      // Every line parses: 201 with the reference's empty body.
      val (oc, obody) = post(s"$url/write", s"rejok v=1.0 ${t0 * 1000000}")
      assert(oc == 201 && obody.isEmpty, s"$oc $obody")
      appender.flushAll()
      val n = qs.execute("SELECT count() AS c FROM rej WHERE time >= '2000-01-01'")
        .collect()(0).getLong(0)
      assert(n == 3)
    } finally api.stop()
  }

  test("llm views are reachable through HTTP /query (standing-server wiring)") {
    // Same wiring Server.main performs under GRAFT_CORPUS_DIR: register
    // the views, serve /query over the session catalog.
    val base = Files.createTempDirectory("graft-llmviews")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    graft.query.LlmViews.register(spark, sf)
    val qs = new QueryService(spark, new Storage(base))
    val api = new HttpApi(qs, appender, port = 0).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      val (qc, body) = get(s"$url/query?q=" + java.net.URLEncoder.encode(
        "SELECT count() AS n FROM llm_quality WHERE quality_x10k >= 0", "UTF-8"))
      assert(qc == 200, body)
      val n = "\"n\":(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong)
      assert(n.exists(_ > 0), s"llm_quality over HTTP returned: $body")
      // A predicate composes over the near-dup pairs view (plan-stored,
      // so the filter pushes into the operator pipeline).
      val (pc, pbody) = post(s"$url/query",
        """{"query":"SELECT count() AS c FROM llm_near_dup_pairs WHERE j_x10k >= 5000"}""")
      assert(pc == 200 && pbody.contains("\"c\":"), s"$pc $pbody")
    } finally api.stop()
  }

  test("queries stay exact and monotonic under concurrent ingest churn") {
    val base = Files.createTempDirectory("graft-churn")
    // Small buffer -> a flush (file write + manifest swap) every 25 rows,
    // maximizing manifest-swap/query interleavings.
    val appender = new BufferedAppender(spark, base, bufferSize = 25)
    val qs = new QueryService(spark, new Storage(base))
    val api = new HttpApi(qs, appender, port = 0).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      val t0 = System.currentTimeMillis() - 60000
      @volatile var writerErr: Option[Throwable] = None
      val writer = new Thread(() => try {
        (0 until 20).foreach { b =>
          val lines = (0 until 25).map { i =>
            val n = b * 25 + i
            s"churn v=$n.0 ${(t0 + n * 10) * 1000000}"
          }
          val (wc, _) = post(s"$url/write", lines.mkString("\n"))
          assert(wc == 201)
          appender.flushAll()
        }
      } catch { case t: Throwable => writerErr = Some(t) }, "churn-writer")
      val startIso = java.time.Instant.ofEpochMilli(t0).toString
        .replace("T", " ").dropRight(1)
      val q = "SELECT count() as c FROM churn WHERE time >= '" + startIso + "'"
      val enc = java.net.URLEncoder.encode(q, "UTF-8")
      writer.start()
      var last = 0L
      var okQueries = 0
      while (writer.isAlive) {
        val (c, body) = get(s"$url/query?q=$enc")
        if (c == 200) {
          val n = "\"c\":(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong)
            .getOrElse(fail(s"no count in $body"))
          // Ingest-only churn is append-only: atomic manifest swaps mean a
          // reader sees old or new catalog, never less than it saw before.
          assert(n >= last, s"count went backwards: $last -> $n")
          last = n
          okQueries += 1
        } else {
          // Only acceptable before the table's first flush exists.
          assert(last == 0, s"query failed after data appeared: $body")
        }
      }
      writer.join()
      writerErr.foreach(throw _)
      assert(okQueries > 0, "no query ever ran during churn")
      // Compact (files aged past the gate via future 'now'), then the
      // exact total must survive the swap.
      val futureNs = (System.currentTimeMillis() + 24 * 3600 * 1000L) * 1000000L
      new Compactor(spark, base).compactTable("churn", nowNs = futureNs)
      val (fc, fbody) = get(s"$url/query?q=$enc")
      assert(fc == 200 && fbody.contains("\"c\":500"), s"$fc $fbody")
    } finally api.stop()
  }

  test("two concurrent writers with distinct ids fan in exactly at query time") {
    // The reference fans in every writer dir at query time (query.js:24–26);
    // here two INDEPENDENT appenders — distinct writer ids, so distinct
    // manifests and file trees under one base — ingest the same table
    // concurrently while queries run against the union.
    val base = Files.createTempDirectory("graft-multiwriter")
    val wa = new BufferedAppender(spark, base, bufferSize = 25, writerId = "writerA")
    val wb = new BufferedAppender(spark, base, bufferSize = 25, writerId = "writerB")
    val qs = new QueryService(spark, new Storage(base))
    val t0 = System.currentTimeMillis() - 60000
    val perWriter = 250
    @volatile var err: Option[Throwable] = None
    def runWriter(app: BufferedAppender, idOffset: Int, name: String): Thread =
      new Thread(() => try {
        (0 until perWriter).foreach { i =>
          val n = idOffset + i
          app.addLinePoints(Seq(LineProtocol.parse(
            s"mw,src=$name v=$n.0 ${(t0 + i * 10) * 1000000}").get))
          // Flush every 25 rows -> many manifest swaps racing the reader
          // and the sibling writer (each holds only its OWN table lock).
          if (i % 25 == 24) app.flushAll()
        }
        app.flushAll()
      } catch { case t: Throwable => err = Some(t) }, name)
    val ta = runWriter(wa, 0, "wa")
    val tb = runWriter(wb, 100000, "wb")
    val startIso = java.time.Instant.ofEpochMilli(t0).toString
      .replace("T", " ").dropRight(1)
    ta.start(); tb.start()
    // Reads during ingest: the two-writer union is append-only and each
    // writer's manifest swap is atomic, so counts never go backwards.
    var last = 0L
    while (ta.isAlive || tb.isAlive) {
      try {
        val n = qs.execute(
          s"SELECT count() AS c FROM mw WHERE time >= '$startIso'")
          .collect()(0).getLong(0)
        assert(n >= last, s"union count went backwards: $last -> $n")
        last = n
      } catch { case _: Exception => // table not yet flushed by either writer
        assert(last == 0L)
      }
    }
    ta.join(); tb.join()
    err.foreach(throw _)

    // Exact totals: global union and per-writer slices (v encodes the
    // writer id range, so cross-writer file mixups would show up here).
    val total = qs.execute(
      s"SELECT count() AS c FROM mw WHERE time >= '$startIso'")
      .collect()(0).getLong(0)
    assert(total == 2L * perWriter, s"union total $total")
    val bOnly = qs.execute(
      s"SELECT count() AS c FROM mw WHERE v >= 100000 AND time >= '$startIso'")
      .collect()(0).getLong(0)
    assert(bOnly == perWriter.toLong, s"writerB slice $bOnly")

    // Manifest integrity per writer: counts add up, every listed file
    // exists, and neither manifest references the other writer's tree.
    Seq("writerA", "writerB").foreach { wid =>
      val m = Manifest.loadTable(Manifest.tableManifestPath(base, wid, "mw"))
        .getOrElse(fail(s"missing manifest for $wid"))
      assert(m.row_count == perWriter.toLong, s"$wid row_count ${m.row_count}")
      assert(m.files.map(_.row_count).sum == perWriter.toLong, s"$wid file rows")
      // Manifest file paths are BASE-relative (pruneFiles resolves them
      // against baseDir), and must stay inside this writer's own tree.
      m.files.foreach { f =>
        assert(Files.exists(base.resolve(f.path)), s"$wid lost file ${f.path}")
        assert(f.path.startsWith(s"$wid/"), s"$wid manifest leaked ${f.path}")
      }
    }
  }

  test("HTTP /query materialization is bounded: row cap + in-band truncation flag") {
    val base = Files.createTempDirectory("graft-cap")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    // A service configured with a tiny cap — the production default is
    // 100k (GRAFT_MAX_JSON_ROWS); the flag shape is what's under test.
    val qs = new QueryService(spark, new Storage(base), maxJsonRows = 5)
    val api = new HttpApi(qs, appender, port = 0).start()
    try {
      val url = s"http://localhost:${api.boundPort}"
      val t0 = System.currentTimeMillis() - 60000
      val lines = (0 until 20).map(i => s"capm v=$i.0 ${(t0 + i * 1000) * 1000000}")
      assert(post(s"$url/write", lines.mkString("\n"))._1 == 201)
      appender.flushAll()
      val (code, body) = get(s"$url/query?q=" + java.net.URLEncoder.encode(
        "SELECT v FROM capm WHERE time >= '2000-01-01' ORDER BY v", "UTF-8"))
      assert(code == 200, body)
      assert(body.endsWith("""{"_truncated":true}]"""), body)
      assert(body.split("\\},\\{").length == 6, s"5 rows + flag: $body")
    } finally api.stop()
  }

  test("UDP HEP ingest: datagram -> decode -> buffer -> flush -> query") {
    val base = Files.createTempDirectory("graft-udp")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    val listener = new Listeners.UdpHepListener(appender, port = 0).start()
    try {
      val sock = new DatagramSocket()
      val addr = InetAddress.getLoopbackAddress
      val nowSec = System.currentTimeMillis() / 1000
      (0 until 20).foreach { i =>
        val pkt = HepV3.Packet(
          HepV3.RcInfo(srcIp = Some("10.0.0.1"), dstIp = Some("10.0.0.2"),
            srcPort = Some(5060 + i), dstPort = Some(5060),
            timeSeconds = Some(nowSec), timeUseconds = Some(i * 1000L),
            payloadType = Some(1)),
          s"INVITE sip:u$i@x SIP/2.0".getBytes)
        val wire = HepV3.encode(pkt)
        sock.send(new DatagramPacket(wire, wire.length, addr, listener.boundPort))
      }
      // Datagram delivery is async — wait for the buffer to fill.
      val deadline = System.currentTimeMillis() + 10000
      while (appender.bufferedRowCount("hep_1") < 20 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(appender.bufferedRowCount("hep_1") == 20)
      appender.flushAll()
      val qs = new QueryService(spark, new Storage(base))
      val rows = qs.execute("SELECT count(*) AS c, min(src_port) AS sp FROM hep_1").collect()
      assert(rows(0).getLong(0) == 20)
      assert(rows(0).getInt(1) == 5060)
    } finally listener.stop()
  }

  test("TCP HEP framing reassembles split and coalesced frames") {
    // Pure framer: two packets sent as [half1][half2+whole] chunks.
    val p1 = HepV3.encode(HepV3.Packet(HepV3.RcInfo(payloadType = Some(1),
      timeSeconds = Some(1700000000L)), "AAA".getBytes))
    val p2 = HepV3.encode(HepV3.Packet(HepV3.RcInfo(payloadType = Some(1),
      timeSeconds = Some(1700000001L)), "BBBB".getBytes))
    val framer = new Listeners.HepFramer
    val cut = p1.length / 2
    assert(framer.feed(p1.take(cut), cut).isEmpty)
    val rest = p1.drop(cut) ++ p2
    val frames = framer.feed(rest, rest.length)
    assert(frames.length == 2)
    assert(frames(0).sameElements(p1) && frames(1).sameElements(p2))
    assert(framer.pendingBytes == 0)

    // Regression (ADVICE r2): a read boundary leaving exactly 4 or 5
    // buffered bytes of a VALID frame head must wait for more input, not
    // resync-drop a byte (that corrupted the frame and lost the packet).
    for (cutAt <- Seq(1, 2, 3, 4, 5)) {
      val f2 = new Listeners.HepFramer
      assert(f2.feed(p1.take(cutAt), cutAt).isEmpty)
      assert(f2.pendingBytes == cutAt, s"head bytes dropped at cut=$cutAt")
      val tail = p1.drop(cutAt)
      val got = f2.feed(tail, tail.length)
      assert(got.length == 1 && got(0).sameElements(p1), s"frame lost at cut=$cutAt")
    }
    // Garbage before a real frame still resyncs.
    val f3 = new Listeners.HepFramer
    val noisy = "XYHE".getBytes ++ p1
    val got3 = f3.feed(noisy, noisy.length)
    assert(got3.length == 1 && got3(0).sameElements(p1))

    // And over a real socket, one connection, odd-sized writes.
    val base = Files.createTempDirectory("graft-tcp")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    val listener = new Listeners.TcpHepListener(appender, port = 0).start()
    try {
      val sock = new Socket(InetAddress.getLoopbackAddress, listener.boundPort)
      val out = sock.getOutputStream
      val all = p1 ++ p2
      var i = 0
      while (i < all.length) { // dribble in 7-byte writes
        val n = math.min(7, all.length - i)
        out.write(all, i, n); out.flush()
        i += n
      }
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (appender.bufferedRowCount("hep_1") < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(appender.bufferedRowCount("hep_1") == 2)
    } finally listener.stop()
  }

  test("streaming HEP ingest: spool -> readStream -> WAL; kill/restart at-least-once") {
    val base = Files.createTempDirectory("graft-shep")
    val dataDir = base.resolve("data")
    val appender = new BufferedAppender(spark, dataDir, bufferSize = 100000)
    val spoolDir = base.resolve("spool")
    val spool = new graft.streaming.HepSpool(spoolDir)
    // The same UDP edge as the driver-side path, but frames land in the
    // durable spool instead of an in-memory buffer.
    val listener = new Listeners.UdpHepListener(spool.append(_), 0).start()
    try {
      val sock = new DatagramSocket()
      val addr = InetAddress.getLoopbackAddress
      val nowSec = System.currentTimeMillis() / 1000
      def send(i: Int): Unit = {
        val pkt = HepV3.Packet(
          HepV3.RcInfo(srcIp = Some("10.0.0.9"), srcPort = Some(7000 + i),
            timeSeconds = Some(nowSec), timeUseconds = Some(i * 1000L),
            payloadType = Some(1)),
          s"OPTIONS sip:s$i@x SIP/2.0".getBytes)
        val wire = HepV3.encode(pkt)
        sock.send(new DatagramPacket(wire, wire.length, addr, listener.boundPort))
      }
      def awaitSpooled(n: Int): Unit = {
        val deadline = System.currentTimeMillis() + 10000
        while (spool.appended < n && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(spool.appended == n)
      }
      def stored(): Long =
        new Storage(dataDir).load(spark, "hep_1", Long.MinValue, Long.MaxValue)
          .map(_.count()).getOrElse(0L)

      (0 until 10).foreach(send)
      awaitSpooled(10)
      spool.roll() // publish segment (the 10 s flush cadence in production)

      val ing = new graft.streaming.StreamingHepIngest(
        spark, spoolDir.toString, base.resolve("ckpt").toString, appender,
        triggerMs = 250)
      val q1 = ing.start()
      q1.processAllAvailable()
      q1.stop() // kill
      assert(stored() == 10)
      // Retention: the processed segment is deleted once its frames are
      // flushed to the WAL (disk growth stays bounded).
      val leftover = Files.list(spoolDir)
      try assert(!leftover.iterator().asScala.exists(_.toString.endsWith(".hepspool")))
      finally leftover.close()

      // Packets arriving while the stream is DOWN survive in the spool.
      (10 until 16).foreach(send)
      awaitSpooled(16)
      spool.roll()

      val q2 = ing.start() // restart against the same checkpoint
      q2.processAllAvailable()
      q2.stop()
      assert(stored() == 16,
        "restart picks up the new segment exactly once and never replays the old one")
    } finally listener.stop()
  }

  test("HEP payload types route to separate tables (hep_1 / hep_100)") {
    val base = Files.createTempDirectory("graft-types")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    def pkt(ptype: Int, i: Int) = HepV3.decode(HepV3.encode(HepV3.Packet(
      HepV3.RcInfo(payloadType = Some(ptype), timeSeconds = Some(1700000000L + i)),
      s"payload-$ptype-$i".getBytes))).toOption.get
    (0 until 3).foreach(i => appender.addHep(pkt(1, i)))
    (0 until 5).foreach(i => appender.addHep(pkt(100, i)))
    appender.flushAll()
    val st = new Storage(base)
    assert(st.load(spark, "hep_1", Long.MinValue, Long.MaxValue).get.count() == 3)
    assert(st.load(spark, "hep_100", Long.MinValue, Long.MaxValue).get.count() == 5)
    assert(st.tableNames.toSet == Set("hep_1", "hep_100"))
  }

  test("compaction tier 2 converges hourly files into a daily file") {
    val base = Files.createTempDirectory("graft-tier2")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    // 6 flushes across 3 hours of one day -> 6 raw files.
    val dayMs = 1704067200000L // 2024-01-01 00:00Z
    (0 until 6).foreach { i =>
      val ns = (dayMs + i * 30 * 60 * 1000L) * TimeUtils.NsPerMs
      appender.addLinePoints(Seq(LineProtocol.parse(s"t2 v=$i.0 $ns").get))
      appender.flushAll()
    }
    val man0 = Manifest.loadTable(Manifest.tableManifestPath(base, "writer1", "t2")).get
    assert(man0.files.count(_.`type` == "raw") == 6)

    val futureNs = (dayMs + 3 * 24 * 3600 * 1000L) * TimeUtils.NsPerMs
    val compactor = new Compactor(spark, base)
    // Pass 1: raw -> 1h (3 hourly groups), then 1h -> 24h in the same call
    // sequence; run twice so tier 2 sees the tier-1 outputs.
    compactor.compactTable("t2", nowNs = futureNs)
    compactor.compactTable("t2", nowNs = futureNs)
    val man = Manifest.loadTable(Manifest.tableManifestPath(base, "writer1", "t2")).get
    assert(man.files.length == 1, man.files.map(f => (f.path, f.`type`, f.range)))
    assert(man.files.head.range.contains("24h"))
    assert(man.row_count == 6)
    // Data survives both merges.
    val df = new Storage(base).load(spark, "t2", Long.MinValue, Long.MaxValue).get
    assert(df.count() == 6)
    // Daily file sits in the 00-00 dir.
    assert(man.files.head.path.contains("/00-00/"))
  }

  test("flush failure retains the buffer for retry (at-least-once)") {
    val base = Files.createTempDirectory("graft-retry")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000)
    val ns = 1704067200000000000L // 2024-01-01 00:00Z
    appender.addLinePoints(Seq(LineProtocol.parse(s"er v=1.0 $ns").get))
    // Block the flush: a FILE where the date directory must be created.
    val tableDir = Manifest.tableDir(base, "writer1", "er")
    Files.createDirectories(tableDir)
    val blocker = tableDir.resolve("2024-01-01")
    Files.writeString(blocker, "not a directory")
    intercept[Exception](appender.flushAll())
    assert(appender.bufferedRowCount("er") == 1,
      "rows must be retained after a failed flush (reference hepop.js:203-213)")
    // Unblock and retry — same rows land exactly once.
    Files.delete(blocker)
    appender.flushAll()
    assert(appender.bufferedRowCount("er") == 0)
    assert(new Storage(base).load(spark, "er", Long.MinValue, Long.MaxValue).get.count() == 1)
  }

  test("scheduler flushes on interval and on stop") {
    val base = Files.createTempDirectory("graft-sched")
    val appender = new BufferedAppender(spark, base, bufferSize = 1000000)
    val storage = new Storage(base)
    val sched = new IngestScheduler(appender, new Compactor(spark, base), storage,
      flushIntervalMs = 300, compactIntervalMs = 100000).start()
    try {
      appender.addLinePoints(Seq(LineProtocol.parse(
        s"s v=1.0 ${System.currentTimeMillis() * TimeUtils.NsPerMs}").get))
      val deadline = System.currentTimeMillis() + 10000
      while (appender.bufferedRowCount("s") > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(appender.bufferedRowCount("s") == 0, "interval flush ran")
      // Stop-flush: add more, stop, verify persisted.
      appender.addLinePoints(Seq(LineProtocol.parse(
        s"s v=2.0 ${System.currentTimeMillis() * TimeUtils.NsPerMs}").get))
      sched.stop()
      val df = storage.load(spark, "s", Long.MinValue, Long.MaxValue).get
      assert(df.count() == 2)
    } finally sched.stop()
  }
}
