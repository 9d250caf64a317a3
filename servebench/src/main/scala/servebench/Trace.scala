package servebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** In-memory trace of one run. Spans are recorded around the harness's
  * calls into each engine module and written out only when the run ends
  * (`toRecord`); nothing is recorded when `on` is false, so the untraced
  * run pays one branch per call site.
  *
  * Times are milliseconds since `epochNs`, the run's clock origin shared
  * with the load generator and clients. */
final class Tracer(val on: Boolean, epochNs: Long) {
  def nowMs: Double = (System.nanoTime() - epochNs) / 1e6

  private val ids = new AtomicLong(0)
  // [id, parent, trace, name, startMs, endMs]
  private val spans = new ConcurrentLinkedQueue[Seq[Any]]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  def newId(): Long = ids.incrementAndGet()

  /** Record a finished span; returns its id so children can point at it. */
  def span(name: String, startMs: Double, endMs: Double,
      parent: Long = 0L, trace: Long = 0L, id: Long = 0L): Long = {
    val sid = if (id != 0L) id else newId()
    if (on) spans.add(Seq(sid, parent, trace, name, startMs, endMs))
    sid
  }

  def sample(name: String, v: Double): Unit =
    if (on) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(n)

  def toRecord: Map[String, Any] = Map(
    "spans" -> spans.asScala.toList,
    "samples" -> samples.asScala.map { case (k, v) => k -> v.asScala.toList }.toMap,
    "counters" -> counters.asScala.map { case (k, v) => k -> v.get }.toMap)
}

/** Jobs, stages and tasks per job group. The traced in-process query path
  * sets a job group per query, so each query's execution footprint can be
  * read back by group after it completes. */
final class JobListener extends SparkListener {
  final class Group {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    @volatile var firstStartMs: Long = Long.MaxValue
    @volatile var lastEndMs: Long = 0L
  }
  private val groups = new ConcurrentHashMap[String, Group]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      val grp = groups.computeIfAbsent(id, _ => new Group)
      grp.jobs.incrementAndGet()
      grp.stages.addAndGet(e.stageInfos.size)
      grp.synchronized { grp.firstStartMs = math.min(grp.firstStartMs, e.time) }
      jobGroup.put(e.jobId, id)
      e.stageIds.foreach(s => stageGroup.put(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { id =>
      val grp = groups.get(id)
      grp.synchronized { grp.lastEndMs = math.max(grp.lastEndMs, e.time) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach(id => groups.get(id).tasks.incrementAndGet())

  /** Footprint of every group seen: name -> [jobs, stages, tasks, wall ms
    * from the first job start to the last job end]. Task-end events arrive
    * asynchronously, so this is read once the run's load has stopped. */
  def snapshot: Map[String, Seq[Long]] = groups.asScala.map { case (id, g) =>
    id -> Seq(g.jobs.get, g.stages.get, g.tasks.get,
      if (g.lastEndMs >= g.firstStartMs) g.lastEndMs - g.firstStartMs else 0L)
  }.toMap
}
