package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Spark task metrics summed per job group. Every span tags its jobs
  * with its own group, so a span's Spark work is read back by name. */
final class GroupMetrics {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
}

/** Listener that attributes jobs and task metrics to the job group
  * that was set on the calling thread when the job was submitted. */
final class GroupListener extends SparkListener {
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupMetrics]
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]

  def of(group: String): GroupMetrics =
    groups.computeIfAbsent(group, _ => new GroupMetrics)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    of(g).jobs.incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val g = of(Option(stageGroup.get(e.stageId)).getOrElse(""))
      g.tasks.incrementAndGet()
      g.runMs.addAndGet(m.executorRunTime)
      g.cpuNs.addAndGet(m.executorCpuTime)
      g.gcMs.addAndGet(m.jvmGCTime)
      g.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      g.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      g.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** In-memory span recorder. A span has a name, start and end (ns since
  * the recorder was made), the id of the span that opened it, and the
  * run id (the operation it belongs to). Spans are written out once, at
  * the end. When disabled, `span` runs the body and records nothing. */
final class Tracer(val enabled: Boolean, listener: GroupListener) {
  final case class Span(id: Int, parent: Int, run: Int, name: String,
                        start: Long, end: Long)

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0
  var run = 0

  /** Runs `body` in a span named `name`; its Spark jobs carry the job
    * group `name`, so their metrics accrue under that name. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val id = nextId
      nextId += 1
      val parent = open.headOption.fold(-1)(_._1)
      open = (id, name) :: open
      sc.foreach(_.setJobGroup(name, name))
      val s = System.nanoTime() - t0
      try body
      finally {
        spans += Span(id, parent, run, name, s, System.nanoTime() - t0)
        open = open.tail
        sc.foreach { c =>
          c.clearJobGroup()
          open.headOption.foreach { case (_, n) => c.setJobGroup(n, n) }
        }
      }
    }

  /** Seconds of all spans named `name`, and the same less the time their
    * child spans cover (self time). */
  def total(name: String): Double =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

  def self(name: String): Double =
    spans.filter(_.name == name).map { s =>
      val kids = spans.filter(_.parent == s.id).map(k => k.end - k.start).sum
      (s.end - s.start - kids) / 1e9
    }.sum

  def count(name: String): Int = spans.count(_.name == name)

  def metrics(name: String): GroupMetrics = listener.of(name)

  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Gen.writeLines(p, spans.iterator.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""))
  }
}
