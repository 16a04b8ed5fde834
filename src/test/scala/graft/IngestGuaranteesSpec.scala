package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.operators.Enrich
import graft.sources.{EventsCsv, LogSource}

/** The batch tail's delivery guarantees: only complete lines are
  * consumed, the offset is committed after the sink (a failed write
  * replays the batch), and one run is one Spark execution. */
class IngestGuaranteesSpec extends SparkSpec {
  import spark.implicits._

  private def sasl(ip: String, user: String): String =
    s"Mar  3 08:00:01 mx1 postfix/smtpd[11]: warning: unknown[$ip]: " +
      s"SASL LOGIN authentication failed, sasl_username=$user"

  private def append(p: Path, bytes: Array[Byte]): Unit =
    Files.write(p, bytes, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  test("a partial last line waits for its newline; CRLF and bad bytes decode") {
    val d = Files.createTempDirectory("graft-split")
    val log = d.resolve("mail.log")
    val state = d.resolve("offset")
    val csv = d.resolve("events").toString
    val complete = utf8(sasl("10.1.0.1", "alice") + "\n" +
      sasl("10.1.0.2", "bob") + "\r\n") ++
      utf8(sasl("10.1.0.3", "x")) ++ Array(0xC3.toByte, '\n'.toByte)
    val partial = sasl("10.1.0.4", "carol")
    append(log, complete ++ utf8(partial.take(40)))
    val n1 = Pipeline.runIncremental(spark, log, state, csv, 2025)
    assert(n1 == 3)
    assert(LogSource.readOffset(state) == complete.length)
    append(log, utf8(partial.drop(40) + "\n"))
    val n2 = Pipeline.runIncremental(spark, log, state, csv, 2025)
    assert(n2 == 1)
    assert(LogSource.readOffset(state) == Files.size(log))
    val users = EventsCsv.read(spark, csv).as[(String, String, String,
      String, String, String, String, String, String)].collect()
      .map(r => r._3 -> r._4).toMap
    assert(users == Map("10.1.0.1" -> "alice", "10.1.0.2" -> "bob",
      "10.1.0.3" -> "x\uFFFD", "10.1.0.4" -> "carol"))
  }

  test("lines split across read chunks and longer than a chunk stay whole") {
    val d = Files.createTempDirectory("graft-chunks")
    val log = d.resolve("mail.log")
    val lines = (0 until 3000).map(i => s"line-$i-" + "x" * (i % 97)) :+
      ("long-" + "y" * 200000) :+ "été\r"
    append(log, utf8(lines.mkString("\n") + "\n"))
    val back = LogSource.incrementalRead(spark, log, d.resolve("offset"))
      .as[String].collect().toSeq
    assert(back == lines.init :+ "été")
    assert(LogSource.readOffset(d.resolve("offset")) == Files.size(log))
  }

  test("crash between sink and offset: the batch is replayed (at-least-once)") {
    val d = Files.createTempDirectory("graft-crash")
    val log = d.resolve("mail.log")
    val state = d.resolve("offset")
    val csv = d.resolve("events").toString
    append(log, utf8(sasl("10.2.0.1", "alice") + "\n"))
    assert(Pipeline.runIncremental(spark, log, state, csv, 2025) == 1)
    val committed = LogSource.readOffset(state)
    append(log, utf8(sasl("10.2.0.2", "bob") + "\n" +
      sasl("10.2.0.3", "carol") + "\n"))
    val notADir = d.resolve("not-a-dir")
    Files.write(notADir, utf8("x"))
    intercept[Exception] {
      Pipeline.runIncremental(spark, log, state, notADir.toString, 2025)
    }
    assert(LogSource.readOffset(state) == committed)
    assert(Pipeline.runIncremental(spark, log, state, csv, 2025) == 2)
    assert(LogSource.readOffset(state) == Files.size(log))
    assert(EventsCsv.read(spark, csv).select("user").as[String].collect()
      .sorted.toSeq == Seq("alice", "bob", "carol"))
  }

  test("one run is one Spark execution: rDNS once per IP, count = rows written") {
    val d = Files.createTempDirectory("graft-onepass")
    val log = d.resolve("mail.log")
    val csv = d.resolve("events").toString
    val ips = (1 to 6).map(i => s"198.51.100.$i")
    append(log, utf8((0 until 40).map(i => sasl(ips(i % ips.size), s"u$i"))
      .mkString("", "\n", "\n")))
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    try {
      IngestGuaranteesSpec.calls.set(0)
      val n = Pipeline.runIncremental(spark, log, d.resolve("offset"), csv,
        2025, None, Some(IngestGuaranteesSpec.resolver))
      // a job after the run: once its end is seen, so are the run's events
      spark.sparkContext.setJobGroup("barrier", "barrier")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.ended.contains("barrier") &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val runJobs = jobs.started.asScala.toSeq.filterNot(_._1 == "barrier")
      assert(n == 40)
      assert(IngestGuaranteesSpec.calls.get() == ips.size)
      assert(EventsCsv.read(spark, csv).count() == n)
      assert(runJobs.nonEmpty)
      assert(runJobs.map(_._2).distinct.size == 1,
        s"jobs of more than one SQL execution: $runJobs")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** (job group, root SQL execution id) of every job started, and the
    * group of every job ended. */
  private final class JobLog extends SparkListener {
    val started = new ConcurrentLinkedQueue[(String, String)]()
    val ended = new ConcurrentLinkedQueue[String]()
    private val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p =>
        Option(p.getProperty(k))).getOrElse("")
      val group = prop("spark.jobGroup.id")
      groups.put(e.jobId, group)
      started.add(group -> Seq("spark.sql.execution.root.id",
        "spark.sql.execution.id").map(prop).find(_.nonEmpty).getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.add(groups.getOrDefault(e.jobId, ""))
  }
}

object IngestGuaranteesSpec {
  val calls = new AtomicLong

  /** Counts every lookup; answers OK for every IP. */
  val resolver: Enrich.Resolver = { ip =>
    calls.incrementAndGet()
    Right(s"h-$ip.example")
  }
}
