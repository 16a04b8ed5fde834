package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{ArtifactTimer, Pipeline, ReportFormat, SharedGrams, SharedIvf,
  SharedLsh, SparkEntry}
import graft.operators.{Enrich, LogParse}
import graft.sources.{DimRefresh, EventsCsv, LogSource, SqlExport, SqlImport}

/** The benchmark's one JVM process. It generates a workload's inputs
  * from the seed, sets up a Spark session (timed, three times), runs the
  * workload's operation in a closed loop with one caller for the given
  * number of seconds, checks every operation's output, and writes one
  * JSON result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json> [--spans <spans.jsonl>]
  *
  * Untraced (`--trace 0`) it calls the program as production does and
  * reports end-to-end metrics. Traced (`--trace 1`) it alternates that
  * call with one that invokes the layers one at a time, each output
  * materialized in its own span, and reports per-layer metrics plus the
  * tracing overhead (traced over untraced operation time).
  */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val Year: Int = Gen.Year
  /** Country and ASN ranges each; ~300k in all. */
  val DimRanges = 150000
  /** `tail`: lines per day of rotated history, and lines per append. */
  val TailHistoryLinesPerDay = 1000
  val TailAppendLines = 10000
  /** `daily`: days of events in the CSV and rows per day. */
  val DailyDays = 28
  val DailyRowsPerDay = 600
  /** `suite` table sizes: sf0.001's documents and embeddings. */
  val SuiteDocs = 500
  val SuiteVectors = 500

  /** Queries of the `suite` workload, at sf0.001 sizes. Each reads
    * Shared* artifacts; together they build four (LSH band keys and
    * candidate pairs, word grams, the IVF assignment). The rest are left
    * out to fit a run: the connected-component artifacts alone take
    * 10-30 s each cold at sf0.001 on 4 cores. */
  val SuiteQueries: Seq[String] = Seq("q17_dedup_minhash_lsh",
    "q193_split_leakage", "q47_ivf_assign_census")
  /** Warm passes per `suite` cycle. */
  val WarmPasses = 1
  /** Session setups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, out: Path,
                        spans: Option[Path])

  val Workloads: Seq[String] = Seq("tail", "daily", "suite")

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    m.get("--train") match {
      case Some(dir) =>
        // one short traced run of every workload, so that a class-data
        // sharing archive dumped at exit holds every class a run loads
        Workloads.foreach { w =>
          val work = Paths.get(dir, w)
          new Bench(Opts(w, 0L, 0.0, trace = true, work,
            work.resolve("result.json"), None)).run()
        }
      case None =>
        def req(k: String) = m.getOrElse(k,
          throw new IllegalArgumentException(s"missing $k"))
        val o = Opts(req("--workload"), req("--seed").toLong,
          req("--seconds").toDouble, req("--trace") == "1",
          Paths.get(req("--work")), Paths.get(req("--out")),
          m.get("--spans").map(Paths.get(_)))
        Files.write(o.out, (new Bench(o).run() + "\n").getBytes(UTF_8))
    }
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Order-independent 64-bit digest of rows rendered as strings. */
  def rowHash(s: String): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, 1).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 2) & 0xffffffffL)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

final class Bench(o: Main.Opts) {
  import Main._

  private val gen = new Gen(o.seed)
  private val listener = new GroupListener
  private val tr = new Tracer(o.trace, listener)
  private val inputs = o.work.resolve("inputs")
  private var spark: SparkSession = _
  private var geo: Pipeline.GeoDims = _
  private var countryDim: gen.Ranges = _
  private var asnDim: gen.Ranges = _

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Marks one operation's output check. */
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (o.trace) s.sparkContext.addSparkListener(listener)
    s
  }

  /** Session + dimension load + first materialization, as a cron run
    * pays it. Returns seconds. */
  private def setupOnce(): Double = {
    val t0 = System.nanoTime()
    spark = newSession()
    val dims = inputs.resolve("dims")
    geo = Pipeline.GeoDims(
      DimRefresh.loadCountry(spark, dims.resolve("country.csv").toString),
      DimRefresh.loadAsn(spark, dims.resolve("asn.csv").toString))
    val nc = geo.country.count()
    val na = geo.asn.count()
    val dt = (System.nanoTime() - t0) / 1e9
    check(nc == countryDim.lo.length && na == asnDim.lo.length,
      s"dims loaded $nc/$na rows, generated ${countryDim.lo.length}/${asnDim.lo.length}")
    dt
  }

  /** The events-table row the program should write for one SASL line. */
  private def enrichExpected(e: Gen.Event): Seq[String] = {
    val (h, st) = StubResolver.columns(e.ip)
    val ipl = Gen.ipToLong(e.ip)
    val cc = countryDim.lookup(ipl).getOrElse("N/A")
    val (asn, aso) = asnDim.lookup(ipl).map(_.split(Gen.Sep) match {
      case Array(a, b) => (a, b)
    }).getOrElse(("N/A", "N/A"))
    Seq(e.server, e.date, e.ip, e.user, h, st, cc, asn, aso)
  }

  private def expectedDigest(events: Iterable[Gen.Event]): Long =
    events.iterator.map(e => rowHash(enrichExpected(e).mkString(";"))).sum

  /** Row count and digest of an events CSV directory as written. */
  private def writtenDigest(csvDir: Path): (Long, Long) = {
    val s = spark
    import s.implicits._
    EventsCsv.read(spark, csvDir.toString)
      .select(concat_ws(";", EventsCsv.schema.fieldNames.map(col): _*))
      .as[String].rdd.map(s => (1L, rowHash(s)))
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val started = System.nanoTime()
  /** Progress line on stderr: phase and seconds since start. */
  private def phase(name: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%.1f s $name")

  def run(): String = {
    Files.createDirectories(inputs)
    val (c, a) = gen.dims(inputs.resolve("dims"), DimRanges)
    countryDim = c
    asnDim = a
    val work: Workload = o.workload match {
      case "tail" => new Tail
      case "daily" => new Daily
      case "suite" => new Suite
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    work.generate()
    phase("generated")
    val setups = (1 to Setups).map { i =>
      val dt = setupOnce()
      if (i < Setups) spark.stop()
      dt
    }
    phase("set up: " + setups.map(t => f"$t%.2f").mkString(" "))
    work.prepare()
    sampleLiveHeap()
    phase("prepared")
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val minOps = if (o.trace) math.max(2, work.minOps) else work.minOps
    var k = 0
    while (k < minOps || System.nanoTime() < deadline) {
      tr.run = k
      try if (o.trace && k % 2 == 1) work.tracedOp(k) else work.op(k)
      catch { case scala.util.control.NonFatal(e) =>
        check(ok = false, s"${o.workload} op $k threw $e")
      }
      sampleLiveHeap()
      k += 1
    }
    phase(s"measured $k ops: " + work.times.map(t => f"$t%.2f").mkString(" "))
    work.finish()
    // stopping the context first delivers every queued listener event
    spark.stop()
    phase("stopped")
    if (o.trace) {
      work.layerMetrics()
      sparkMetrics(k / 2)
      o.spans.foreach(tr.write)
    } else {
      e2e("setup_s") = (median(setups), "s")
      work.endToEnd()
      e2e("peak_rss_mb") = (peakRssMb, "MB")
      e2e("success_ratio") = (1.0 - failed.toDouble / math.max(1, attempted), "ratio")
    }
    result()
  }

  /** Largest live heap after an operation, in bytes: the heap in use
    * right after a full collection, sampled between operations. */
  private var liveHeapPeak = 0L
  private def sampleLiveHeap(): Unit = {
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Peak memory the program needs, in MiB: the peak resident set
    * (VmHWM) less the Java heap, which is fixed and pre-touched and so
    * always resident in full, plus the largest live heap. */
  private def peakRssMb: Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong * 1024 }
      .getOrElse(0L)
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    phase(f"memory: ${(hwm - heap) / 1048576.0}%.0f MiB outside the heap, " +
      f"${liveHeapPeak / 1048576.0}%.0f MiB live heap")
    (hwm - heap + liveHeapPeak) / 1048576.0
  }

  private def result(): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v)
        .stripTrailingZeros().toPlainString
    val ms = (if (o.trace) layer else e2e).map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    val fails = failures.map(f => "\"" + f.replace("\\", "\\\\")
      .replace("\"", "'") + "\"").mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$ms},"failures":[$fails]}"""
  }

  /** Spark totals of the layer-by-layer operations, per operation. */
  private def sparkMetrics(ops: Int): Unit = {
    val gs = (groupNames - "pipeline").toSeq.map(tr.metrics)
    def sum(f: GroupMetrics => Long): Double = gs.map(g => f(g).toDouble).sum / ops
    layer("spark.jobs") = (sum(_.jobs.get), "count")
    layer("spark.tasks") = (sum(_.tasks.get), "count")
    layer("spark.task_run_s") = (sum(_.runMs.get) / 1e3, "s")
    layer("spark.task_cpu_s") = (sum(_.cpuNs.get) / 1e9, "s")
    layer("spark.gc_s") = (sum(_.gcMs.get) / 1e3, "s")
    layer("spark.shuffle_read_bytes") = (sum(_.shuffleRead.get), "bytes")
    layer("spark.shuffle_write_bytes") = (sum(_.shuffleWrite.get), "bytes")
    layer("spark.spill_bytes") = (sum(_.spill.get), "bytes")
  }

  private val groupNames = mutable.LinkedHashSet.empty[String]
  private def span[T](name: String)(body: => T): T = {
    groupNames += name
    tr.span(name)(body)
  }

  /** Per-layer metrics every workload reports; a layer the workload does
    * not exercise reads 0. */
  private val LayerUnits: Seq[(String, String)] = Seq(
    "read.s" -> "s", "read.bytes" -> "bytes", "read.lines" -> "count",
    "read.lag_bytes" -> "bytes", "parse.s" -> "s",
    "parse.events_out" -> "count", "parse.match_ratio" -> "ratio",
    "enrich.rdns_s" -> "s", "enrich.geo_s" -> "s",
    "enrich.rdns_calls" -> "count",
    "enrich.rdns_calls_per_distinct_ip" -> "ratio",
    "sink.s" -> "s", "sink.bytes" -> "bytes",
    "pipeline.jobs_per_run" -> "count", "pipeline.task_busy_ratio" -> "ratio",
    "report.s" -> "s", "report.jobs" -> "count",
    "export.s" -> "s", "export.rows" -> "count",
    "import.s" -> "s", "import.statements" -> "count",
    "import.ms_per_statement" -> "ms", "import.attempts_per_file" -> "count",
    "artifacts.ledger_s" -> "s", "artifacts.builds" -> "count",
    "trace.overhead_ratio" -> "ratio")

  private def zeroLayers(): Unit =
    LayerUnits.foreach { case (k, u) => layer(k) = (0.0, u) }
  private def setLayer(k: String, v: Double): Unit =
    layer(k) = (v, layer(k)._2)

  private def overhead(untraced: Seq[Double], traced: Seq[Double]): Unit =
    setLayer("trace.overhead_ratio", median(traced) / median(untraced) - 1)

  /** One workload: its inputs, its operation (untraced and traced), the
    * checks on its outputs, and its metrics. */
  private abstract class Workload {
    def minOps: Int = 2
    def generate(): Unit
    def prepare(): Unit = ()
    def op(k: Int): Unit
    def tracedOp(k: Int): Unit
    def finish(): Unit = ()
    /** Untraced operation times, for the progress line. */
    def times: Seq[Double]
    def endToEnd(): Unit
    def layerMetrics(): Unit
  }

  // ---- tail: the ingestion path ----------------------------------

  /** The cron use: one session, line-complete appends to the live log,
    * each followed by one incremental run. Before the first append, one
    * untimed run at offset 0 ingests the rotated history (gzip and plain
    * siblings) and is checked like every other run. */
  private final class Tail extends Workload {
    override def minOps: Int = 3
    val logDir: Path = inputs.resolve("log")
    val log: Path = logDir.resolve("mail.log")
    val state: Path = o.work.resolve("tail/state.offset")
    val csv: Path = o.work.resolve("tail/events")
    val all = mutable.ArrayBuffer.empty[Gen.Event]
    var sec = 3600
    val opTimes = mutable.ArrayBuffer.empty[Double]
    def times: Seq[Double] = opTimes.toSeq
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    // traced-run layer accumulators
    var readBytes, readLines, lagBytes, eventsOut, sinkBytes = 0L
    var rdnsCalls, distinctIps = 0L

    def generate(): Unit = gen.history(logDir, TailHistoryLinesPerDay, all)

    /** Production call: Pipeline.runIncremental; returns events counted. */
    def production(): Long =
      Pipeline.runIncremental(spark, log, state, csv.toString, Year,
        Some(geo), Some(StubResolver.resolver))

    /** The history run, then one untimed (but checked) append: the first
      * runs in a JVM take up to twice as long as later ones. */
    override def prepare(): Unit = {
      val n = production()
      check(n == all.size && LogSource.readOffset(state) == Files.size(log),
        s"tail history run counted $n, expected ${all.size}")
      val batch = append()
      verify(-1, production(), batch)
    }

    /** The same run, one layer at a time, each output materialized in its
      * own span. Returns events written. */
    def layered(): Long = span("op") {
      val off0 = LogSource.readOffset(state)
      val lines = span("read") {
        val df = LogSource.incrementalRead(spark, log, state).cache()
        readLines += df.count()
        df
      }
      readBytes += LogSource.readOffset(state) - off0
      lagBytes += Files.size(log) - LogSource.readOffset(state)
      val parsed = span("parse") {
        val df = LogParse.parse(lines, Year).cache()
        eventsOut += df.count()
        df
      }
      val dns = span("enrich.rdns") {
        val df = Enrich.dedupThenResolve(parsed, StubResolver.resolver).cache()
        df.count()
        df
      }
      val events = span("enrich.geo") {
        val df = Enrich.withGeo(dns, geo.country, geo.asn)
          .select(EventsCsv.schema.fieldNames.map(col): _*).cache()
        df.count()
        df
      }
      val before = dirBytes(csv)
      span("sink")(EventsCsv.append(events, csv.toString))
      sinkBytes += dirBytes(csv) - before
      val n = events.count()
      Seq(lines, parsed, dns, events).foreach(_.unpersist())
      n
    }

    /** Appends the next batch of complete lines; returns its events. */
    private def append(): Seq[Gen.Event] = {
      val batch = mutable.ArrayBuffer.empty[Gen.Event]
      gen.appendLog(log, TailAppendLines, 10, 4 + sec / 86400,
        sec % 86400, sec % 86400 + 59, batch)
      sec += 60
      all ++= batch
      batch.toSeq
    }

    private def verify(k: Int, n: Long, batch: Seq[Gen.Event]): Unit =
      check(n == batch.size && LogSource.readOffset(state) == Files.size(log),
        s"tail op $k: counted $n, expected ${batch.size}; offset " +
          s"${LogSource.readOffset(state)} vs size ${Files.size(log)}")

    def op(k: Int): Unit = {
      val batch = append()
      val c0 = StubResolver.calls.get()
      val (n, dt) =
        if (o.trace) timed(span("pipeline")(production()))
        else timed(production())
      rdnsCalls += StubResolver.calls.get() - c0
      distinctIps += batch.map(_.ip).distinct.size
      opTimes += dt
      verify(k, n, batch)
    }

    def tracedOp(k: Int): Unit = {
      val batch = append()
      val (n, dt) = timed(layered())
      tracedTimes += dt
      verify(k, n, batch)
    }

    override def finish(): Unit = {
      val (rows, digest) = writtenDigest(csv)
      val expected = expectedDigest(all)
      check(rows == all.size && digest == expected,
        s"tail events table holds $rows rows, expected ${all.size}; " +
          s"digest match ${digest == expected}")
    }

    def endToEnd(): Unit = {
      e2e("op_p50_s") = (median(opTimes.toSeq), "s")
      e2e("op_p75_s") = (quantile(opTimes.toSeq, 0.75), "s")
      e2e("items_per_s") = (TailAppendLines * opTimes.size / opTimes.sum, "1/s")
    }

    def layerMetrics(): Unit = {
      zeroLayers()
      val n = math.max(1, tr.count("op"))
      setLayer("read.s", tr.self("read") / n)
      setLayer("read.bytes", readBytes.toDouble / n)
      setLayer("read.lines", readLines.toDouble / n)
      setLayer("read.lag_bytes", lagBytes.toDouble / n)
      setLayer("parse.s", tr.self("parse") / n)
      setLayer("parse.events_out", eventsOut.toDouble / n)
      setLayer("parse.match_ratio", eventsOut.toDouble / math.max(1, readLines))
      setLayer("enrich.rdns_s", tr.self("enrich.rdns") / n)
      setLayer("enrich.geo_s", tr.self("enrich.geo") / n)
      val p = math.max(1, tr.count("pipeline"))
      setLayer("enrich.rdns_calls", rdnsCalls.toDouble / p)
      setLayer("enrich.rdns_calls_per_distinct_ip",
        rdnsCalls.toDouble / math.max(1, distinctIps))
      setLayer("sink.s", tr.self("sink") / n)
      setLayer("sink.bytes", sinkBytes.toDouble / n)
      val pm = tr.metrics("pipeline")
      setLayer("pipeline.jobs_per_run", pm.jobs.get.toDouble / p)
      setLayer("pipeline.task_busy_ratio",
        pm.runMs.get / 1e3 / (tr.total("pipeline") * Cores))
      overhead(opTimes.toSeq, tracedTimes.toSeq)
    }
  }

  // ---- daily: report + SQL export/import ---------------------------

  private final class Daily extends Workload {
    override def minOps: Int = 3
    val csv: Path = inputs.resolve("events")
    val today = f"28/10/$Year"
    var rows: Seq[Seq[String]] = Nil
    var todayRows: Seq[Seq[String]] = Nil
    val sqlTimes = mutable.ArrayBuffer.empty[Double]
    val opTimes = mutable.ArrayBuffer.empty[Double]
    def times: Seq[Double] = opTimes.toSeq
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    var statements, attempts, files = 0L

    val specs: Seq[SqlExport.ColumnSpec] = {
      import SqlExport._
      Seq(ColumnSpec("server", "server", StrKind, notNull = true),
        ColumnSpec("date", "event_time", DateTimeKind, notNull = true),
        ColumnSpec("ip", "ip", StrKind, notNull = true),
        ColumnSpec("user", "username", StrKind, notNull = true),
        ColumnSpec("hostname", "hostname", StrKind, notNull = false),
        ColumnSpec("reverse_dns_status", "reverse_dns_status", StrKind,
          notNull = true),
        ColumnSpec("country_code", "country_code", StrKind, notNull = false),
        ColumnSpec("asn", "asn_int", IntKind, notNull = false),
        ColumnSpec("aso", "aso", StrKind, notNull = false))
    }
    val ddl = "CREATE TABLE events (server VARCHAR(64), event_time " +
      "VARCHAR(16), ip VARCHAR(15), username VARCHAR(128), hostname " +
      "VARCHAR(255), reverse_dns_status VARCHAR(32), country_code " +
      "VARCHAR(8), asn_int BIGINT, aso VARCHAR(128));"

    def generate(): Unit = {
      rows = gen.eventsCsv(csv, DailyDays, DailyRowsPerDay, 28, enrichExpected)
      todayRows = rows.filter(_(1).startsWith(today))
    }

    /** One untimed (but checked) cycle first: the first report and the
      * first Derby boot in a JVM cost several times a later one, and a run
      * holds too few cycles for the median to absorb that. */
    override def prepare(): Unit = {
      val text = report()
      val (exported, inTable) = sql(-1, inSpan = false)
      spark.catalog.clearCache()
      verify(-1, text, exported, inTable)
    }

    /** Expected top-10 (key, count) by count desc, key asc. */
    private def top10(col: Int): Seq[(String, Long)] =
      todayRows.groupBy(_(col)).map { case (k, v) => (k, v.size.toLong) }
        .toSeq.sortBy { case (k, n) => (-n, k) }.take(10)

    private lazy val expTopUsers = top10(3)
    private lazy val expTopCountries = top10(6)
    private lazy val expDnsFailures = todayRows.count(_(5) != "OK")

    private def block(text: Seq[String], title: String): Seq[(String, Long)] = {
      val Item = """\s+\d+\. (\S+)\s+(\d+) times""".r
      text.dropWhile(_ != title).drop(1).takeWhile(_.nonEmpty).collect {
        case Item(k, n) => (k, n.toLong)
      }
    }

    private def report(): String = {
      val events = EventsCsv.read(spark, csv.toString)
      val aggs = Pipeline.reportAggregates(events, today)
      ReportFormat.render(aggs, "mx1", today,
        csvSizeStr = ReportFormat.sizeK(dirBytes(csv)),
        csvLinesStr = events.count().toString)
    }

    /** Export today's rows to a .sql file and import it into a fresh
      * embedded Derby database; returns rows in the table afterwards. */
    private def sql(k: Int, inSpan: Boolean): (Long, Long) = {
      val dir = o.work.resolve(s"sql/${k + 1}")
      Files.createDirectories(dir)
      val url = s"jdbc:derby:memory:daily${k + 1};create=true"
      def exp = {
        val events = EventsCsv.read(spark, csv.toString)
          .filter(col("date").startsWith(today))
        val lines = SqlExport.export(events, "events", specs) match {
          case Right(ds) => ds.collect().toSeq
          case Left(v) => throw new IllegalStateException(s"$v violations")
        }
        Files.write(dir.resolve("000_schema.sql"), ddl.getBytes(UTF_8))
        Files.write(dir.resolve("001_events.sql"),
          lines.mkString("\n").getBytes(UTF_8))
        lines.count(_.startsWith("INSERT")).toLong
      }
      val exported = if (inSpan) span("export")(exp) else exp
      val jdbc = SqlImport.jdbcExecutor(url)
      val counting: SqlImport.Executor = { stmts =>
        attempts += 1
        jdbc(stmts)
      }
      def imp = SqlImport.run(dir, dir.resolve("imported.log"),
        if (inSpan) counting else jdbc)
      val report = if (inSpan) span("import")(imp) else imp
      val ok = report.exists(r => r.failed.isEmpty && r.imported.size == 2)
      val inTable = if (ok) tableRows(url) else -1L
      dropDb(k)
      deleteTree(dir)
      if (inSpan) { statements += exported; files += 2 }
      (exported, inTable)
    }

    private def tableRows(url: String): Long = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM events")
        rs.next()
        rs.getLong(1)
      } finally c.close()
    }

    private def dropDb(k: Int): Unit =
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:daily${k + 1};drop=true")
      catch { case _: java.sql.SQLException => () } // drop reports via exception

    private def verify(k: Int, text: String, exported: Long, inTable: Long): Unit = {
      val lines = text.linesIterator.toSeq
      val total = lines.collectFirst {
        case l if l.startsWith("Total attempts today: ") =>
          l.stripPrefix("Total attempts today: ").toLong
      }
      val dnsFail = lines.collectFirst {
        case l if l.startsWith("Total failed reverse lookups today: ") =>
          l.stripPrefix("Total failed reverse lookups today: ").toLong
      }
      check(total.contains(todayRows.size.toLong) &&
        dnsFail.contains(expDnsFailures.toLong) &&
        block(lines, "Top 10 Usernames today:") == expTopUsers &&
        block(lines, "Top 10 countries today:") == expTopCountries,
        s"daily op $k: report total $total (expected ${todayRows.size}), " +
          s"dns failures $dnsFail (expected $expDnsFailures) or a top-10 block differs")
      check(exported == todayRows.size && inTable == exported,
        s"daily op $k: exported $exported statements, Derby holds $inTable, " +
          s"today has ${todayRows.size} rows")
    }

    def op(k: Int): Unit = {
      val t0 = System.nanoTime()
      val text = report()
      val ((exported, inTable), st) = timed(sql(k, inSpan = false))
      opTimes += (System.nanoTime() - t0) / 1e9
      sqlTimes += st
      spark.catalog.clearCache()
      verify(k, text, exported, inTable)
    }

    def tracedOp(k: Int): Unit = {
      val t0 = System.nanoTime()
      val text = span("report")(report())
      val (exported, inTable) = sql(k, inSpan = true)
      tracedTimes += (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      verify(k, text, exported, inTable)
    }

    def endToEnd(): Unit = {
      e2e("op_p50_s") = (median(opTimes.toSeq), "s")
      e2e("op_p75_s") = (quantile(opTimes.toSeq, 0.75), "s")
      e2e("items_per_s") = (todayRows.size * sqlTimes.size / sqlTimes.sum, "1/s")
    }

    def layerMetrics(): Unit = {
      zeroLayers()
      val n = math.max(1, tr.count("report"))
      setLayer("report.s", tr.total("report") / n)
      setLayer("report.jobs", tr.metrics("report").jobs.get.toDouble / n)
      setLayer("export.s", tr.total("export") / n)
      setLayer("export.rows", statements.toDouble / n)
      setLayer("import.s", tr.total("import") / n)
      setLayer("import.statements", statements.toDouble / n)
      setLayer("import.ms_per_statement",
        tr.total("import") * 1e3 / math.max(1, statements))
      setLayer("import.attempts_per_file", attempts.toDouble / math.max(1, files))
      overhead(opTimes.toSeq, tracedTimes.toSeq)
    }
  }

  // ---- suite: the artifact-reading queries, cold then warm ---------

  private final class Suite extends Workload {
    val dir: Path = inputs.resolve("suite")
    val coldTimes = mutable.ArrayBuffer.empty[Double]
    def times: Seq[Double] = coldTimes.toSeq
    val warmTimes = mutable.ArrayBuffer.empty[Double]
    val tracedWarm = mutable.ArrayBuffer.empty[Double]
    /** Per query, the rows it must return (SuiteReference), and their
      * (rows, hash) once hashed in the query's column types. */
    var reference: Map[String, SuiteReference.Result] = Map.empty
    val expected = mutable.Map.empty[String, (Long, Long)]
    var ledger = 0.0
    var builds = 0L
    var builtFirst: Set[String] = Set.empty

    def generate(): Unit = ()

    /** Writes the tables and computes the expected results, then runs one
      * untimed (but checked) cycle: the first cold pass in a JVM spends as
      * much time compiling as building. */
    override def prepare(): Unit = {
      val s = spark
      import s.implicits._
      val docs = gen.documents(SuiteDocs)
      val vecs = gen.embeddings(SuiteVectors)
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
      vecs.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
      reference = Map(
        "q17_dedup_minhash_lsh" -> SuiteReference.q17(docs),
        "q193_split_leakage" -> SuiteReference.q193(docs),
        "q47_ivf_assign_census" -> SuiteReference.q47(vecs))
      require(SuiteQueries.forall(reference.contains))
      phase("expected rows: " + SuiteQueries.map(q => s"$q ${reference(q)._2.size}").mkString(", "))
      cycle(-1, traced = false)
    }

    /** (rows, hash) of a query's expected rows, its columns cast to the
      * types the query returns; a query of another width never matches. */
    private def expectedDigest(q: String, schema: StructType): (Long, Long) = {
      val (fields, rows) = reference(q)
      if (schema.length != fields.length) (-1L, -1L)
      else {
        val df = spark.createDataFrame(rows.map(Row.fromSeq).asJava,
          StructType(fields))
        digest(df.select(df.columns.zip(schema.fields).map { case (c, f) =>
          col(c).cast(f.dataType).as(f.name)
        }: _*))
      }
    }

    private def digest(df: DataFrame): (Long, Long) = {
      val cols = df.columns.map(col)
      val h =
        try df.select(xxhash64(cols: _*).as("_h"))
        catch { case _: AnalysisException =>
          df.select(xxhash64(to_json(struct(cols: _*))).as("_h"))
        }
      val r = h.agg(count(lit(1)), bit_xor(col("_h"))).collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    /** One pass over the queries; returns seconds. */
    private def pass(k: Int, label: String, traced: Boolean): Double = {
      val t0 = System.nanoTime()
      SuiteQueries.foreach { q =>
        def run() = {
          val df = SparkEntry.queries(q)(spark, dir.toString)
          (digest(df), df.schema)
        }
        val got =
          try Some(if (traced) span(q)(run()) else run())
          catch { case scala.util.control.NonFatal(e) =>
            check(ok = false, s"suite $label pass $k: $q threw ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160))
            None
          }
        got.foreach { case (g, schema) =>
          val want = expected.getOrElseUpdate(q, expectedDigest(q, schema))
          check(g == want, s"suite $label pass $k: $q gave (rows, hash) $g, expected $want")
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** A new session on the running engine, without the artifacts of the
      * last one: the program's artifact caches are emptied, as a new
      * process starts without them. */
    private def freshSession(): Unit = {
      SharedLsh.clear()
      SharedGrams.clear()
      SharedIvf.clear()
      spark = spark.newSession()
      SparkSession.setActiveSession(spark)
    }

    /** A fresh session (no artifact cached), a cold pass, then warm passes;
      * returns the cold pass's seconds and each warm pass's. A warm pass
      * is short, so it is repeated to steady its median. */
    private def cycle(k: Int, traced: Boolean): (Double, Seq[Double]) = {
      if (k >= 0) freshSession()
      ArtifactTimer.clear()
      val cold = pass(k, "cold", traced)
      val built = ArtifactTimer.snapshot
      val warm = (1 to WarmPasses).map(_ => pass(k, "warm", traced))
      if (k < 0) builtFirst = built.keySet
      check(built.nonEmpty && built.keySet == builtFirst &&
        ArtifactTimer.snapshot == built,
        s"suite pass $k: cold pass built ${built.size} artifacts (first " +
          s"cycle ${builtFirst.size}); warm passes rebuilt " +
          s"${(ArtifactTimer.snapshot.toSet -- built.toSet).map(_._1).mkString(",")}")
      if (traced) { ledger += built.values.sum; builds += built.size }
      (cold, warm)
    }

    def op(k: Int): Unit = {
      val (cold, warm) = cycle(k, traced = false)
      coldTimes += cold
      warmTimes ++= warm
    }

    def tracedOp(k: Int): Unit = {
      tracedWarm ++= cycle(k, traced = true)._2
    }

    def endToEnd(): Unit = {
      e2e("op_p50_s") = (median(coldTimes.toSeq), "s")
      e2e("op_p75_s") = (quantile(coldTimes.toSeq, 0.75), "s")
      e2e("items_per_s") = (SuiteQueries.size / median(warmTimes.toSeq), "1/s")
    }

    def layerMetrics(): Unit = {
      zeroLayers()
      val n = math.max(1, tracedWarm.size / WarmPasses)
      setLayer("artifacts.ledger_s", ledger / n)
      setLayer("artifacts.builds", builds.toDouble / n)
      // warm passes only: the first cycle's cold pass also warms the JIT
      overhead(warmTimes.toSeq, tracedWarm.toSeq)
    }
  }
}
