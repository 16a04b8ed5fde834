package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Enrich, LogParse, Report}
import graft.sources.{EventsCsv, LogSource}

/** The full extraction pipeline — the reference's hot path
  * (`/root/reference/bin/maillogsentinel.py:93-760`, traced SURVEY §3.1)
  * as one declarative plan:
  *
  *   text lines → regex parse/filter → rDNS enrich → geo range joins →
  *   "N/A"/"null" defaults → 9-column events frame → CSV append
  *
  * Zero shuffles end-to-end: narrow ops + broadcast joins only, so the
  * plan scales linearly with input bytes on any number of executors.
  */
object Pipeline {

  final case class GeoDims(country: DataFrame, asn: DataFrame)

  /** lines(value: String) → canonical 9-col events frame.
    * `resolver = None` disables rDNS: hostname becomes the literal
    * "null" with status "Failed (Unknown)" — the same sentinels the
    * reference writes when a lookup cannot be performed
    * (log_utils.py:105-123). */
  def extract(lines: DataFrame, year: Int,
              geo: Option[GeoDims] = None,
              resolver: Option[Enrich.Resolver] = None): DataFrame = {
    val parsed = LogParse.parse(lines, year)
    val withDns = resolver match {
      case Some(r) => Enrich.dedupThenResolve(parsed, r)
      case None => parsed
        .withColumn("hostname", lit("null"))
        .withColumn("reverse_dns_status", lit("Failed (Unknown)"))
    }
    val withGeo = geo match {
      case Some(g) => Enrich.withGeo(withDns, g.country, g.asn)
      case None    => Enrich.withGeoDefaults(withDns)
    }
    withGeo.select(EventsCsv.schema.fieldNames.map(col): _*)
  }

  /** Incremental batch run: offset-tailed read → extract → CSV append →
    * offset persisted, in one Spark execution. The offset moves only after
    * the append has succeeded — the reference's main-loop contract
    * (bin/maillogsentinel.py:714-746) and Structured Streaming's
    * commit-after-sink: a crash before the commit replays the batch
    * (at-least-once), and a half-written last line is left for the next
    * run. The row count is observed on the write itself, so parse and
    * enrich (rDNS included) run once. */
  def runIncremental(spark: SparkSession, logFile: java.nio.file.Path,
                     stateFile: java.nio.file.Path, csvOut: String,
                     year: Int, geo: Option[GeoDims] = None,
                     resolver: Option[Enrich.Resolver] = None): Long = {
    val (lines, newOffset) = LogSource.pendingRead(spark, logFile, stateFile)
    val rows = Observation()
    EventsCsv.append(extract(lines, year, geo, resolver)
      .observe(rows, count(lit(1)).as("n")), csvOut)
    val n = rows.get("n").asInstanceOf[Long]
    LogSource.writeOffset(stateFile, newOffset)
    n
  }

  /** One-line per-run summary — the reference's end-of-run log lines
    * (`bin/maillogsentinel.py:753-760`: "Extraction completed, new
    * offset: N" + finalize message) condensed into a single structured
    * line for log scraping. */
  final case class RunSummary(logFile: String, rows: Long, newOffset: Long,
                              durationMs: Long) {
    def line: String =
      s"Extraction completed: file=$logFile rows=$rows " +
        s"new offset: $newOffset duration_ms=$durationMs"
  }

  /** [[runIncremental]] + timing/offset telemetry, logged to stderr
    * (the analog of the reference's logger.info run footer). */
  def runIncrementalSummarized(spark: SparkSession,
                               logFile: java.nio.file.Path,
                               stateFile: java.nio.file.Path, csvOut: String,
                               year: Int, geo: Option[GeoDims] = None,
                               resolver: Option[Enrich.Resolver] = None): RunSummary = {
    val t0 = System.nanoTime()
    val rows = runIncremental(spark, logFile, stateFile, csvOut, year, geo,
      resolver)
    val s = RunSummary(logFile.toString, rows,
      LogSource.readOffset(stateFile), (System.nanoTime() - t0) / 1000000)
    System.err.println(s.line)
    s
  }

  /** The daily report aggregates (report.py:109-193; SURVEY §2.4): one
    * cached scan feeding the six aggregations. Returns them as named
    * DataFrames; presentation/email stays driver-side. */
  def reportAggregates(events: DataFrame, today: String): Map[String, DataFrame] = {
    val t = events.filter(col("date").startsWith(today)).cache()
    Map(
      "total_today" -> t.agg(count(lit(1)).as("n")),
      "top10_today" -> Report.topK(t,
        Seq("user", "ip", "hostname", "country_code"), 10),
      "top10_usernames" -> Report.topK(t, Seq("user"), 10),
      "top10_countries" -> Report.topK(t, Seq("country_code"), 10),
      "top10_aso" -> Report.topK(t, Seq("aso"), 10),
      "top10_asn" -> Report.topK(t, Seq("asn"), 10),
      "rev_dns_failures" -> t.agg(
        Report.countWhere(col("reverse_dns_status") =!= "OK", "n")),
      "rev_dns_breakdown" -> Report.breakdown(
        t.filter(col("reverse_dns_status") =!= "OK"), "reverse_dns_status"))
  }
}
