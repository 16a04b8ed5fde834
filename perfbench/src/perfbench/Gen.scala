package perfbench

import java.io.{BufferedWriter, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Seeded, single-threaded input generator. Every workload draws its
  * inputs from `new Gen(seed)`, so one seed always yields the same bytes,
  * and the generator keeps its own tally of what the program should
  * produce from them (the expected events, the report's counts).
  *
  * Log lines follow the Postfix shapes in FIXTURES.md §1: SASL failures
  * (the only lines the parser keeps), Postfix noise, and malformed lines
  * (garbage, an invalid month, a SASL line with no IP). IPs and users are
  * Zipf-skewed, as real offender lists are.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new SplittableRandom(seed)
  private def split(): SplittableRandom = rnd.split()

  // ---- geo dimensions -----------------------------------------------

  /** Sorted, non-overlapping [lo, hi] ranges with gaps between them. */
  final class Ranges(val lo: Array[Long], val hi: Array[Long],
                     val value: Array[String]) {
    /** The value of the range holding `ip`, or None (a gap: "N/A"). */
    def lookup(ip: Long): Option[String] = {
      var a = 0
      var b = lo.length - 1
      var found = -1
      while (a <= b) {
        val m = (a + b) >>> 1
        if (lo(m) <= ip) { found = m; a = m + 1 } else b = m - 1
      }
      if (found >= 0 && ip <= hi(found)) Some(value(found)) else None
    }
  }

  /** Country ranges (`lo,hi,CC`) and ASN ranges (`lo,hi,asn,aso`), each
    * `n` slots over 1.0.0.0–223.255.255.255 with ~15% of slots left as
    * gaps, in DimRefresh's CSV format: a header row and a few malformed
    * rows the loader must skip. ASN values are `"asn\u0001aso"`. */
  def dims(dir: Path, n: Int): (Ranges, Ranges) = {
    Files.createDirectories(dir)
    val asos = Array.tabulate(2000)(i => s"NET-${i}-AS Example Carrier $i")
    def ranges(r: SplittableRandom, value: SplittableRandom => String) = {
      val lo = mutable.ArrayBuilder.make[Long]
      val hi = mutable.ArrayBuilder.make[Long]
      val v = mutable.ArrayBuilder.make[String]
      val start = 16777216L
      val span = 3758096383L - start
      val avg = span / n
      var cur = start
      var i = 0
      while (i < n && cur < 3758096383L) {
        val len = 1L + r.nextLong(2 * avg - 1)
        val end = math.min(cur + len - 1, 3758096383L)
        if (r.nextInt(100) >= 15) { lo += cur; hi += end; v += value(r) }
        cur = end + 1
        i += 1
      }
      new Ranges(lo.result(), hi.result(), v.result())
    }
    val country = ranges(split(), r => Countries(r.nextInt(Countries.length)))
    val asn = ranges(split(), { r =>
      val k = r.nextInt(asos.length)
      s"${64512 + k}$Sep${asos(k)}"
    })
    val malformed = Seq("not-an-ip,also-not,XX", "12345", "1.2.3.4,5.6.7.8,ZZ")
    writeLines(dir.resolve("country.csv"), Iterator("start,end,country") ++
      country.lo.indices.iterator.map(i =>
        s"${country.lo(i)},${country.hi(i)},${country.value(i)}") ++
      malformed.iterator)
    writeLines(dir.resolve("asn.csv"), Iterator("start,end,asn,aso") ++
      asn.lo.indices.iterator.map { i =>
        val Array(a, o) = asn.value(i).split(Sep)
        s"${asn.lo(i)},${asn.hi(i)},$a,$o"
      } ++ malformed.iterator)
    (country, asn)
  }

  // ---- mail logs ----------------------------------------------------

  private val ipRnd = split()
  private val ipPool: Array[String] = Array.fill(40000) {
    var a = 0
    while (a == 0 || a == 10 || a == 127) a = 1 + ipRnd.nextInt(223)
    s"$a.${ipRnd.nextInt(256)}.${ipRnd.nextInt(256)}.${1 + ipRnd.nextInt(254)}"
  }
  private val userPool: Array[String] = {
    val common = Array("admin", "root", "info", "test", "support", "office",
      "sales", "user", "postmaster", "webmaster", "contact", "mail")
    common ++ Array.tabulate(6000 - common.length) { i =>
      if (i % 3 == 0) s"user$i@example.com" else s"user$i"
    }
  }
  private val ipZipf = new Zipf(ipPool.length, 1.05)
  private val userZipf = new Zipf(userPool.length, 1.1)
  private val lineRnd = split()

  /** Writes `n` log lines stamped `month/day` (times spread over the
    * day) to `w`, adding each SASL failure's parse result to `out`. */
  def logLines(w: Writer, n: Int, month: Int, day: Int, startSec: Int,
               endSec: Int, out: mutable.ArrayBuffer[Event]): Unit = {
    val r = lineRnd
    var i = 0
    while (i < n) {
      val sec = startSec + ((endSec - startSec).toLong * i / n).toInt
      val hh = sec / 3600; val mm = sec / 60 % 60; val ss = sec % 60
      val ts = f"${Months(month - 1)} $day%2d $hh%02d:$mm%02d:$ss%02d"
      val host = Servers(r.nextInt(Servers.length))
      val pid = 1000 + r.nextInt(60000)
      val ip = ipPool(ipZipf.sample(r))
      val kind = r.nextInt(100)
      val line =
        if (kind < 30) {
          val user = userPool(userZipf.sample(r))
          out += Event(host, f"$day%02d/$month%02d/$Year $hh%02d:$mm%02d", ip,
            user)
          if (kind % 3 == 0)
            s"$ts $host postfix/submission/smtpd[$pid]: warning: " +
              s"unknown[$ip]: SASL LOGIN authentication failed: " +
              s"UGFzc3dvcmQ6, sasl_username=$user"
          else
            s"$ts $host postfix/smtpd[$pid]: warning: unknown[$ip]: SASL " +
              s"PLAIN authentication failed: authentication failure, " +
              s"sasl_username=$user"
        } else if (kind < 95) noise(r, ts, host, pid, ip)
        else kind match {
          case 95 => "This is not a log line."
          case 96 => "GARBLED LOG DATA WITHOUT EXPECTED FORMAT"
          case 97 => s"Xyz 15 10:00:00 $host postfix/smtpd[$pid]: warning: " +
            s"unknown[$ip]: SASL LOGIN authentication failed, " +
            s"sasl_username=ghost"
          case 98 => s"$ts $host postfix/smtpd[$pid]: warning: SASL " +
            s"authentication failure: sasl_username=noip"
          case _ => s"$ts $host postfix/anvil[$pid]: statistics: max " +
            s"connection rate 1/60s"
        }
      w.write(line)
      w.write('\n')
      i += 1
    }
  }

  private def noise(r: SplittableRandom, ts: String, host: String, pid: Int,
                    ip: String): String = {
    val q = f"${r.nextLong(1L << 40)}%010X"
    r.nextInt(7) match {
      case 0 => s"$ts $host postfix/smtpd[$pid]: connect from unknown[$ip]"
      case 1 => s"$ts $host postfix/smtpd[$pid]: disconnect from " +
        s"unknown[$ip] ehlo=1 auth=0/1 quit=1 commands=2/3"
      case 2 => s"$ts $host postfix/qmgr[$pid]: $q: from=<bounce@example.org>, " +
        s"size=${r.nextInt(90000)}, nrcpt=1 (queue active)"
      case 3 => s"$ts $host postfix/cleanup[$pid]: $q: " +
        s"message-id=<$q@example.org>"
      case 4 => s"$ts $host postfix/postscreen[$pid]: CONNECT from " +
        s"[$ip]:${1024 + r.nextInt(60000)} to [192.0.2.1]:25"
      case 5 => s"$ts $host amavis[$pid]: ($pid-01) Passed CLEAN " +
        s"{RelayedInbound}, [$ip]:${1024 + r.nextInt(60000)} " +
        s"<a@example.org> -> <b@example.net>, Hits: -1.1"
      case _ => s"$ts $host postfix/smtp[$pid]: $q: to=<c@example.net>, " +
        s"relay=mx.example.net[192.0.2.7]:25, delay=0.4, status=sent " +
        s"(250 2.0.0 Ok)"
    }
  }

  /** The rotated history plus a small live log, as a host that has run
    * for four days has it: `mail.log.3.gz` (oldest) … `mail.log`. */
  def history(dir: Path, linesPerDay: Int,
              out: mutable.ArrayBuffer[Event]): Unit = {
    Files.createDirectories(dir)
    val files = Seq(("mail.log.3.gz", 1), ("mail.log.2.gz", 2),
      ("mail.log.1", 3))
    files.foreach { case (name, day) =>
      val p = dir.resolve(name)
      val os = Files.newOutputStream(p)
      val w = new BufferedWriter(new OutputStreamWriter(
        if (name.endsWith(".gz")) new GZIPOutputStream(os, 1 << 16) else os,
        UTF_8), 1 << 16)
      try logLines(w, linesPerDay, 10, day, 0, 86399, out) finally w.close()
    }
    appendLog(dir.resolve("mail.log"), linesPerDay / 20, 10, 4, 0, 3600, out)
  }

  /** Appends `n` complete lines to `log` (creating it if absent). */
  def appendLog(log: Path, n: Int, month: Int, day: Int, startSec: Int,
                endSec: Int, out: mutable.ArrayBuffer[Event]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(
      log, StandardOpenOption.CREATE, StandardOpenOption.APPEND), UTF_8),
      1 << 16)
    try logLines(w, n, month, day, startSec, endSec, out) finally w.close()
  }

  // ---- events CSV for the daily report ------------------------------

  /** An events CSV directory (EventsCsv's layout: part files with a
    * header each) holding `days` days of enriched rows in October, the
    * last day being `today`, plus a few short rows the reader must drop.
    * Returns every written row as its nine fields. */
  def eventsCsv(dir: Path, days: Int, rowsPerDay: Int, today: Int,
                enrich: Event => Seq[String]): Seq[Seq[String]] = {
    Files.createDirectories(dir)
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    val header = "server;date;ip;user;hostname;reverse_dns_status;" +
      "country_code;asn;aso"
    val r = lineRnd
    require(days <= today, "the events span must stay inside October")
    (0 until days).foreach { d =>
      val day = today - days + 1 + d
      val w = Files.newBufferedWriter(dir.resolve(f"part-$d%05d.csv"), UTF_8)
      try {
        w.write(header); w.write('\n')
        var i = 0
        while (i < rowsPerDay) {
          val sec = (86399L * i / rowsPerDay).toInt
          val e = Event(Servers(r.nextInt(Servers.length)),
            f"$day%02d/10/$Year ${sec / 3600}%02d:${sec / 60 % 60}%02d",
            ipPool(ipZipf.sample(r)), userPool(userZipf.sample(r)))
          val row = enrich(e)
          rows += row
          w.write(row.mkString(";")); w.write('\n')
          if (i % 5000 == 4999) w.write("badrow;too;few;fields\n")
          i += 1
        }
      } finally w.close()
    }
    rows.toSeq
  }

  // ---- suite tables -------------------------------------------------

  private val docRnd = split()

  /** `documents` rows (doc_id, text, lang, source, n_chars) shaped like
    * the suite's test tables: word salad over a small vocabulary, one
    * doc in five a light edit of an earlier one (near-duplicate
    * families for the dedup kernels). */
  def documents(n: Int): Seq[(Long, String, String, String, Long)] = {
    val r = docRnd
    val originals = mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val words =
        if (i > 10 && r.nextInt(5) == 0) {
          val base = originals(r.nextInt(originals.length)).clone()
          (0 until 1 + r.nextInt(3)).foreach(_ =>
            base(r.nextInt(base.length)) = Vocab(r.nextInt(Vocab.length)))
          base
        } else {
          val w = Array.fill(8 + r.nextInt(80))(Vocab(r.nextInt(Vocab.length)))
          originals += w
          w
        }
      val text = words.mkString(" ")
      val lang = r.nextInt(100) match {
        case x if x < 40 => "en"
        case x if x < 56 => "fr"
        case x if x < 72 => "es"
        case x if x < 86 => "zh"
        case _ => "de"
      }
      (i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  /** `embeddings` rows (vec_id, 64-d unit vector, label): ten Gaussian
    * clusters, label = cluster. */
  def embeddings(n: Int): Seq[(Long, Array[Float], Int)] = {
    val r = docRnd
    val centers = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(c => c + gauss(r) * 0.35)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
  }
}

object Gen {
  val Year = 2025
  val Sep = "\u0001"
  val Months: Array[String] = Array("Jan", "Feb", "Mar", "Apr", "May",
    "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  val Servers: Array[String] = Array("mx1", "mx2", "mail")
  val Countries: Array[String] = ("US CN DE FR GB RU BR IN JP KR NL IT ES " +
    "CA AU PL UA VN TR ID AR MX SE CH BE AT RO CZ IR TH ZA SG HK TW NG EG " +
    "CO CL PE PK BD KZ IL GR PT HU DK FI NO IE").split(' ')
  val Vocab: Array[String] = ("the a fast slow key order sort table scan " +
    "merge part window small big hash join batch stream spark group query " +
    "row data filter customer line value agg column vector dup").split(' ')

  /** One SASL failure as the parser should emit it. */
  final case class Event(server: String, date: String, ip: String,
                         user: String)

  def ipToLong(ip: String): Long =
    ip.split('.').foldLeft(0L)((acc, o) => acc * 256 + o.toLong)

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def gauss(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}
