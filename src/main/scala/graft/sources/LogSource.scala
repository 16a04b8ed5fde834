package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The live log's byte-offset tail, mirroring the reference's ingestion
  * (`lib/maillogsentinel/parser.py:38-217`).
  *
  * [[readNewBytes]] seeks to the saved offset, reads only the appended
  * tail and returns the new offset (parser.py:166-196: seek at :174, tell
  * at :193). Truncation/rotation (size < offset) resets to 0
  * (parser.py:141-145). Only complete lines are read: the offset stops
  * just past the last `\n`, so a line the MTA is still writing is left
  * for the next run. The tail delta of a single live file is inherently a
  * small, single-host read (the reference reads it on one host too); the
  * resulting lines are parallelized into a DataFrame so everything
  * downstream is distributed. At scale the preferred mode is Structured
  * Streaming (graft.streaming.LogStream), where the checkpoint plays the
  * role of state.offset (SURVEY §2.8).
  */
object LogSource {

  /** Offset state file: single long, as the reference's state.offset
    * (utils.py:214-270). Invalid/absent → 0. */
  def readOffset(stateFile: Path): Long =
    if (Files.exists(stateFile))
      try new String(Files.readAllBytes(stateFile),
        StandardCharsets.UTF_8).trim.toLong
      catch { case _: NumberFormatException => 0L }
    else 0L

  def writeOffset(stateFile: Path, offset: Long): Unit = {
    Files.createDirectories(stateFile.getParent)
    Files.write(stateFile, offset.toString.getBytes(StandardCharsets.UTF_8))
  }

  private val ChunkBytes = 1 << 16

  /** The complete lines of `file` from byte `from`, and the offset just
    * past the last `\n`. Lines split on `\n`, drop a trailing `\r` and
    * decode as UTF-8 with bad bytes replaced (parser.py:153's
    * errors="ignore", made visible). Reads through one bounded buffer that
    * grows only to hold a single line longer than it. */
  private def completeLines(file: Path, from: Long): (Vector[String], Long) = {
    val ch = FileChannel.open(file, StandardOpenOption.READ)
    try {
      ch.position(from)
      val lines = Vector.newBuilder[String]
      var buf = new Array[Byte](ChunkBytes)
      var start, filled = 0 // current line's first byte; bytes held in buf
      var end = from // file offset just past the last '\n'
      var n = 0
      while (n >= 0) {
        if (start > 0) { // keep only the unfinished line
          System.arraycopy(buf, start, buf, 0, filled - start)
          filled -= start
          start = 0
        }
        if (filled == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * buf.length)
        n = ch.read(ByteBuffer.wrap(buf, filled, buf.length - filled))
        var i = filled
        filled += math.max(n, 0)
        while (i < filled) {
          if (buf(i) == '\n') {
            val stop = if (i > start && buf(i - 1) == '\r') i - 1 else i
            lines += new String(buf, start, stop - start, StandardCharsets.UTF_8)
            end += i + 1 - start
            start = i + 1
          }
          i += 1
        }
      }
      (lines.result(), end)
    } finally ch.close()
  }

  /** Read the complete lines appended since `offset`; returns (lines DF,
    * new offset). Rotation: size < offset ⇒ reset to 0 and read from the
    * start. */
  def readNewBytes(spark: SparkSession, logFile: Path,
                   offset: Long): (DataFrame, Long) = {
    import spark.implicits._
    if (!Files.exists(logFile)) return (spark.emptyDataset[String].toDF(), 0L)
    val from = if (Files.size(logFile) < offset) 0L else offset
    val (lines, end) = completeLines(logFile, from)
    (spark.createDataset(lines).toDF("value"), end)
  }

  /** The lines a run consumes and the offset to commit once they are
    * safely written; writes no state. First-run semantics
    * (bin/maillogsentinel.py:643): offset==0 ⇒ the rotated files too
    * (oldest first, gzip-transparent), else only the live log's tail. */
  def pendingRead(spark: SparkSession, logFile: Path,
                  stateFile: Path): (DataFrame, Long) = {
    val off = readOffset(stateFile)
    val (tail, newOff) = readNewBytes(spark, logFile, off)
    val df =
      if (off == 0L && Files.exists(logFile.getParent)) {
        val rotated = Files.list(logFile.getParent).iterator().asScala
          .filter(p => p.getFileName.toString
            .startsWith(logFile.getFileName.toString + "."))
          .filter(Files.isRegularFile(_))
          .toSeq.sortBy(_.getFileName.toString)
        if (rotated.nonEmpty)
          spark.read.text(rotated.map(_.toString): _*).union(tail)
        else tail
      } else tail
    (df, newOff)
  }

  /** [[pendingRead]] with its offset committed at once: a caller that
    * fails after this call loses the batch (at-most-once).
    * `graft.Pipeline.runIncremental` commits after its sink instead. */
  def incrementalRead(spark: SparkSession, logFile: Path,
                      stateFile: Path): DataFrame = {
    val (df, newOff) = pendingRead(spark, logFile, stateFile)
    writeOffset(stateFile, newOff)
    df
  }
}
