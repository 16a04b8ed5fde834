package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.types._

/** The rows each `suite` query must return, computed from the query's
  * definition in plain Scala over the generated tables. Nothing here
  * calls the program, so a query that returns wrong rows fails its check
  * on every pass, cold and warm alike.
  *
  * Each result is (column types, rows); the bench casts the columns to
  * the types the query reports before hashing, so only values count.
  */
object SuiteReference {
  type Doc = (Long, String, String, String, Long)
  type Vec = (Long, Array[Float], Int)
  type Result = (Seq[StructField], Seq[Seq[Any]])

  private val Hex = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private def long(name: String) = StructField(name, LongType)

  /** q17_dedup_minhash_lsh: distinct char-5 shingles per document
    * (positions 1 .. max(len − 4, 1)); MinHash component j (of 8) is the
    * smallest hex slice j % 4 (8 characters) of md5("m" + j / 4 + shingle);
    * band keys md5("0" + h0..h3) and md5("1" + h4..h7); the result is
    * every distinct pair (doc_a < doc_b) sharing a band key. */
  def q17(docs: Seq[Doc]): Result = {
    val byBand = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    docs.foreach { case (id, text, _, _, _) =>
      val h = Array.fill(8)("g") // above every hex slice
      (0 until math.max(text.length - 4, 1))
        .map(i => text.substring(i, math.min(i + 5, text.length)))
        .distinct
        .foreach { sh =>
          (0 until 2).foreach { m =>
            val d = md5Hex(s"m$m$sh")
            (0 until 4).foreach { s =>
              val slice = d.substring(s * 8, s * 8 + 8)
              if (slice < h(4 * m + s)) h(4 * m + s) = slice
            }
          }
        }
      Seq(md5Hex("0" + h.take(4).mkString), md5Hex("1" + h.drop(4).mkString))
        .foreach(bk => byBand.getOrElseUpdate(bk, mutable.ArrayBuffer.empty) += id)
    }
    val pairs = mutable.HashSet.empty[(Long, Long)]
    byBand.values.foreach { ids =>
      for (a <- ids; b <- ids if a < b) pairs += ((a, b))
    }
    (Seq(long("doc_a"), long("doc_b")),
      pairs.toSeq.sorted.map { case (a, b) => Seq(a, b) })
  }

  /** The split of a document: first hex digit of md5("split:" + id),
    * `d` val, `e`/`f` test, else train. */
  def splitOf(id: Long): String = md5Hex(s"split:$id").charAt(0) match {
    case 'd' => "val"
    case 'e' | 'f' => "test"
    case _ => "train"
  }

  /** q193_split_leakage: the char-20 grams of each document of at least
    * 20 characters; a gram leaks into an eval split when a train document
    * and a document of that split both hold it. Per eval split (test,
    * val): the leaked grams, and the eval and train documents holding
    * one. */
  def q193(docs: Seq[Doc]): Result = {
    val N = 20
    val Train = 1; val Test = 2; val Val = 4
    def bit(id: Long) = splitOf(id) match {
      case "train" => Train
      case "test" => Test
      case _ => Val
    }
    val grams = docs.collect { case (id, text, _, _, _) if text.length >= N =>
      id -> (0 to text.length - N).map(i => text.substring(i, i + N))
    }
    val flags = mutable.HashMap.empty[String, Int]
    grams.foreach { case (id, gs) =>
      gs.foreach(g => flags(g) = flags.getOrElse(g, 0) | bit(id))
    }
    val leaked = flags.filter { case (_, f) => (f & Train) != 0 && (f & (Test | Val)) != 0 }
    def row(split: String, b: Int) = {
      val docsHolding = grams.filter { case (_, gs) =>
        gs.exists(g => leaked.get(g).exists(f => (f & b) != 0))
      }.map(_._1)
      Seq(split, leaked.count { case (_, f) => (f & b) != 0 }.toLong,
        docsHolding.count(bit(_) == b).toLong,
        docsHolding.count(bit(_) == Train).toLong)
    }
    (Seq(StructField("eval_split", StringType), long("n_leaking_grams"),
      long("n_eval_docs"), long("n_train_docs")),
      Seq(row("test", Test), row("val", Val)))
  }

  /** q47_ivf_assign_census: centroids are the vectors whose id is a
    * multiple of 97 (cell id / 97); each vector goes to the cell of least
    * squared L2 distance xx + cc − 2·xc, ties to the lower cell, where
    * every dot product sums float-to-double products each rounded half up
    * to 16 decimals (exact decimal arithmetic). Per cell: members and the
    * least member id. */
  def q47(vecs: Seq[Vec]): Result = {
    val Stride = 97
    def dot(a: Array[Double], b: Array[Double]): BigDecimal = {
      var acc = BigDecimal(0)
      var i = 0
      while (i < a.length) {
        acc += BigDecimal(a(i) * b(i)).setScale(16, BigDecimal.RoundingMode.HALF_UP)
        i += 1
      }
      acc
    }
    val v = vecs.map { case (id, e, _) => (id, e.map(_.toDouble)) }
    val cents = v.collect { case (id, a) if id % Stride == 0 =>
      (id / Stride, a, dot(a, a))
    }
    val cell = v.map { case (id, a) =>
      val xx = dot(a, a)
      val (cid, _) = cents.map { case (c, ca, cc) => (c, xx + cc - 2 * dot(a, ca)) }
        .minBy { case (c, d2) => (d2, c) }
      (id, cid)
    }
    (Seq(long("cid"), long("n"), long("min_vec")),
      cell.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, ms) =>
        Seq(cid, ms.size.toLong, ms.map(_._1).min)
      })
  }
}
