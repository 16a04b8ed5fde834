package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.operators.Enrich

/** Deterministic stand-in for reverse DNS. Each IP always gets the same
  * answer from the reference taxonomy (a PTR name with status OK,
  * `ERRNO 1`, or `Timeout`), every call costs a fixed service time, and
  * calls are counted. The production path wraps it in `Enrich.bounded`
  * exactly as it wraps the real resolver. */
object StubResolver {
  /** Service time of one lookup. */
  val ServiceNanos: Long = 200000L
  val TimeoutMs: Long = 5000L

  val calls = new AtomicLong

  /** The answer for `ip`: 70% OK, 20% `ERRNO 1`, 10% `Timeout`. */
  def answer(ip: String): Either[String, String] =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(ip, 7), 10) match {
      case k if k < 7 => Right(s"h-${ip.replace('.', '-')}.stub.example")
      case k if k < 9 => Left("ERRNO 1")
      case _ => Left("Timeout")
    }

  private val raw: Enrich.Resolver = { ip =>
    calls.incrementAndGet()
    LockSupport.parkNanos(ServiceNanos)
    answer(ip)
  }

  val resolver: Enrich.Resolver = Enrich.bounded(raw, TimeoutMs)

  /** (hostname, reverse_dns_status) as the events table stores them. */
  def columns(ip: String): (String, String) = answer(ip) match {
    case Right(h) => (h, "OK")
    case Left(e) => ("null", e)
  }
}
