package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** One HTTP request of a workload: its route class, its path and query,
  * and the check its 200 body must pass.
  */
final case class Req(cls: String, path: String, check: String => Boolean)

/** HTTP load from this process: at most `threads` client threads, each
  * reusing one keep-alive connection (HttpURLConnection's connection
  * cache). Bodies are checked after the phase, so checking does not
  * delay the next send.
  */
final class LoadGen(port: Int, threads: Int, t0: Long) {

  def sec(ns: Long): Double = (ns - t0) / 1e9

  /** GET `path`; (status, body), or (-1, message) on an I/O failure. */
  def get(path: String): (Int, String) =
    try {
      val c = URI.create(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(30000)
      c.setReadTimeout(60000)
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      // reading to EOF and closing returns the socket to the keep-alive cache
      val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      (code, body)
    } catch { case e: java.io.IOException => (-1, String.valueOf(e.getMessage)) }

  private final class Sent(val phase: String, val req: Req, val intended: Long,
                           val start: Long, val end: Long, val code: Int,
                           val body: String)

  private def runWorkers(body: mutable.ArrayBuffer[Sent] => Unit): Seq[Sent] = {
    val outs = Seq.fill(threads)(mutable.ArrayBuffer.empty[Sent])
    val ts = outs.map(o => new Thread(() => body(o)))
    ts.foreach(_.start()); ts.foreach(_.join())
    outs.flatten
  }

  private def send(phase: String, r: Req, intended: Long): Sent = {
    val start = System.nanoTime()
    val (code, body) = get(r.path)
    new Sent(phase, r, intended, start, System.nanoTime(), code, body)
  }

  private def toOps(sent: Seq[Sent]): Seq[Op] = sent.map { s =>
    val ok = s.code == 200 && (try s.req.check(s.body) catch {
      case scala.util.control.NonFatal(_) => false })
    Op(s.phase, s.req.cls, sec(s.intended), sec(s.start), sec(s.end), ok)
  }.sortBy(_.intended)

  /** Open loop: request i is due at `from + i / rate` seconds, whichever
    * worker is free takes it; latency runs from the due time, so a
    * backlog shows as latency and as generator lag.
    */
  def openLoop(phase: String, reqs: IndexedSeq[Req], rate: Double,
               from: Long): Seq[Op] = {
    val next = new AtomicInteger(0)
    val gapNs = 1e9 / rate
    toOps(runWorkers { out =>
      var i = next.getAndIncrement()
      while (i < reqs.length) {
        val due = from + (i * gapNs).toLong
        var wait = due - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
        out += send(phase, reqs(i), due)
        i = next.getAndIncrement()
      }
    })
  }

  /** Closed loop: every worker sends its next request as soon as the last
    * one answered, until `untilNs`.
    */
  def closedLoop(phase: String, gen: Int => Req, untilNs: Long): Seq[Op] = {
    val next = new AtomicInteger(0)
    toOps(runWorkers { out =>
      while (System.nanoTime() < untilNs) {
        val r = gen(next.getAndIncrement())
        out += send(phase, r, System.nanoTime())
      }
    })
  }
}
