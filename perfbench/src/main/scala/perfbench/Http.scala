package perfbench

import java.io.{BufferedInputStream, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

final case class Resp(status: Int, body: String)

/** One HTTP/1.1 keep-alive client connection, as an ordinary client keeps
  * one: TCP_NODELAY on its own socket, each request written in one
  * write, the connection reused until the server closes it. Not
  * thread-safe: one connection per load thread. */
final class Conn(port: Int, timeoutMs: Int = 30000) {
  private var sock: java.net.Socket = _
  private var in: BufferedInputStream = _

  private def open(): Unit = {
    val s = new java.net.Socket()
    s.setTcpNoDelay(true)
    s.connect(new java.net.InetSocketAddress("127.0.0.1", port), timeoutMs)
    s.setSoTimeout(timeoutMs)
    sock = s
    in = new BufferedInputStream(s.getInputStream, 1 << 16)
  }

  def close(): Unit = if (sock != null) {
    try sock.close() catch { case _: IOException => () }
    sock = null
  }

  def get(path: String): Resp = exchange("GET", path, Array.emptyByteArray)
  def post(path: String, body: String): Resp =
    exchange("POST", path, body.getBytes(UTF_8))

  private def exchange(method: String, path: String, body: Array[Byte]): Resp = {
    if (sock == null) open()
    try {
      val head = (s"$method $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        (if (method == "POST")
          s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n"
        else "") + "\r\n").getBytes(UTF_8)
      val out = sock.getOutputStream
      out.write(head ++ body)
      out.flush()
      readResponse()
    } catch { case NonFatal(e) => close(); throw e }
  }

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new IOException("connection closed mid-response")
      if (c != '\r') sb += c.toChar
      c = in.read()
    }
    sb.toString
  }

  private def readN(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(b, off, n - off)
      if (k < 0) throw new IOException("connection closed mid-body")
      off += k
    }
    b
  }

  private def readResponse(): Resp = {
    val status = line().split(' ')(1).toInt
    var length = -1
    var closeAfter = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val k = h.substring(0, i).trim.toLowerCase
      val v = h.substring(i + 1).trim
      if (k == "content-length") length = v.toInt
      else if (k == "connection") closeAfter = v.equalsIgnoreCase("close")
      h = line()
    }
    // the server sends every body with a fixed length
    if (length < 0) throw new IOException("response without Content-Length")
    val body = readN(length)
    if (closeAfter) close()
    Resp(status, new String(body, UTF_8))
  }
}

/** One answered (or failed) request. Times are `System.nanoTime`. */
final case class Sample(req: Req, due: Long, sent: Long, done: Long,
                        resp: Option[Resp]) {
  def latencyMs: Double = (done - due) / 1e6
  def lateMs: Double = (sent - due) / 1e6
  def ok: Boolean = resp.exists(_.status == 200)
}

object Load {

  /** Poisson arrival offsets (ns) at `rate` per second over `seconds`. */
  def poisson(rnd: java.util.Random, rate: Double, seconds: Double): Vector[Long] = {
    val b = Vector.newBuilder[Long]
    var t = 0.0
    while ({ t += -math.log(1.0 - rnd.nextDouble()) / rate; t < seconds }) b += (t * 1e9).toLong
    b.result()
  }

  /** A request that fails in any way (refused, timed out, malformed
    * response) is a sample without a response, counted as failed. */
  private def call(c: Conn, r: Req, due: Long): Sample = {
    val sent = System.nanoTime()
    val resp = try Some(c.post(r.path, r.body)) catch { case NonFatal(_) => None }
    Sample(r, due, sent, System.nanoTime(), resp)
  }

  private def sleepUntil(t: Long): Unit = {
    var d = t - System.nanoTime()
    while (d > 0) { java.util.concurrent.locks.LockSupport.parkNanos(d); d = t - System.nanoTime() }
  }

  /** `body` on `n` threads; a thread that dies fails the whole run
    * rather than silently dropping its samples. */
  private def workers[T](n: Int)(body: Int => Seq[T]): Seq[T] = {
    val out = Array.fill(n)(Seq.empty[T])
    val died = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until n).map { k =>
      val t = new Thread(() =>
        try out(k) = body(k) catch { case e: Throwable => died.compareAndSet(null, e) },
        s"perfbench-load-$k")
      t.start(); t
    }
    ts.foreach(_.join())
    if (died.get != null) throw new IllegalStateException("load thread died", died.get)
    out.toSeq.flatten
  }

  /** Open loop: request i is due at `start + offsets(i)`; `conns`
    * keep-alive connections each take the next due request once free, so
    * a stall delays later requests and their latency, counted from the
    * due time, shows it. */
  def open(port: Int, reqs: IndexedSeq[Req], offsets: IndexedSeq[Long],
           conns: Int, start: Long): Seq[Sample] = {
    val next = new AtomicInteger(0)
    workers(conns) { _ =>
      val c = new Conn(port)
      val b = Vector.newBuilder[Sample]
      var i = next.getAndIncrement()
      while (i < reqs.size) {
        val due = start + offsets(i)
        sleepUntil(due)
        b += call(c, reqs(i), due)
        i = next.getAndIncrement()
      }
      c.close()
      b.result()
    }
  }

  /** Closed loop: `conns` clients each send their next request as soon
    * as the previous answer is read, until `deadline`. */
  def closed(port: Int, next: () => Req, conns: Int, deadline: Long): Seq[Sample] =
    workers(conns) { _ =>
      val c = new Conn(port)
      val b = Vector.newBuilder[Sample]
      while (System.nanoTime() < deadline) {
        val r = next.synchronized(next())
        b += call(c, r, System.nanoTime())
      }
      c.close()
      b.result()
    }

  /** Run each request once, in order, on `conns` threads, each request on
    * a connection of its own: back-to-back requests on one keep-alive
    * connection would each wait out the server's delayed-ACK stall. */
  def once(port: Int, reqs: Seq[Req], conns: Int): Seq[Sample] = {
    val v = reqs.toIndexedSeq
    val next = new AtomicInteger(0)
    workers(conns) { _ =>
      val b = Vector.newBuilder[Sample]
      var i = next.getAndIncrement()
      while (i < v.size) {
        val c = new Conn(port)
        b += call(c, v(i), System.nanoTime())
        c.close()
        i = next.getAndIncrement()
      }
      b.result()
    }
  }
}
