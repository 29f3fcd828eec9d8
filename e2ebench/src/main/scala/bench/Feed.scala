package bench

import java.io.{BufferedOutputStream, DataInputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, Semaphore, TimeUnit}
import java.util.concurrent.locks.LockSupport

import graft.orderbook.Fixtures
import graft.streaming.WsWire

/** One WS connection's worth of order-book messages, as wire lines. */
final case class Feed(tickers: Seq[String], lines: IndexedSeq[String],
    snapshots: Long, deltas: Long)

object Feed {

  /** `Fixtures.genMessages` over `nTickers` tickers, `perTicker` messages
    * each. The seed permutes which generated name each ticker gets and
    * interleaves the tickers' messages at random; each ticker keeps its
    * own order. `sid` is fixed per connection and `seq` is renumbered
    * 1..n in send order, because the socket source validates one
    * monotone seq per connection. */
  def generate(seed: Long, tag: String, nTickers: Int, perTicker: Int,
      sid: Long): Feed = {
    val rnd = new scala.util.Random(seed)
    val names = rnd.shuffle((0 until nTickers).map(i => f"KX$tag-$i%03d"))
    val perTickerMsgs = Fixtures.genMessages(names, perTicker)
      .grouped(perTicker).map(_.iterator).toArray
    val order = rnd.shuffle(
      (0 until nTickers).flatMap(t => Iterator.fill(perTicker)(t)))
    val msgs = order.map(t => perTickerMsgs(t).next())
    val lines = msgs.zipWithIndex.map { case (m, i) =>
      Fixtures.envelopeJson(m)
        .replaceFirst("\"sid\":\\d+", s""""sid":$sid""")
        .replaceFirst("\"seq\":\\d+", s""""seq":${i + 1}""")
    }
    Feed(names, lines, msgs.count(_.isLeft).toLong,
      msgs.count(_.isRight).toLong)
  }
}

/** A share of a feed played at one rate: `count` lines, `rate` msg/s
  * (<= 0: all due at once, a preloaded backlog). */
final case class Phase(count: Int, rate: Double)

/** A one-connection RFC 6455 server that plays a [[Feed]] to the
  * `graft-socket` source: upgrade handshake, the client's subscribe
  * frame, then one text frame per line and a close handshake. One
  * generator thread writes every frame.
  *
  * The feed is cut into [[Phase]]s; each starts when the harness calls
  * [[startPhase]] (so a phase never lands on a pipeline still busy with
  * the previous one). Within a phase line j is due at `t0 + j / rate`
  * and the loop is open: a stalled reader delays later sends but never
  * the schedule. `phaseStartMs(k)` is the epoch millisecond of phase
  * k's first due time, `lagNsMax` the latest any paced frame left after
  * its due time. */
final class FeedServer(feed: Feed, phases: Seq[Phase]) {
  require(phases.map(_.count).sum == feed.lines.size)
  private val server = new ServerSocket(0)
  private val payloads = feed.lines.map(_.getBytes(UTF_8))
  private val finished = new CountDownLatch(1)
  private val go = new Semaphore(0)
  @volatile private var closing = false
  val phaseStartMs: Array[Long] = Array.fill(phases.size)(-1L)
  @volatile var sent: Long = 0L
  @volatile var lagNsMax: Long = 0L
  @volatile var error: Throwable = _

  def port: Int = server.getLocalPort

  def startPhase(): Unit = go.release()

  private val thread = new Thread(() => {
    try {
      val sock = server.accept()
      try serve(sock) finally sock.close()
    } catch { case e: Throwable => if (!closing) error = e }
    finally finished.countDown()
  }, "e2ebench-feed")
  thread.setDaemon(true)
  thread.start()

  private def serve(sock: java.net.Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    def headerLine(): String = {
      val sb = new StringBuilder
      var b = in.read()
      while (b != -1 && b != '\n') {
        if (b != '\r') sb.append(b.toChar)
        b = in.read()
      }
      sb.toString
    }
    headerLine() // request line
    var key: String = null
    var h = headerLine()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("Sec-WebSocket-Key"))
        key = h.substring(i + 1).trim
      h = headerLine()
    }
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      "Connection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: ${WsWire.acceptKey(key)}\r\n\r\n").getBytes(UTF_8))
    out.flush()
    WsWire.readFrame(in, expectMasked = true) // subscribe
    var i = 0
    for ((phase, k) <- phases.zipWithIndex) {
      go.acquire()
      if (closing) return
      val stepNs = if (phase.rate > 0) 1e9 / phase.rate else 0.0
      val t0 = System.nanoTime()
      phaseStartMs(k) = System.currentTimeMillis()
      var j = 0
      while (j < phase.count) {
        val due = t0 + (j * stepNs).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        WsWire.writeFrame(out, WsWire.Opcode.Text, payloads(i), None)
        val lag = System.nanoTime() - due
        if (phase.rate > 0 && lag > lagNsMax) lagNsMax = lag
        i += 1; j += 1
        sent = i
      }
    }
    WsWire.writeFrame(out, WsWire.Opcode.Close, Array[Byte](0x03, 0xe8.toByte), None)
    try WsWire.readFrame(in, expectMasked = true)
    catch { case _: java.io.IOException => () }
  }

  def close(): Unit = {
    closing = true
    go.release(phases.size)
    server.close()
    finished.await(10, TimeUnit.SECONDS)
    thread.join(10000)
  }
}
