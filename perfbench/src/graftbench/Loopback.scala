package graftbench

import java.net.{InetAddress, InetSocketAddress, StandardSocketOptions}
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** What the loopback does with each XADD it parses. Called on the
  * selector thread only.
  */
trait XaddSink {
  def onXadd(record: String, action: String, arrivalNs: Long): Unit
}

/** Loopback RESP server: one selector thread serves every connection,
  * parses every command frame, answers each one, and hands each XADD's
  * `record` and `action` fields to an [[XaddSink]]. Its counters are the
  * transport's view of delivery: commands, bytes, connections and
  * commands per client flush (one read burst that ends with the client
  * waiting for replies).
  */
final class Loopback(sink: XaddSink) {
  val xadds = new AtomicLong()
  val bytes = new AtomicLong()
  val connections = new AtomicLong()
  @volatile var maxOpen = 0
  private var open = 0
  private val cmdsPerFlush = mutable.ArrayBuffer.empty[Int]

  private val selector = Selector.open()
  private val server = ServerSocketChannel.open()
  server.bind(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.configureBlocking(false)
  server.register(selector, SelectionKey.OP_ACCEPT)
  val port: Int = server.socket().getLocalPort
  @volatile private var running = true

  private final class Conn(val ch: SocketChannel) {
    var buf = new Array[Byte](1 << 16)
    var len = 0
    var pending: ByteBuffer = null
  }

  private val XaddReply = "$3\r\n1-1\r\n".getBytes(UTF_8)
  private val OkReply = "+OK\r\n".getBytes(UTF_8)
  private val PongReply = "+PONG\r\n".getBytes(UTF_8)
  private val readBuf = ByteBuffer.allocate(1 << 16)
  private val out = new java.io.ByteArrayOutputStream(1 << 14)
  // argument offsets of the command being parsed
  private var argOff = new Array[Int](16)
  private var argLen = new Array[Int](16)

  private val thread = new Thread(() => loop(), "graftbench-loopback")
  thread.setDaemon(true)
  thread.start()

  def cmdsPerFlushSamples: Seq[Int] = synchronized(cmdsPerFlush.toList)

  private def loop(): Unit = {
    try {
      while (running) {
        selector.select(50L)
        val it = selector.selectedKeys().iterator()
        while (it.hasNext) {
          val k = it.next()
          it.remove()
          if (k.isValid && k.isAcceptable) accept()
          else if (k.isValid && k.isReadable) read(k)
          if (k.isValid && k.isWritable) flushPending(k)
        }
      }
    } catch { case _: java.nio.channels.ClosedSelectorException => () }
  }

  private def accept(): Unit = {
    val ch = server.accept()
    if (ch != null) {
      ch.configureBlocking(false)
      ch.setOption(StandardSocketOptions.TCP_NODELAY, java.lang.Boolean.TRUE)
      ch.register(selector, SelectionKey.OP_READ, new Conn(ch))
      connections.incrementAndGet()
      open += 1
      if (open > maxOpen) maxOpen = open
    }
  }

  private def close(k: SelectionKey): Unit = {
    k.cancel()
    try k.channel().close() catch { case _: Exception => () }
    open -= 1
  }

  private def read(k: SelectionKey): Unit = {
    val c = k.attachment().asInstanceOf[Conn]
    readBuf.clear()
    val n = try c.ch.read(readBuf) catch { case _: java.io.IOException => -1 }
    if (n < 0) { close(k); return }
    if (n == 0) return
    val now = System.nanoTime()
    bytes.addAndGet(n.toLong)
    if (c.len + n > c.buf.length)
      c.buf = java.util.Arrays.copyOf(c.buf, math.max(c.buf.length * 2, c.len + n))
    System.arraycopy(readBuf.array(), 0, c.buf, c.len, n)
    c.len += n
    out.reset()
    var pos = 0
    var cmds = 0
    var end = parse(c.buf, pos, c.len)
    while (end > 0) {
      reply(c.buf, now)
      cmds += 1
      pos = end
      end = parse(c.buf, pos, c.len)
    }
    if (pos > 0) {
      System.arraycopy(c.buf, pos, c.buf, 0, c.len - pos)
      c.len -= pos
    }
    if (cmds > 0) {
      synchronized { cmdsPerFlush += cmds }
      write(k, c, ByteBuffer.wrap(out.toByteArray))
    }
  }

  private def write(k: SelectionKey, c: Conn, bb: ByteBuffer): Unit = {
    if (c.pending != null) {
      val merged = ByteBuffer.allocate(c.pending.remaining() + bb.remaining())
      merged.put(c.pending).put(bb).flip()
      c.pending = merged
    } else c.pending = bb
    flushPending(k)
  }

  private def flushPending(k: SelectionKey): Unit = {
    val c = k.attachment() match { case c: Conn => c; case _ => return }
    if (c.pending == null) return
    try c.ch.write(c.pending) catch { case _: java.io.IOException => close(k); return }
    if (c.pending.hasRemaining) k.interestOps(SelectionKey.OP_READ | SelectionKey.OP_WRITE)
    else {
      c.pending = null
      k.interestOps(SelectionKey.OP_READ)
    }
  }

  /** Line end (index of '\r') at or after `from`, or -1. */
  private def lineEnd(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i + 1 < until) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  private def parseInt(b: Array[Byte], from: Int, until: Int): Int = {
    var v = 0
    var i = from
    while (i < until) { v = v * 10 + (b(i) - '0'); i += 1 }
    v
  }

  /** Parses one `*N` command starting at `pos`; fills the argument
    * offsets and returns the position after it, or -1 when incomplete.
    */
  private def parse(b: Array[Byte], pos: Int, until: Int): Int = {
    if (pos >= until) return -1
    require(b(pos) == '*', s"loopback: expected a RESP array, got '${b(pos).toChar}'")
    var le = lineEnd(b, pos + 1, until)
    if (le < 0) return -1
    val n = parseInt(b, pos + 1, le)
    if (n > argOff.length) { argOff = new Array[Int](n * 2); argLen = new Array[Int](n * 2) }
    var p = le + 2
    var i = 0
    while (i < n) {
      if (p >= until) return -1
      le = lineEnd(b, p + 1, until)
      if (le < 0) return -1
      val len = parseInt(b, p + 1, le)
      val start = le + 2
      if (start + len + 2 > until) return -1
      argOff(i) = start
      argLen(i) = len
      p = start + len + 2
      i += 1
    }
    argCount = n
    p
  }
  private var argCount = 0

  private def arg(b: Array[Byte], i: Int): String = new String(b, argOff(i), argLen(i), UTF_8)

  private def reply(b: Array[Byte], now: Long): Unit = {
    val cmd = arg(b, 0)
    if (cmd == "XADD") {
      var record: String = null
      var action: String = null
      var i = 3 // XADD key id field value ...
      while (i + 1 < argCount) {
        val f = arg(b, i)
        if (f == "record") record = arg(b, i + 1)
        else if (f == "action") action = arg(b, i + 1)
        i += 2
      }
      sink.onXadd(record, action, now)
      xadds.incrementAndGet()
      out.write(XaddReply)
    } else if (cmd == "PING") out.write(PongReply)
    else out.write(OkReply)
  }

  private val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)

  def stop(): Unit = if (stopped.compareAndSet(false, true)) {
    running = false
    selector.wakeup()
    thread.join(5000L)
    selector.keys().forEach(k => try k.channel().close() catch { case _: Exception => () })
    selector.close()
    server.close()
  }
}

/** Per-event record of what reached the sink, for the delivery check:
  * arrival count, first arrival time and global arrival order, and
  * whether every copy carried the right payload.
  */
final class Deliveries(gen: CdcGen) extends XaddSink {
  val count = new Array[Int](gen.n)
  val firstNs = new Array[Long](gen.n)
  val order = new Array[Long](gen.n)
  val badPayload = new Array[Boolean](gen.n)
  @volatile var unknown = 0L
  private var arrivals = 0L
  /** Events that arrived at least once. */
  val distinct = new AtomicLong()

  override def onXadd(record: String, action: String, arrivalNs: Long): Unit = {
    arrivals += 1
    val id = if (record == null) None else JsonFields.long(record, "id")
    id.map(gen.index).filter(i => i >= 0 && i < gen.n) match {
      case None => unknown += 1
      case Some(i) =>
        if (count(i) == 0) {
          firstNs(i) = arrivalNs
          order(i) = arrivals
        }
        count(i) += 1
        if (!gen.payloadOk(i, record, action)) badPayload(i) = true
        if (count(i) == 1) distinct.incrementAndGet()
    }
  }
}

/** Counts XADDs and checks nothing (the traced replay's sink). */
object NoCheck extends XaddSink {
  override def onXadd(record: String, action: String, arrivalNs: Long): Unit = ()
}
