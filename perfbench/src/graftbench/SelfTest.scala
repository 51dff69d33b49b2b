package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** The delivery check's own tests: real XADD frames over a socket to the
  * [[Loopback]], once in order and once each with a dropped, a
  * duplicated, a reordered and a corrupted event and one naming no
  * generated event. Each fault must be counted as failed. Exits 1 on the
  * first case that does not come out as expected.
  */
object SelfTest {
  private def record(gen: CdcGen, i: Int, props: String): String =
    s"""{"id":${gen.eventId(i)},"user_id":${gen.key(i)},"value":${gen.value(i)},"props":"$props"}"""

  private def xadd(gen: CdcGen, i: Int, props: String): Seq[String] =
    Seq("XADD", "benchmark_records", "*", "record", record(gen, i, props),
      "changes", "null", "action", gen.action(i), "metadata", "{}")

  private def deliver(gen: CdcGen, cmds: Seq[Seq[String]]): DeliveryCheck.Outcome = {
    val d = new Deliveries(gen)
    val lb = new Loopback(d)
    try {
      val s = new Socket(InetAddress.getLoopbackAddress, lb.port)
      try {
        val out = new BufferedOutputStream(s.getOutputStream)
        val in = new BufferedInputStream(s.getInputStream)
        cmds.foreach { c =>
          out.write(s"*${c.size}\r\n".getBytes(UTF_8))
          c.foreach { arg =>
            val b = arg.getBytes(UTF_8)
            out.write(s"$$${b.length}\r\n".getBytes(UTF_8)); out.write(b); out.write("\r\n".getBytes(UTF_8))
          }
        }
        out.flush()
        var lines = 0
        while (lines < cmds.size * 2) { // "$3" + "1-1" per XADD reply
          val c = in.read()
          require(c >= 0, "loopback closed the connection")
          if (c == '\n') lines += 1
        }
      } finally s.close()
    } finally lb.stop()
    DeliveryCheck(gen, d)
  }

  def main(argv: Array[String]): Unit = {
    val gen = new CdcGen(7L, 12)
    require(gen.key(0) == gen.key(1), "fixture: events 0 and 1 share a delivery group")
    def ok(i: Int) = xadd(gen, i, gen.props(i))
    val all = (0 until gen.n).map(ok)
    val cases: Seq[(String, Seq[Seq[String]], DeliveryCheck.Outcome => Boolean)] = Seq(
      ("in order", all, o => o.failed == 0 && o.attempted == gen.n),
      ("dropped", all.patch(3, Nil, 1), o => o.lost == 1 && o.failed == 1),
      ("duplicated", all.patch(3, Seq(ok(3), ok(3)), 1), o => o.duplicated == 1 && o.failed == 1),
      ("reordered", Seq(ok(1), ok(0)) ++ all.drop(2), o => o.reordered == 1 && o.failed == 1),
      ("bad payload", all.patch(4, Seq(xadd(gen, 4, gen.props(4).reverse)), 1),
        o => o.badPayload == 1 && o.failed == 1),
      ("wrong action", all.patch(5, Seq(ok(5).updated(8, "truncate")), 1),
        o => o.badPayload == 1 && o.failed == 1),
      ("unknown event", all :+ xadd(new CdcGen(7L, 99), 98, "x"),
        o => o.unknown == 1 && o.failed == 1))
    var bad = 0
    cases.foreach { case (name, cmds, expect) =>
      val o = deliver(gen, cmds)
      val pass = expect(o)
      if (!pass) bad += 1
      println(f"${if (pass) "PASS" else "FAIL"}%-4s $name%-14s ${o.summary}")
    }
    println(if (bad == 0) "selftest ok" else s"selftest: $bad case(s) failed")
    sys.exit(if (bad == 0) 0 else 1)
  }
}
