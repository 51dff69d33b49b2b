package graftbench

/** Checks a delivery record against the manifest: every event delivered
  * exactly once, in generator order within its delivery group, with the
  * payload it was generated with. An event fails when any of these does
  * not hold; an XADD naming no generated event fails on its own.
  */
object DeliveryCheck {
  final case class Outcome(attempted: Long, lost: Long, duplicated: Long,
      reordered: Long, badPayload: Long, unknown: Long, failed: Long) {
    def summary: Map[String, Long] = Map("attempted" -> attempted,
      "lost" -> lost, "duplicated" -> duplicated, "reordered" -> reordered,
      "bad_payload" -> badPayload, "unknown" -> unknown, "failed" -> failed)
  }

  def apply(group: Int => Long, count: Array[Int], order: Array[Long],
      badPayload: Array[Boolean], unknown: Long): Outcome = {
    val n = count.length
    val lastInGroup = new java.util.HashMap[Long, java.lang.Long]()
    var lost, dup, reord, bad, failed = 0L
    var i = 0
    while (i < n) {
      var ok = true
      if (count(i) == 0) { lost += 1; ok = false }
      else {
        if (count(i) > 1) { dup += 1; ok = false }
        if (badPayload(i)) { bad += 1; ok = false }
        val g = group(i)
        val prev = lastInGroup.get(g)
        if (prev != null && order(i) < prev) { reord += 1; ok = false }
        if (prev == null || order(i) > prev) lastInGroup.put(g, order(i))
      }
      if (!ok) failed += 1
      i += 1
    }
    Outcome(n.toLong + unknown, lost, dup, reord, bad, unknown, failed + unknown)
  }

  def apply(gen: CdcGen, d: Deliveries): Outcome =
    apply(i => gen.key(i), d.count, d.order, d.badPayload, d.unknown)
}
