package graft.bench

/** Result comparison for the streaming outputs, kept free of Spark so the
  * negative controls can exercise it directly.
  *
  * `attempted` is the number of expected results; `failed` counts every
  * expected result that is missing or unequal, plus every delivered result
  * that is a duplicate or was never expected. Doubles compare bit for bit:
  * the window aggregate folds through `ExactNum`, so the streamed and the
  * batch values are the same IEEE bits.
  */
object Check {
  final case class Outcome(attempted: Long, failed: Long,
                           missing: Long, unequal: Long, extra: Long) {
    def +(o: Outcome): Outcome = Outcome(attempted + o.attempted,
      failed + o.failed, missing + o.missing, unequal + o.unequal, extra + o.extra)
  }
  val Empty: Outcome = Outcome(0, 0, 0, 0, 0)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case _ => a == b
  }

  private def sameRow(a: Seq[Any], b: Seq[Any]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => same(x, y) }

  /** Compare keyed results: `expected` key → values, `got` as delivered
    * (a key delivered twice is a duplicate even when both copies agree). */
  def keyed[K](expected: Map[K, Seq[Any]], got: Seq[(K, Seq[Any])]): Outcome = {
    val byKey = got.groupBy(_._1)
    var missing, unequal, extra = 0L
    expected.foreach { case (k, want) =>
      byKey.get(k) match {
        case None => missing += 1
        case Some(rows) =>
          if (!sameRow(want, rows.head._2)) unequal += 1
          extra += rows.length - 1
      }
    }
    byKey.foreach { case (k, rows) =>
      if (!expected.contains(k)) extra += rows.length
    }
    Outcome(expected.size, missing + unequal + extra, missing, unequal, extra)
  }
}
