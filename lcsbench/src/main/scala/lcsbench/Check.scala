package lcsbench

/** Reference comparisons. Each returns None when the engine's result
  * matches the plain-Scala reference, or Some(reason) when it does not;
  * a mismatch counts the op as failed. */
object Check {

  /** Same multiset of ids, order ignored (box reads, dedup survivors,
    * planted duplicate sets). */
  def sameIds(what: String, expected: Seq[Long], got: Seq[Long]): Option[String] = {
    val (e, g) = (expected.sorted, got.sorted)
    if (e == g) None
    else {
      val missing = e.diff(g).take(3)
      val extra = g.diff(e).take(3)
      Some(s"$what: expected ${e.length} ids, got ${g.length} " +
        s"(missing ${missing.mkString(",")}; extra ${extra.mkString(",")})")
    }
  }

  /** Same ranked list (lexical top-k): position matters. */
  def sameRanking(what: String, expected: Seq[Long], got: Seq[Long]): Option[String] =
    if (expected == got) None
    else Some(s"$what: expected ranking ${expected.mkString(",")}, " +
      s"got ${got.mkString(",")}")

  /** Same rows as (key -> value) maps (day reports, pack assignments). */
  def sameRows[K, V](what: String, expected: Map[K, V], got: Map[K, V]): Option[String] =
    if (expected == got) None
    else {
      val diff = (expected.keySet ++ got.keySet)
        .filter(k => expected.get(k) != got.get(k)).take(3)
      Some(s"$what: ${diff.size} rows differ, e.g. " +
        diff.map(k => s"$k: expected ${expected.get(k)}, got ${got.get(k)}").mkString("; "))
    }

  /** Share of the reference top-k that the engine returned. */
  def recall(expected: Seq[Long], got: Seq[Long]): Double =
    if (expected.isEmpty) 1.0
    else expected.toSet.intersect(got.toSet).size.toDouble / expected.size

  def all(results: Option[String]*): Option[String] = results.flatten.headOption
}
