package lambdabench

/** A served answer that disagrees with the generator's ground truth. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

/** Answer checks against ground truth. Each throws [[WrongAnswer]]. */
object Checks {

  /** `actual` must equal `truth` key for key. */
  def same[K, V](what: String, actual: Map[K, V], truth: Map[K, V]): Unit =
    if (actual != truth) {
      val missing = (truth.keySet -- actual.keySet).take(3)
      val extra = (actual.keySet -- truth.keySet).take(3)
      val differ = truth.keySet.intersect(actual.keySet)
        .filter(k => truth(k) != actual(k)).take(3)
        .map(k => s"$k: ${actual(k)} != ${truth(k)}")
      throw new WrongAnswer(s"$what: ${actual.size} rows vs ${truth.size} expected; " +
        s"missing ${missing.mkString(",")}; extra ${extra.mkString(",")}; " +
        s"differ ${differ.mkString(",")}")
    }

  /** A point read must return exactly `expected`. */
  def value[V](what: String, actual: Seq[V], expected: V): Unit =
    if (actual != Seq(expected))
      throw new WrongAnswer(s"$what: got ${actual.mkString("[", ",", "]")}, expected $expected")

  /** A search must rank `expected` among its hits. */
  def ranks[V](what: String, hits: Seq[V], expected: V): Unit =
    if (!hits.contains(expected))
      throw new WrongAnswer(s"$what: $expected not in ${hits.mkString("[", ",", "]")}")
}

/** Tab-separated ground-truth files written by gen.py (header line first). */
object Tsv {
  def rows(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().drop(1).map(_.split("\t", -1)).toVector
    finally src.close()
  }
}
