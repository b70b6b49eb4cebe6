package perfbench

import scala.collection.mutable

import org.apache.datasketches.kll.KllSketch

/** A query the benchmark submits, with the reference computation its
  * results are checked against. `check` gets the CLIP's records and every
  * row (batch, row index) the CLIP covers, and returns an error message on
  * mismatch. */
sealed trait Spec {
  def id: String
  def bql: String
  /** True when a COMPLETE is expected before the run ends (lookups). */
  def mustComplete: Boolean = false
  def check(kind: String, records: Seq[Map[String, Any]], rows: Rows): Option[String]
}

/** The rows a CLIP covers: one contiguous range of batches. */
final class Rows(val batches: Seq[Batch]) {
  def foreach(pred: (Batch, Int) => Boolean)(f: (Batch, Int) => Unit): Unit =
    batches.foreach { b =>
      var i = 0
      while (i < b.size) { if (pred(b, i)) f(b, i); i += 1 }
    }
  def values(pred: (Batch, Int) => Boolean): Array[Double] = {
    val out = Array.newBuilder[Double]; foreach(pred)((b, i) => out += b.value(i)); out.result()
  }
}

object Spec {
  private def num(v: Any): Double = v match {
    case n: Number => n.doubleValue
    case null => Double.NaN
    case s: String => s.toDouble
  }
  private def long(v: Any): Long = v match {
    case n: Number => n.longValue
    case s: String => s.toLong
  }

  /** KLL streaming default k (see QueryState.forQuery). Bounds are twice
    * the sketch's stated 99%-confidence normalized rank error. */
  val KllK = 2048
  val RankEps: Double = 2 * KllSketch.getNormalizedRankError(KllK, false)
  val PmfEps: Double = 2 * KllSketch.getNormalizedRankError(KllK, true)
  /** Theta union at lgK = 12: relative standard error 1/sqrt(4096); the
    * check allows five standard errors. */
  val ThetaRel: Double = 5.0 / 64

  type Pred = (Batch, Int) => Boolean

  /** COUNT(*) and SUM(value): exact. */
  final case class CountSum(id: String, where: String, pred: Pred, suffix: String) extends Spec {
    def bql = s"SELECT COUNT(*) AS cnt, SUM(value) AS sv FROM STREAM WHERE $where$suffix"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] = {
      var n = 0L; var s = 0.0
      rows.foreach(pred) { (b, i) => n += 1; s += b.value(i) }
      recs match {
        case Seq(r) =>
          val gotN = long(r("cnt"))
          val gotS = r.get("sv").map(num).getOrElse(Double.NaN)
          val sOk = if (n == 0) gotS.isNaN else gotS == s
          if (gotN == n && sOk) None else Some(s"cnt/sum $gotN/$gotS, want $n/$s")
        case other => Some(s"want one row, got ${other.size}")
      }
    }
  }

  /** Tenant COUNT(DISTINCT event_type): at most 8 distinct, so exact. */
  final case class TenantDistinctTypes(id: String, user: Long, suffix: String) extends Spec {
    def bql = s"SELECT COUNT(DISTINCT event_type) AS ne FROM STREAM WHERE user_id == $user$suffix"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] = {
      val types = mutable.Set.empty[Int]
      rows.foreach((b, i) => b.userId(i) == user)((b, i) => types += b.etype(i))
      val want = types.size.toLong
      recs match {
        case Seq(r) if long(r("ne")) == want => None
        case other => Some(s"distinct types ${other.map(_.get("ne"))}, want $want")
      }
    }
  }

  /** Theta COUNT(DISTINCT user_id) within five standard errors. */
  final case class DistinctUsers(id: String, where: String, pred: Pred, suffix: String) extends Spec {
    def bql = s"SELECT COUNT(DISTINCT user_id) AS nu FROM STREAM WHERE $where$suffix"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] = {
      val seen = new java.util.HashSet[java.lang.Long]
      rows.foreach(pred)((b, i) => seen.add(b.userId(i)))
      val want = seen.size.toDouble
      recs match {
        case Seq(r) =>
          val got = num(r("nu"))
          if (math.abs(got - want) <= ThetaRel * want + 0.5) None
          else Some(s"distinct $got, want $want ± ${ThetaRel * want}")
        case other => Some(s"want one row, got ${other.size}")
      }
    }
  }

  /** KLL median within the rank bound. */
  final case class Median(id: String, where: String, pred: Pred, suffix: String) extends Spec {
    def bql = s"SELECT QUANTILE(value, 0.5) AS q FROM STREAM WHERE $where$suffix"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] =
      checkQuantile(rows.values(pred), 0.5, recs, "q")
  }

  def checkQuantile(vs: Array[Double], p: Double, recs: Seq[Map[String, Any]],
      name: String): Option[String] =
    if (vs.isEmpty) { if (recs.isEmpty) None else Some(s"empty input, got ${recs.size} rows") }
    else recs match {
      case Seq(r) =>
        val q = num(r(name))
        val n = vs.length.toDouble
        val below = vs.count(_ < q) / n
        val atOrBelow = vs.count(_ <= q) / n
        if (below - RankEps <= p && p <= atOrBelow + RankEps) None
        else Some(f"quantile $q has rank [$below%.4f, $atOrBelow%.4f], want $p ± $RankEps%.4f")
      case other => Some(s"want one quantile row, got ${other.size}")
    }

  /** KLL PMF over split points that no integer value hits. */
  final case class Pmf(id: String, where: String, pred: Pred, suffix: String) extends Spec {
    val splits = Seq(249.5, 499.5, 749.5)
    def bql = s"SELECT PMF(value, ${splits.mkString(", ")}) AS n FROM STREAM WHERE $where$suffix"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] = {
      val vs = rows.values(pred)
      if (vs.isEmpty) return if (recs.isEmpty) None else Some("empty input, got rows")
      val want = Array.fill(splits.size + 1)(0L)
      vs.foreach(v => want(splits.count(_ < v)) += 1)
      val got = recs.map(r => long(r("bin")).toInt -> long(r("n"))).toMap
      val tol = PmfEps * vs.length + 1
      val bad = want.indices.filter(i => math.abs(got.getOrElse(i, -1L) - want(i)) > tol)
      if (bad.isEmpty) None else Some(s"pmf ${got.toSeq.sorted}, want ${want.toSeq} ± $tol")
    }
  }

  private def typeCounts(rows: Rows, pred: Pred): Map[String, Long] = {
    val c = new Array[Long](Records.EventTypes.size)
    rows.foreach(pred)((b, i) => c(b.etype(i)) += 1)
    c.indices.filter(c(_) > 0).map(i => Records.EventTypes(i) -> c(i)).toMap
  }

  /** GROUP BY event_type COUNT(*): exact. */
  final case class GroupTypes(id: String, where: String, pred: Pred, suffix: String) extends Spec {
    def bql = s"SELECT event_type, COUNT(*) AS cnt FROM STREAM WHERE $where GROUP BY event_type$suffix"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] = {
      val want = typeCounts(rows, pred)
      val got = recs.map(r => r("event_type").toString -> long(r("cnt"))).toMap
      if (got == want && got.size == recs.size) None else Some(s"groups $got, want $want")
    }
  }

  /** TOP(3, event_type): exact counts, ties broken by name. */
  final case class Top3Types(id: String, where: String, pred: Pred, suffix: String) extends Spec {
    def bql = s"SELECT TOP(3, event_type) AS cnt FROM STREAM WHERE $where$suffix"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] = {
      val want = typeCounts(rows, pred).toSeq.sortBy { case (k, c) => (-c, k) }.take(3)
      val got = recs.map(r => r("event_type").toString -> long(r("cnt")))
      if (got == want) None else Some(s"top $got, want $want")
    }
  }

  /** RAW lookup: every row must be a covered record matching the
    * predicate, no row twice, and a COMPLETE must carry exactly `limit`. */
  final case class Lookup(id: String, etype: Int, above: Int, limit: Int) extends Spec {
    override def mustComplete = true
    def bql = s"SELECT * FROM STREAM WHERE event_type == '${Records.EventTypes(etype)}' " +
      s"AND value > $above LIMIT $limit"
    def check(kind: String, recs: Seq[Map[String, Any]], rows: Rows): Option[String] = {
      val byId = rows.batches.iterator.flatMap(b => (0 until b.size).iterator.map(i => b.eventId(i) -> (b, i))).toMap
      val ids = recs.map(r => long(r("event_id")))
      val wrong = recs.filterNot { r =>
        byId.get(long(r("event_id"))).exists { case (b, i) =>
          b.etype(i) == etype && b.value(i) > above && long(r("user_id")) == b.userId(i) &&
            long(r("created_ms")) == b.createdMs(i) && num(r("value")) == b.value(i) &&
            r("event_type") == Records.EventTypes(etype)
        }
      }
      if (wrong.nonEmpty) Some(s"${wrong.size} rows not matching the predicate, e.g. ${wrong.head}")
      else if (ids.distinct.size != ids.size) Some("duplicate rows")
      else if (kind == "Complete" && recs.size != limit) Some(s"COMPLETE with ${recs.size}/$limit rows")
      else if (recs.size > limit) Some(s"${recs.size} rows over limit $limit")
      else None
    }
  }
}
