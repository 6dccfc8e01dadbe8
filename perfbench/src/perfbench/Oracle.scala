package perfbench

import scala.collection.mutable

/** Brute-force cosine over a growable vector set, computed in the
  * benchmark process: the ground truth every vector-search result is
  * checked against.
  */
final class VecOracle(ids0: Array[Long], vecs0: Array[Array[Float]], labels0: Array[Int]) {
  private val ids = mutable.ArrayBuffer.from(ids0)
  private val vecs = mutable.ArrayBuffer.from(vecs0)
  private val labels = mutable.ArrayBuffer.from(labels0)
  private val norms = mutable.ArrayBuffer.from(vecs0.map(Oracle.norm))
  private val pos = mutable.HashMap.from(ids0.iterator.zipWithIndex)

  def size: Int = ids.length
  def id(i: Int): Long = ids(i)
  def vec(i: Int): Array[Float] = vecs(i)
  def label(i: Int): Int = labels(i)
  def vecOf(id: Long): Array[Float] = vecs(pos(id))
  def indexOf(id: Long): Int = pos(id)
  def contains(id: Long): Boolean = pos.contains(id)
  def maxId: Long = if (ids.isEmpty) -1L else ids.max

  def add(id: Long, v: Array[Float], label: Int): Unit = {
    pos(id) = ids.length
    ids += id; vecs += v; labels += label; norms += Oracle.norm(v)
  }

  /** Cosine of `id` against `q`, in the engine's double arithmetic. */
  def cosine(id: Long, q: Array[Float]): Double = {
    val i = pos(id)
    Oracle.dot(vecs(i), q) / (norms(i) * Oracle.norm(q))
  }

  /** Exact top-k (id, rounded cosine) over the first `upTo` vectors,
    * ordered by (score desc, id asc) like the engine.
    */
  def topK(q: Array[Float], k: Int, upTo: Int = -1)(keep: Int => Boolean): Seq[(Long, Double)] = {
    val n = if (upTo < 0) ids.length else upTo
    val qn = Oracle.norm(q)
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    var i = 0
    while (i < n) {
      if (keep(i)) {
        val s = Oracle.dot(vecs(i), q) / (norms(i) * qn)
        heap.enqueue((s, ids(i)))
        if (heap.size > k) heap.dequeue()
      }
      i += 1
    }
    heap.dequeueAll[(Double, Long)].map { case (s, id) => (id, Oracle.round5(s)) }
      .sortBy { case (id, s) => (-s, id) }
  }
}

object Oracle {
  val Tol = 1e-5

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  def round5(x: Double): Double =
    BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  def near(a: Double, b: Double): Boolean = math.abs(a - b) <= Tol + 1e-12

  /** `got` must be the exact ranking `exp`: same length, same ids in the
    * same order (ids may trade places only where their scores tie
    * within the tolerance), every score within the tolerance of the
    * true cosine.
    */
  def sameRanking(got: Seq[(Long, Double)], exp: Seq[(Long, Double)],
                  truth: Long => Double): Option[String] = {
    if (got.length != exp.length) return Some(s"${got.length} rows, expected ${exp.length}")
    if (got.map(_._1).distinct.length != got.length) return Some("duplicate ids")
    got.zip(exp).zipWithIndex.collectFirst {
      case (((gid, gs), (eid, es)), i) if !near(gs, es) =>
        s"rank ${i + 1}: score $gs (id $gid), expected $es (id $eid)"
      case (((gid, gs), (eid, es)), i) if !near(gs, truth(gid)) =>
        s"rank ${i + 1}: id $gid scored $gs but its cosine is ${truth(gid)}"
      case (((gid, _), (eid, es)), i) if gid != eid && !near(truth(gid), es) =>
        s"rank ${i + 1}: id $gid where $eid was expected"
    }
  }

  /** Rows distinct by id and ordered by (score desc, id asc) — or
    * ascending when `ascending` — the shape every ranked result has.
    */
  def ranked(got: Seq[(Long, Double)], ascending: Boolean = false): Option[String] = {
    if (got.map(_._1).distinct.length != got.length) return Some("duplicate ids")
    got.sliding(2).collectFirst {
      case Seq((a, sa), (b, sb)) if (if (ascending) sa > sb else sa < sb) || (sa == sb && a > b) =>
        s"out of order: ($a, $sa) before ($b, $sb)"
    }
  }

  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.length
}
