package graftbench

import scala.collection.mutable

/**
 * Answers computed apart from the program, and the checks that compare the
 * program's answers with them. Nothing here calls the engine.
 */
object Oracle {
  /** Relative tolerance on scores and distances (the checks must still see a
   * perturbation of 1e-3). */
  val Tol = 1e-6
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))

  final case class Scored(id: Long, score: Double)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
  }

  /** Exact top-k of candidate objects: smallest cosine distance first, ties
   * broken by id. */
  def nearest(cands: Iterator[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Scored] = {
    val ord = Ordering.by[Scored, (Double, Long)](s => (s.score, s.id))
    val heap = mutable.PriorityQueue.empty[Scored](ord) // max-heap: worst on top
    cands.foreach { case (id, v) =>
      val s = Scored(id, cosine(q, v))
      if (heap.size < k) heap.enqueue(s)
      else if (ord.lt(s, heap.head)) { heap.dequeue(); heap.enqueue(s) }
    }
    heap.toList.sorted(ord)
  }

  /**
   * BM25 over one word-tokenized property, as weaviate defines it: the
   * property length of a document is its number of distinct terms, the
   * average is taken over all documents,
   * idf = ln(1 + (N - n + 0.5) / (n + 0.5)), and a term repeated in the query
   * has its idf multiplied by its repeat count.
   */
  final class Bm25(words: Array[Array[Int]], k1: Double = 1.2, b: Double = 0.75) {
    private val n = words.length
    private val dl: Array[Int] = words.map(_.distinct.length)
    private val avg: Double = dl.map(_.toDouble).sum / n
    private val postings: Map[Int, (Array[Int], Array[Int])] = {
      val docs = mutable.HashMap.empty[Int, mutable.ArrayBuilder.ofInt]
      val tfs = mutable.HashMap.empty[Int, mutable.ArrayBuilder.ofInt]
      var i = 0
      while (i < n) {
        words(i).groupBy(identity).foreach { case (t, occ) =>
          docs.getOrElseUpdate(t, new mutable.ArrayBuilder.ofInt) += i
          tfs.getOrElseUpdate(t, new mutable.ArrayBuilder.ofInt) += occ.length
        }
        i += 1
      }
      docs.map { case (t, d) => t -> ((d.result(), tfs(t).result())) }.toMap
    }

    /** Score of every document that holds at least one of the terms. */
    def scores(terms: Seq[Int]): Map[Int, Double] = {
      val acc = mutable.HashMap.empty[Int, Double]
      terms.distinct.foreach { t =>
        postings.get(t).foreach { case (docs, tf) =>
          val df = docs.length.toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * terms.count(_ == t)
          var j = 0
          while (j < docs.length) {
            val f = tf(j).toDouble
            val s = idf * f / (f + k1 * (1.0 - b + b * dl(docs(j)) / avg))
            acc(docs(j)) = acc.getOrElse(docs(j), 0.0) + s
            j += 1
          }
        }
      }
      acc.toMap
    }
  }

  /** Highest score first, ties broken by id. */
  def topByScore(scores: Iterable[Scored], k: Int): Seq[Scored] =
    scores.toSeq.sortBy(s => (-s.score, s.id)).take(k)

  /**
   * Hybrid fusion of a keyword leg and a vector leg, each the leg's top
   * `fetchN` (keyword: BM25 score; vector: 1 - distance / 2), as weaviate
   * fuses them: relativeScore min-max normalizes each leg and sums the
   * weighted normals; ranked sums weight / (60 + rank). Returns every fused
   * id with its score, best first.
   */
  def fuse(sparse: Seq[Scored], dense: Seq[Scored], alpha: Double, ranked: Boolean): Seq[Scored] = {
    def contrib(leg: Seq[Scored], w: Double): Map[Long, Double] =
      if (leg.isEmpty) Map.empty
      else if (ranked) {
        val ordered = leg.sortBy(s => (-s.score, s.id))
        ordered.zipWithIndex.map { case (s, i) => s.id -> w / (60.0 + i + 1) }.toMap
      } else {
        val mn = leg.map(_.score).min; val mx = leg.map(_.score).max
        leg.map(s => s.id -> (if (mx == mn) 1.0 else (s.score - mn) / (mx - mn)) * w).toMap
      }
    val a = contrib(sparse, 1.0 - alpha); val d = contrib(dense, alpha)
    (a.keySet ++ d.keySet).toSeq
      .map(id => Scored(id, a.getOrElse(id, 0.0) + d.getOrElse(id, 0.0)))
      .sortBy(s => (-s.score, s.id))
  }

  /**
   * A ranked answer is right when it has the expected length, no duplicate
   * id, every returned id carries its own expected score, and the scores
   * match the expected ranking position by position. Ties may therefore be
   * resolved either way; a wrong id, a wrong order or a wrong score is not.
   */
  def checkRanked(what: String, got: Seq[Scored], expectedTop: Seq[Scored],
                  expectedOf: Long => Option[Double]): Option[String] = {
    if (got.size != expectedTop.size)
      return Some(s"$what: ${got.size} results, expected ${expectedTop.size}")
    if (got.map(_.id).distinct.size != got.size)
      return Some(s"$what: duplicate id in ${got.map(_.id).mkString(",")}")
    got.foreach { g =>
      expectedOf(g.id) match {
        case None => return Some(s"$what: id ${g.id} should not be returned")
        case Some(e) if !close(g.score, e) =>
          return Some(s"$what: id ${g.id} scored ${g.score}, expected $e")
        case _ =>
      }
    }
    got.zip(expectedTop).zipWithIndex.foreach { case ((g, e), i) =>
      if (!close(g.score, e.score))
        return Some(s"$what: rank $i holds ${g.id} (${g.score}), expected ${e.id} (${e.score})")
    }
    None
  }

  /** Recall of the returned ids against the exact top-k. */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** Rows keyed by id must equal the expected rows exactly, with no id twice. */
  def checkRows[T](what: String, got: Seq[(Long, T)], expected: Seq[(Long, T)]): Option[String] = {
    if (got.map(_._1).distinct.size != got.size)
      Some(s"$what: duplicate id among ${got.size} rows")
    else if (got != expected) {
      val diff = got.zipAll(expected, null, null).find { case (a, b) => a != b }
      Some(s"$what: got ${got.size} rows, expected ${expected.size}; first difference $diff")
    } else None
  }
}
