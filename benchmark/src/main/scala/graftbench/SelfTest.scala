package graftbench

import Oracle.Scored

/**
 * Each checker must reject a perturbed answer: a swapped top-k id, a score
 * off by 1e-3, a lost upsert, a duplicated id, an ingest count off by one,
 * and an index answer below the recall bar. Runs before every benchmark run;
 * a checker that accepts a perturbation stops the run.
 */
object SelfTest {
  private def expectReject(what: String, verdict: Option[String]): Unit =
    if (verdict.isEmpty) throw new IllegalStateException(s"checker accepted $what")

  private def expectAccept(what: String, verdict: Option[String]): Unit =
    verdict.foreach(p => throw new IllegalStateException(s"checker rejected $what: $p"))

  def run(): Unit = {
    val r = new Data.Rng(7L)
    val vecs = Array.fill(200)(Array.fill(8)(r.gaussian().toFloat))
    val q = Array.fill(8)(r.gaussian().toFloat)
    val cands = vecs.indices.map(i => (i.toLong, vecs(i)))
    val exact = Oracle.nearest(cands.iterator, q, 10)
    val dist = (id: Long) => Some(Oracle.cosine(q, vecs(id.toInt)))
    expectAccept("the exact top-k", Oracle.checkRanked("near", exact, exact, dist))

    val outsider = Oracle.nearest(cands.iterator, q, 11).last
    val swapped = exact.updated(9, outsider)
    expectReject("a swapped top-k id", Oracle.checkRanked("near", swapped, exact, dist))
    expectReject("a reordered top-k", Oracle.checkRanked("near",
      exact.updated(0, exact(1)).updated(1, exact(0)), exact, dist))
    val off = exact.updated(3, exact(3).copy(score = exact(3).score + 1e-3))
    expectReject("a score off by 1e-3", Oracle.checkRanked("near", off, exact, dist))
    expectReject("a duplicated id", Oracle.checkRanked("near", exact.updated(4, exact(5)), exact, dist))

    // keyword scores and fusion go through the same ranked check
    val words = Array.fill(300)(Array.fill(1 + r.nextInt(8))(r.nextInt(40)))
    val bm = new Oracle.Bm25(words)
    val s = bm.scores(Seq(1, 3))
    val top = Oracle.topByScore(s.map { case (i, x) => Scored(i.toLong, x) }, 10)
    expectAccept("the exact BM25 top-k", Oracle.checkRanked("bm25", top, top, id => s.get(id.toInt)))
    expectReject("a BM25 score off by 1e-3", Oracle.checkRanked("bm25",
      top.updated(0, top(0).copy(score = top(0).score - 1e-3)), top, id => s.get(id.toInt)))
    val fused = Oracle.fuse(top, exact.map(d => Scored(d.id, 1 - d.score / 2)), 0.5, ranked = false)
    val byId = fused.map(f => f.id -> f.score).toMap
    expectAccept("the exact fusion", Oracle.checkRanked("hybrid", fused.take(10), fused.take(10), byId.get))
    expectReject("a fused answer with a swapped id", Oracle.checkRanked("hybrid",
      fused.take(10).updated(2, fused(12)), fused.take(10), byId.get))

    expectReject("recall below the bar", if (Oracle.recall(swapped.take(8).map(_.id) ++ Seq(-1L, -2L),
      exact.map(_.id)) >= Search.MinRecall) None else Some("low recall"))

    // store reads: a lost upsert and a duplicated row
    val model = (1L to 20L).map(id => id -> (("cat00", id * 1.5)))
    val lost = model.updated(7, model(7)._1 -> (("cat00", 0.0)))
    expectAccept("the model's rows", Oracle.checkRows("store", model, model))
    expectReject("a lost upsert", Oracle.checkRows("store", lost, model))
    expectReject("a duplicated row", Oracle.checkRows("store", model :+ model.head, model))
    expectReject("a duplicated id", Oracle.checkRows("store", model.updated(3, model(2)), model))

    // streaming outputs
    val gen = (1000L, 499500L, 1234.5)
    expectAccept("the generated ingest totals", Streams.checkIngest(gen, gen))
    expectReject("an ingest count off by one", Streams.checkIngest(gen.copy(_1 = 999L), gen))
    val distinct = Set(1L, 2L, 3L)
    expectAccept("the distinct ids", Streams.checkDedup(Seq(3L, 1L, 2L), distinct))
    expectReject("a duplicate left by dedup", Streams.checkDedup(Seq(1L, 2L, 3L, 2L), distinct))
    expectReject("a lost distinct id", Streams.checkDedup(Seq(1L, 2L), distinct))
  }
}
