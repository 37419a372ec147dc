package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.ann.IvfIndex
import graft.engine.{Collection, Graft}
import graft.model._
import graft.operators.Postings

import Oracle.Scored

/**
 * `search`: one client runs a read-only mix of seven query families over a
 * generated collection, in seeded random order. `Doc` is served by flat
 * scans and a postings index; `DocIvf` is the same data with an IVF index.
 */
final class Search(ctx: Ctx) extends Workload {
  import Search._

  val families: Seq[String] = Layers.searchFamilies
  val queryFamilies: Seq[String] = families

  private val gen = new Data.Generator(ctx.seed)
  private val queryRng = gen.stream()
  private var objs: Data.Objects = _
  private var bm25: Oracle.Bm25 = _
  private var df: DataFrame = _
  private var g: Graft = _
  private var annBuildS, postingsBuildS = 0.0
  private val answers = mutable.ArrayBuffer.empty[(Query, Array[Row])]

  def generate(): Unit = {
    objs = gen.objects(0L, Objects, gen.stream())
    bm25 = new Oracle.Bm25(objs.words)
    df = Data.write(ctx.spark, objs, ctx.path("gen/docs"))
  }

  def setup(): Unit = {
    g = new Graft(ctx.spark)
    g.register(Collection(Data.schema, df))
    val t0 = System.nanoTime()
    val ivf = ctx.tracer.span("ann.build")(IvfIndex.build(df, "id", "vec", nlist = Nlist,
      seed = ctx.seed, defaultNprobe = Nprobe, persistPath = Some(ctx.path("ivf"))))
    annBuildS = (System.nanoTime() - t0) / 1e9
    g.register(Collection(Data.schema.copy(name = "DocIvf"), df))
    g.registerIndex("DocIvf", "default", ivf)
    val t1 = System.nanoTime()
    // the build returns with its term statistics and block-max tables still
    // lazily cached; materializing them here keeps that work in set-up
    // instead of in the first keyword query
    val postings = ctx.tracer.span("operators.postings_build") {
      val p = Postings.build(g.collection("Doc"), Seq("body"), PostingsBuckets, Some(ctx.path("postings")))
      p.termDf.count(); p.maxImpact.count()
      p
    }
    g.registerPostings("Doc", postings)
    postingsBuildS = (System.nanoTime() - t1) / 1e9
  }

  /** The round's queries, shuffled: one of each kind of the expensive
   * families (bm25: rare and common terms; hybrid: relativeScore and
   * ranked; filtered_near: below and above the cutoff; aggregate: a low and
   * a high price band) and two of each kind of the cheap ones (near, ann,
   * filter by category and by price alone). */
  private def roundQueries(): Seq[Query] = {
    val r = queryRng
    def vec() = gen.vector(r)
    def rare() = 800 + r.nextInt(Data.Vocab - 800)
    def common() = r.nextInt(30)
    def mid() = 50 + r.nextInt(450)
    def filters() = {
      val lo1 = r.nextDouble() * 800; val lo2 = r.nextDouble() * 950
      Seq(FilterQ(Some(r.nextInt(4)), lo1, lo1 + 200, desc = false, offset = 5, limit = 20),
        FilterQ(None, lo2, lo2 + 50, desc = true, offset = 0, limit = 25))
    }
    val qs = Seq.fill(2)(Near(vec())) ++ Seq.fill(2)(Ann(vec())) ++
      Seq(FilteredNear(vec(), LowPrice), FilteredNear(vec(), HighPrice)) ++
      Seq(Keyword(Seq(rare(), rare()), common = false), Keyword(Seq(common(), common()), common = true),
        HybridQ(Seq(common(), mid()), vec(), ranked = false),
        HybridQ(Seq(common(), mid()), vec(), ranked = true)) ++
      filters() ++ filters() ++
      Seq(AggQ(200 + r.nextDouble() * 600, below = true), AggQ(200 + r.nextDouble() * 600, below = false))
    // seeded Fisher-Yates
    val a = qs.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  private def params(q: Query): Graft => DataFrame = q match {
    case Near(v) => _.get(GetParams("Doc", nearVector = Some(NearVector(v)),
      pagination = Some(Pagination(limit = K)), properties = Seq("price"),
      additional = Set("id", "distance")))
    case Ann(v) => _.get(GetParams("DocIvf", nearVector = Some(NearVector(v)),
      pagination = Some(Pagination(limit = K)), properties = Seq("price"),
      additional = Set("id", "distance")))
    case FilteredNear(v, below) => _.get(GetParams("DocIvf", nearVector = Some(NearVector(v)),
      where = Some(Where.ltNum("price", below)),
      pagination = Some(Pagination(limit = K)), properties = Seq("price"),
      additional = Set("id", "distance")))
    case Keyword(ts, _) => _.get(GetParams("Doc", bm25 = Some(Bm25(ts.map(Data.word).mkString(" "), properties = Seq("body"))),
      pagination = Some(Pagination(limit = K)), properties = Seq("price"),
      additional = Set("id", "score")))
    case HybridQ(ts, v, ranked) => _.get(GetParams("Doc",
      hybrid = Some(Hybrid(ts.map(Data.word).mkString(" "), vector = Some(v), alpha = Alpha,
        fusionType = if (ranked) FusionType.Ranked else FusionType.RelativeScore,
        properties = Seq("body"))),
      pagination = Some(Pagination(limit = K)), properties = Seq("price"),
      additional = Set("id", "score")))
    case f: FilterQ => _.get(GetParams("Doc", where = Some(f.where),
      sort = Seq(if (f.desc) SortBy.desc("price") else SortBy.asc("price")),
      pagination = Some(Pagination(offset = f.offset, limit = f.limit)),
      properties = Seq("price", "category"), additional = Set("id")))
    case a: AggQ => _.aggregate(AggregateParams("Doc", groupBy = Some(Seq("category")),
      properties = Map("price" -> Seq(Aggregator.Sum, Aggregator.Mean, Aggregator.Maximum)),
      includeMetaCount = true, where = Some(a.where)))
  }

  /** One whole round, answers unchecked and untimed: the first query of
   * each kind runs well above its steady latency while the JVM compiles. */
  def warmup(): Unit = roundQueries().foreach(q => ctx.query(g)(params(q)))

  def measure(seconds: Int): Unit = {
    val t0 = System.nanoTime()
    do roundQueries().foreach { q =>
      ctx.op(q.family, q.kind)(ctx.query(g)(params(q))).foreach(rows => answers += q -> rows)
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  // --- checks ---------------------------------------------------------------

  private def all: Iterator[(Long, Array[Float])] =
    Iterator.range(0, objs.n).map(i => (objs.id(i), objs.vecs(i)))
  private def where(pred: Int => Boolean): Iterator[(Long, Array[Float])] =
    Iterator.range(0, objs.n).filter(pred).map(i => (objs.id(i), objs.vecs(i)))
  private def dist(id: Long, v: Array[Float]): Option[Double] =
    Some(Oracle.cosine(v, objs.vecs(id.toInt)))
  private def scored(rows: Array[Row], col: String): Seq[Scored] =
    rows.toSeq.map(r => Scored(r.getAs[Long]("_id"), r.getAs[Double](col)))

  private val recalls = mutable.ArrayBuffer.empty[Double]

  def check(): Seq[String] = {
    val problems = answers.toSeq.flatMap { case (q, rows) => checkOne(q, rows) }
    val meanRecall = Stats.mean(recalls.toSeq)
    System.err.println(f"graftbench: mean recall@$K $meanRecall%.3f over ${recalls.size} index-served answers")
    problems ++ (if (recalls.nonEmpty && meanRecall < MinRecall)
      Seq(f"ann: mean recall@$K $meanRecall%.3f below $MinRecall") else Nil)
  }

  /** An index-served answer: distances exact, recall counted. */
  private def checkApprox(what: String, rows: Array[Row], exact: Seq[Scored],
                          allowed: Long => Boolean, v: Array[Float]): Option[String] = {
    val got = scored(rows, "_distance")
    recalls += Oracle.recall(got.map(_.id), exact.map(_.id))
    if (got.size != exact.size) Some(s"$what: ${got.size} results, expected ${exact.size}")
    else if (got.map(_.id).distinct.size != got.size) Some(s"$what: duplicate id")
    else got.find(s => !allowed(s.id) || !Oracle.close(s.score, dist(s.id, v).get))
      .map(s => s"$what: id ${s.id} distance ${s.score} is not its exact distance or fails the filter")
      .orElse(if (got.map(_.score) != got.map(_.score).sorted) Some(s"$what: not ordered by distance") else None)
  }

  private def checkOne(q: Query, rows: Array[Row]): Option[String] = q match {
    case Near(v) =>
      Oracle.checkRanked("near", scored(rows, "_distance"), Oracle.nearest(all, v, K), dist(_, v))
    case Ann(v) =>
      checkApprox("ann", rows, Oracle.nearest(all, v, K), _ => true, v)
    case FilteredNear(v, below) =>
      val pass = (i: Int) => objs.price(i) < below
      val exact = Oracle.nearest(where(pass), v, K)
      val selected = (0 until objs.n).count(pass)
      if (selected < FlatSearchCutoff)
        Oracle.checkRanked("filtered_near", scored(rows, "_distance"), exact,
          id => if (pass(id.toInt)) dist(id, v) else None)
      else checkApprox("filtered_near", rows, exact, id => pass(id.toInt), v)
    case Keyword(ts, _) =>
      val s = bm25.scores(ts)
      val top = Oracle.topByScore(s.map { case (i, x) => Scored(objs.id(i), x) }, K)
      Oracle.checkRanked("bm25", scored(rows, "_score"), top, id => s.get(id.toInt))
    case HybridQ(ts, v, ranked) =>
      val s = bm25.scores(ts)
      val sparse = Oracle.topByScore(s.map { case (i, x) => Scored(objs.id(i), x) }, FetchN)
      val dense = Oracle.nearest(all, v, FetchN).map(d => Scored(d.id, 1.0 - d.score / 2.0))
      val fused = Oracle.fuse(sparse, dense, Alpha, ranked)
      val byId = fused.map(f => f.id -> f.score).toMap
      Oracle.checkRanked(if (ranked) "hybrid ranked" else "hybrid relativeScore",
        scored(rows, "_score"), fused.take(K), byId.get)
    case f: FilterQ =>
      val sel = (0 until objs.n).filter(i => f.pass(objs.cat(i), objs.price(i)))
      val sorted = sel.sortBy(i => (if (f.desc) -objs.price(i) else objs.price(i), objs.id(i)))
      val expected = sorted.slice(f.offset, f.offset + f.limit)
        .map(i => objs.id(i) -> ((objs.price(i), Data.category(objs.cat(i)))))
      val got = rows.toSeq.map(r => r.getAs[Long]("_id") ->
        ((r.getAs[Double]("price"), r.getAs[String]("category"))))
      Oracle.checkRows("filter", got, expected)
    case a: AggQ =>
      val groups = (0 until objs.n).filter(i => a.pass(objs.price(i))).groupBy(objs.cat(_))
      val expected = groups.toSeq.map { case (c, is) =>
        val ps = is.map(objs.price)
        (Data.category(c), (is.size.toLong, ps.sum, ps.sum / ps.size, ps.max))
      }.sortBy(_._1)
      val got = rows.toSeq.map(r => (r.getAs[String]("groupedBy_value"),
        (r.getAs[Long]("meta_count"), r.getAs[Double]("price_sum"),
          r.getAs[Double]("price_mean"), r.getAs[Double]("price_maximum")))).sortBy(_._1)
      val same = got.size == expected.size && got.zip(expected).forall { case ((gc, gv), (ec, ev)) =>
        gc == ec && gv._1 == ev._1 && Oracle.close(gv._2, ev._2) &&
          Oracle.close(gv._3, ev._3) && gv._4 == ev._4
      }
      if (same) None else Some(s"aggregate: got $got, expected $expected")
  }

  def layers(): Map[String, Double] = Map(
    "ann.build_s" -> annBuildS, "operators.postings_build_s" -> postingsBuildS)
}

object Search {
  val Objects = 50000
  /** `price < LowPrice` selects ~10 % of the objects (below the cutoff, flat
   * scan); `price < HighPrice` selects ~90 % (above it, IVF-served). */
  val LowPrice = 100.0
  val HighPrice = 900.0
  val K = 10
  val Nlist = 32
  val Nprobe = 4
  val PostingsBuckets = 16
  val Alpha = 0.5
  /** The engine's hybrid legs each fetch max(limit, 100) candidates. */
  val FetchN = 100
  /** The engine's default flatSearchCutoff: below it a filtered vector search
   * is a flat scan, at or above it the IVF index serves it. */
  val FlatSearchCutoff = 40000
  /** The recall bar of the reference's own ANN tests. */
  val MinRecall = 0.9

  sealed trait Query {
    def family: String
    /** The shape of the query inside its family. */
    def kind: String = family
  }
  final case class Near(v: Array[Float]) extends Query { def family = "near" }
  final case class Ann(v: Array[Float]) extends Query { def family = "ann" }
  final case class FilteredNear(v: Array[Float], below: Double) extends Query {
    def family = "filtered_near"
    override def kind: String = if (below == LowPrice) "filtered_near.flat" else "filtered_near.index"
  }
  final case class Keyword(terms: Seq[Int], common: Boolean) extends Query {
    def family = "bm25"
    override def kind: String = if (common) "bm25.common" else "bm25.rare"
  }
  final case class HybridQ(terms: Seq[Int], v: Array[Float], ranked: Boolean) extends Query {
    def family = "hybrid"
    override def kind: String = if (ranked) "hybrid.ranked" else "hybrid.relative"
  }
  final case class FilterQ(cat: Option[Int], lo: Double, hi: Double, desc: Boolean,
                           offset: Int, limit: Int) extends Query {
    def family = "filter"
    override def kind: String = if (cat.isDefined) "filter.category" else "filter.price"
    def where: Where = Where.and(
      cat.map(c => Where.eqText("category", Data.category(c))).toSeq ++
        Seq(Where.geNum("price", lo), Where.ltNum("price", hi)): _*)
    def pass(c: Int, p: Double): Boolean = cat.forall(_ == c) && p >= lo && p < hi
  }
  final case class AggQ(bound: Double, below: Boolean) extends Query {
    def family = "aggregate"
    override def kind: String = if (below) "aggregate.below" else "aggregate.above"
    def where: Where = if (below) Where.ltNum("price", bound) else Where.geNum("price", bound)
    def pass(p: Double): Boolean = if (below) p < bound else p >= bound
  }
}
