package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.engine.Graft
import graft.model._
import graft.sources.CollectionStore

import Oracle.Scored

/**
 * `write_read`: one writer thread runs every write path of the program, a
 * reader thread queries beside it. The writer's round is an upsert, a merge
 * and a filtered deleteWhere batch on a versioned CollectionStore, then a
 * streaming fileIngest and a watermark dedupIngest query over generated
 * drops (`Streams`). The reader loops Get by id, a filtered Get and a flat
 * nearVector on the store's current version. Every store write is mirrored
 * in an in-memory model, one immutable snapshot per store version, so each
 * read is checked against the exact version it pinned.
 */
final class WriteRead(ctx: Ctx) extends Workload {
  import WriteRead._

  /** Upserts, merges and deletes pool into one `write` family, each its own
   * kind; each streaming micro-batch is an operation of its query's kind. */
  val families: Seq[String] = ("write" +: Layers.readFamilies) ++ Layers.streamKinds
  val queryFamilies: Seq[String] = Layers.readFamilies

  private val gen = new Data.Generator(ctx.seed)
  private val writeRng = gen.stream()
  private val readRng = gen.stream()
  private var initial: Data.Objects = _
  private var df: DataFrame = _
  private var store: CollectionStore = _
  private val reader = new Graft(ctx.spark)
  private var initS = 0.0
  private val streams = new Streams(ctx)

  /** Model snapshot per store version; `acked` is the last version whose
   * write call has returned. */
  private val models = new ConcurrentHashMap[Int, Map[Long, Obj]]()
  private val acked = new AtomicInteger(-1)
  private var nextId = 0L
  private val writeProblems = mutable.ArrayBuffer.empty[String]
  private val written = mutable.ArrayBuffer.empty[(Int, Long, Int)] // (version, bytes, files)
  private val changed = mutable.ArrayBuffer.empty[Long]
  private val reads = new java.util.concurrent.ConcurrentLinkedQueue[Read]()
  @volatile private var lastUpserted: IndexedSeq[Long] = IndexedSeq.empty

  def generate(): Unit = {
    initial = gen.objects(0L, Objects, gen.stream())
    nextId = Objects.toLong
    df = Data.write(ctx.spark, initial, ctx.path("gen/docs"))
    streams.generate()
  }

  def setup(): Unit = {
    store = new CollectionStore(ctx.spark, ctx.path("store"), Data.schema)
    val t0 = System.nanoTime()
    ctx.tracer.span("sources.init")(store.init(df))
    initS = (System.nanoTime() - t0) / 1e9
    val m = (0 until Objects).map(i => initial.id(i) ->
      Obj(initial.text(i), Data.category(initial.cat(i)), initial.price(i), initial.vecs(i))).toMap
    models.put(store.version, m)
    acked.set(store.version)
  }

  private def model: Map[Long, Obj] = models.get(acked.get)

  // --- writer ---------------------------------------------------------------

  private def rowOf(id: Long, o: Obj): Row = Row(id, o.body, o.category, o.price, o.vec.toSeq)

  /** Runs one mutation, then records its version, size and model snapshot. */
  private def write(kind: String, rows: Long)(mutation: => Unit)(next: Map[Long, Obj] => Map[Long, Obj]): Unit = {
    val before = model
    ctx.op("write", kind)(ctx.tracer.span(s"sources.$kind")(mutation)).foreach { _ =>
      val v = store.version
      if (v != acked.get) { // a delete that matched nothing writes no version
        val dir = Paths.get(ctx.path("store"), s"v$v")
        val data = Files.walk(dir).iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toList
        written.synchronized { written += ((v, data.map(Files.size).sum, data.size)) }
        changed.synchronized { changed += rows }
      }
      models.put(v, next(before))
      acked.set(v)
    }
  }

  /** Store writes, then the streaming queries: round `r` of them, or the
   * untimed warm-up ones when `r` is negative. */
  private def writerRound(r: Int): Unit = {
    storeWrites()
    if (r < 0) streams.warmup() else streams.round(r)
  }

  private def storeWrites(): Unit = {
    val r = writeRng
    val live = model.keys.toIndexedSeq.sorted
    // upsert: replace existing objects and add new ones
    val replaced = Seq.fill(UpsertBatch / 2)(live(r.nextInt(live.size))).distinct
    val added = Seq.fill(UpsertBatch - replaced.size) { nextId += 1; nextId }
    val ups = (replaced ++ added).map(id => id ->
      Obj(gen.wordsOf(r).map(Data.word).mkString(" "), Data.category(gen.categoryOf(r)),
        gen.price(r), gen.vector(r)))
    write("upsert", ups.size) {
      store.upsert(Data.frame(ctx.spark, ups.map { case (id, o) => rowOf(id, o) }))
    }(_ ++ ups)
    lastUpserted = ups.map(_._1).toIndexedSeq
    // merge: patch price and category of existing objects
    val live2 = model.keys.toIndexedSeq.sorted
    val patch = Seq.fill(MergeBatch)(live2(r.nextInt(live2.size))).distinct
      .map(id => (id, Data.category(gen.categoryOf(r)), gen.price(r)))
    write("merge", patch.size) {
      store.merge(Data.frame(ctx.spark, patch.map { case (id, c, p) => Row(id, c, p) }, PatchSchema))
    } { m => patch.foldLeft(m) { case (acc, (id, c, p)) => acc.updated(id, acc(id).copy(category = c, price = p)) } }
    // filtered delete of a narrow price band
    val lo = r.nextDouble() * (1000.0 - DeleteBand)
    val doomed = model.collect { case (id, o) if o.price >= lo && o.price < lo + DeleteBand => id }.toSet
    var deleted = -1L
    write("delete", doomed.size) {
      deleted = store.deleteWhere(Where.and(Where.geNum("price", lo), Where.ltNum("price", lo + DeleteBand)))
    }(_ -- doomed)
    if (deleted >= 0 && deleted != doomed.size)
      writeProblems += s"deleteWhere removed $deleted objects, the model holds ${doomed.size} in the band"
  }

  // --- reader ---------------------------------------------------------------

  /** Pins the current version and makes it visible to the reader's engine. */
  private def current(): Int = ctx.tracer.span("sources.read") {
    val c = store.collection
    reader.register(c)
    versionOf(c.df)
  }

  private def readerRound(): Unit = {
    val r = readRng
    val recent = lastUpserted
    val id =
      if (recent.nonEmpty && r.nextInt(2) == 0) recent(r.nextInt(recent.size))
      else r.nextInt(nextId.toInt + 1).toLong
    val cat = Data.category(r.nextInt(4))
    val lo = r.nextDouble() * 900
    val v = gen.vector(r)
    def read(q: ReadQ): Unit = {
      val before = acked.get
      ctx.op(q.family) {
        val pinned = current()
        (pinned, ctx.query(reader)(q.params))
      }.foreach { case (pinned, rows) => reads.add(Read(q, before, pinned, rows)) }
    }
    read(GetById(id))
    read(FilterRead(cat, lo))
    read(NearRead(v))
  }

  /** One writer round with the reader beside it, untimed; the model follows
   * the writes, the reads are not checked. */
  def warmup(): Unit = {
    sideBySide(0)(writerRound(-1))
    reads.clear(); written.clear(); changed.clear()
  }

  /** Writer and reader run side by side, each repeating whole rounds: the
   * writer until `seconds` have passed (at least one round), the reader for
   * as long as the writer runs. */
  def measure(seconds: Int): Unit = {
    var r = 0
    sideBySide(seconds) { writerRound(r); r += 1 }
  }

  /** Failed operations are counted inside the rounds; anything else a
   * thread throws stops the run once both threads have ended. */
  private def sideBySide(seconds: Int)(writerBody: => Unit): Unit = {
    val t0 = System.nanoTime()
    @volatile var writing = true
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def loop(more: => Boolean)(body: => Unit): Thread = {
      val t = new Thread(() => {
        var r = 0
        try while (r == 0 || more) { body; r += 1 }
        catch { case e: Throwable => thrown.compareAndSet(null, e) }
        finally writing = false
      })
      t.start(); t
    }
    val writer = loop((System.nanoTime() - t0) / 1e9 < seconds)(writerBody)
    val reader = loop(writing)(readerRound())
    writer.join(); reader.join()
    Option(thrown.get).foreach(e => throw e)
  }

  // --- checks ---------------------------------------------------------------

  def check(): Seq[String] = {
    val readProblems = reads.asScala.toSeq.flatMap { rd =>
      val m = models.get(rd.pinned)
      if (m == null) Some(s"${rd.q.family}: read pinned version ${rd.pinned}, which no acknowledged write produced")
      else if (rd.pinned < rd.ackedBefore)
        Some(s"${rd.q.family}: read pinned version ${rd.pinned}, older than acknowledged ${rd.ackedBefore}")
      else rd.q.check(m, rd.rows)
    }
    // the final version must equal the model exactly
    val last = acked.get
    val rows = store.read().select("id", "category", "price").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2)))).toSeq.sortBy(_._1)
    val expected = models.get(last).toSeq.map { case (id, o) => (id, (o.category, o.price)) }.sortBy(_._1)
    writeProblems.toSeq ++ readProblems ++ Oracle.checkRows("final store version", rows, expected) ++
      streams.check()
  }

  def layers(): Map[String, Double] = {
    val t = ctx.tracer
    val writes = Seq("upsert", "merge", "delete").flatMap(k => t.named(s"sources.$k"))
    def medMs(name: String) = Stats.median(t.named(name).map(_.ms))
    Map(
      "write_ms_p50" -> ctx.rec.p50("write"),
      "store_bytes_per_row" -> Stats.median(written.zip(changed).collect {
        case ((_, bytes, _), rows) if rows > 0 => bytes.toDouble / rows }.toSeq),
      "sources.init_s" -> initS,
      "sources.upsert_ms" -> medMs("sources.upsert"),
      "sources.merge_ms" -> medMs("sources.merge"),
      "sources.delete_ms" -> medMs("sources.delete"),
      "sources.write_jobs" -> Stats.mean(writes.map(t.countersFor(_).jobs.get.toDouble)),
      "sources.write_tasks" -> Stats.mean(writes.map(t.countersFor(_).tasks.get.toDouble)),
      "sources.version_bytes" -> Stats.mean(written.map(_._2.toDouble).toSeq),
      "sources.version_files" -> Stats.mean(written.map(_._3.toDouble).toSeq),
      "sources.read_ms" -> medMs("sources.read")) ++ streams.layers()
  }
}

object WriteRead {
  val Objects = 50000
  val UpsertBatch = 200
  val MergeBatch = 200
  /** Width of the deleted price band: about 0.1 % of the objects. */
  val DeleteBand = 1.0
  val K = 10

  final case class Obj(body: String, category: String, price: Double, vec: Array[Float])

  val PatchSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Data.sparkSchema.fields.filter(f =>
      Set("id", "category", "price").contains(f.name)).sortBy(f => Seq("id", "category", "price").indexOf(f.name)))

  /** The store version a frame reads, from its file paths (`.../v<N>/...`). */
  def versionOf(df: DataFrame): Int = {
    val V = ".*/v(\\d+)/.*".r
    df.inputFiles.collectFirst { case V(v) => v.toInt }.getOrElse(-1)
  }

  final case class Read(q: ReadQ, ackedBefore: Int, pinned: Int, rows: Array[Row])

  sealed trait ReadQ {
    def family: String
    def params: Graft => DataFrame
    def check(m: Map[Long, Obj], rows: Array[Row]): Option[String]
  }

  final case class GetById(id: Long) extends ReadQ {
    def family = "get"
    def params: Graft => DataFrame = _.get(GetParams("Doc", where = Some(Where.eqInt("_id", id)),
      properties = Seq("price", "category"), additional = Set("id")))
    def check(m: Map[Long, Obj], rows: Array[Row]): Option[String] =
      Oracle.checkRows(s"get $id",
        rows.toSeq.map(r => r.getAs[Long]("_id") -> ((r.getAs[String]("category"), r.getAs[Double]("price")))),
        m.get(id).map(o => id -> ((o.category, o.price))).toSeq)
  }

  final case class FilterRead(cat: String, lo: Double) extends ReadQ {
    def family = "filter"
    def params: Graft => DataFrame = _.get(GetParams("Doc",
      where = Some(Where.and(Where.eqText("category", cat), Where.geNum("price", lo),
        Where.ltNum("price", lo + 100))),
      sort = Seq(SortBy.asc("price")), pagination = Some(Pagination(limit = 20)),
      properties = Seq("price", "category"), additional = Set("id")))
    def check(m: Map[Long, Obj], rows: Array[Row]): Option[String] = {
      val expected = m.toSeq.filter { case (_, o) => o.category == cat && o.price >= lo && o.price < lo + 100 }
        .sortBy { case (id, o) => (o.price, id) }.take(20).map { case (id, o) => id -> ((o.category, o.price)) }
      Oracle.checkRows("filter", rows.toSeq.map(r => r.getAs[Long]("_id") ->
        ((r.getAs[String]("category"), r.getAs[Double]("price")))), expected)
    }
  }

  final case class NearRead(v: Array[Float]) extends ReadQ {
    def family = "near"
    def params: Graft => DataFrame = _.get(GetParams("Doc", nearVector = Some(NearVector(v)),
      pagination = Some(Pagination(limit = K)), properties = Seq("price"),
      additional = Set("id", "distance")))
    def check(m: Map[Long, Obj], rows: Array[Row]): Option[String] = {
      val exact = Oracle.nearest(m.iterator.map { case (id, o) => (id, o.vec) }, v, K)
      Oracle.checkRanked("near (store)", rows.toSeq.map(r => Scored(r.getAs[Long]("_id"),
        r.getAs[Double]("_distance"))), exact, id => m.get(id).map(o => Oracle.cosine(v, o.vec)))
    }
  }
}
