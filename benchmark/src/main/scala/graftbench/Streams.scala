package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.Ingest

/**
 * The streaming half of `write_read`'s writer: each writer round runs
 * `Ingest.fileIngest` over generated parquet drops, then watermark
 * `Ingest.dedupIngest` over drops with planted duplicate ids, each to a fresh
 * output and checkpoint. An operation is one micro-batch, timed by the
 * query's own progress report; each query runs a fixed number of them.
 * Outputs are checked against the generated counts, sums and distinct ids.
 */
final class Streams(ctx: Ctx) {
  import Streams._

  private val rng = new Data.Rng(ctx.seed ^ 0x5eedL)
  private var plainRows = 0L
  private var plainIdSum = 0L
  private var plainValueSum = 0.0
  private var dedupRows = 0L
  private var distinctIds: Set[Long] = Set.empty
  /** (kind, output dir, query) per finished streaming query. */
  private val runs = mutable.ArrayBuffer.empty[(String, String, StreamingQuery)]

  /** Writes `c` as `Drops` parquet files, one contiguous run of rows each. */
  private def drops(dir: String, c: Cols): Unit = {
    val parts = Data.ranges(c.size, Drops).map { case (a, b) => c.slice(a, b) }
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(parts, Drops).flatMap(_.rows), Schema)
      .write.mode("overwrite").parquet(ctx.path(dir))
  }

  def generate(): Unit = {
    val base = 1700000000000L
    val n = Drops * RowsPerDrop
    val plain = Cols(Array.range(0, n).map(_.toLong), new Array[Long](n), new Array[Double](n), new Array[Int](n))
    for (i <- 0 until n) {
      plain.tsMs(i) = base + rng.nextInt(600000); plain.value(i) = rng.nextDouble() * 100
      plain.cat(i) = rng.nextInt(8)
    }
    plainRows = n
    plainIdSum = plain.id.sum
    plainValueSum = plain.value.sum
    drops("gen/plain", plain)
    // planted duplicates: a share of the rows repeat an earlier id a few
    // seconds later, well inside the watermark
    val dedup = Cols(new Array[Long](n), new Array[Long](n), new Array[Double](n), new Array[Int](n))
    for (i <- 0 until n) {
      if (i > 0 && rng.nextDouble() < DuplicateShare) {
        val orig = rng.nextInt(i)
        dedup.id(i) = dedup.id(orig); dedup.tsMs(i) = dedup.tsMs(orig) + 1000 + rng.nextInt(60000)
        dedup.value(i) = rng.nextDouble() * 100; dedup.cat(i) = dedup.cat(orig)
      } else {
        dedup.id(i) = 1000000L + i; dedup.tsMs(i) = base + rng.nextInt(600000)
        dedup.value(i) = rng.nextDouble() * 100; dedup.cat(i) = rng.nextInt(8)
      }
    }
    dedupRows = n
    distinctIds = dedup.id.toSet
    drops("gen/dedup", dedup)
  }

  private def stream(kind: String, in: String, name: String): StreamingQuery = {
    val out = ctx.path(s"out/$name")
    val cp = ctx.path(s"checkpoint/$name")
    val q = ctx.tracer.span(s"streaming.$kind") {
      val q = if (kind == "ingest") Ingest.fileIngest(ctx.spark, ctx.path(in), out, Schema, cp, FilesPerTrigger)
        else Ingest.dedupIngest(ctx.spark, ctx.path(in), out, Schema, cp, Seq("id"), "ts", Watermark,
          FilesPerTrigger)
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    q
  }

  /** Both queries over the same drops, untimed and unchecked. */
  def warmup(): Unit = {
    stream("ingest", "gen/plain", "warm-ingest")
    stream("dedup", "gen/dedup", "warm-dedup")
  }

  private val queryMs = mutable.ArrayBuffer.empty[Double]
  private val batchProblems = mutable.ArrayBuffer.empty[String]

  /** Round `r`: one fileIngest query, then one dedupIngest query. */
  def round(r: Int): Unit = Seq("ingest" -> "gen/plain", "dedup" -> "gen/dedup").foreach {
    case (kind, in) =>
      ctx.rec.attempt(BatchesPerQuery)
      val t0 = System.nanoTime()
      try {
        val q = ctx.tracer.span("op", kind)(stream(kind, in, s"$kind-$r"))
        queryMs += (System.nanoTime() - t0) / 1e6
        runs += ((kind, ctx.path(s"out/$kind-$r"), q))
        val batches = q.recentProgress.filter(_.numInputRows > 0)
        if (batches.length != BatchesPerQuery)
          batchProblems += s"$kind: ${batches.length} micro-batches, expected $BatchesPerQuery"
        batches.foreach(b => ctx.rec.add(kind, b.durationMs.get("triggerExecution").doubleValue()))
      } catch { case scala.util.control.NonFatal(e) => ctx.rec.fail(kind, e, BatchesPerQuery) }
  }

  def check(): Seq[String] = batchProblems.toSeq ++ runs.toSeq.flatMap { case (kind, out, _) =>
    val df = ctx.spark.read.parquet(out)
    if (kind == "ingest") {
      val a = df.agg(count(lit(1)), sum("id"), sum("value")).head()
      checkIngest((a.getLong(0), a.getLong(1), a.getDouble(2)), (plainRows, plainIdSum, plainValueSum))
    } else {
      val ids = df.select("id").collect().map(_.getLong(0)).toSeq
      checkDedup(ids, distinctIds)
    }
  }

  def layers(): Map[String, Double] = {
    val opMs = queryMs.sum
    val streamed = runs.count(_._1 == "ingest") * plainRows + runs.count(_._1 == "dedup") * dedupRows
    val traced: Map[String, Double] = Layers.streamKinds.flatMap { kind =>
      val ids = runs.filter(_._1 == kind).map(_._3.id).toSet
      val progress = ctx.tracer.progressOf(ids)
      val perQuery = runs.count(_._1 == kind).max(1)
      Layers.streamDurations.map { case (n, key) =>
        s"streaming.${n}_ms.$kind" -> Stats.median(progress.flatMap(_._1.get(key)).map(_.toDouble))
      } ++ Seq(s"streaming.batches.$kind" -> progress.size.toDouble / perQuery) ++
        (if (kind == "dedup") Seq("streaming.state_rows.dedup" ->
          Stats.mean(runs.filter(_._1 == kind).map(_._3.id).toSeq.flatMap(id =>
            ctx.tracer.progressOf(Set(id)).lastOption.map(_._2.toDouble))))
        else Nil)
    }.toMap
    traced ++ Map(
      "ingest_rows_per_s" -> (if (opMs > 0) streamed / (opMs / 1000) else 0.0),
      "microbatch_ms_p50" -> Stats.median(Layers.streamKinds.flatMap(ctx.rec.of)))
  }
}

object Streams {
  val Drops = 8
  val RowsPerDrop = 3000
  val FilesPerTrigger = 4
  val BatchesPerQuery: Int = Drops / FilesPerTrigger
  val DuplicateShare = 0.2
  val Watermark = "1 hour"

  /** Generated rows as columns; `cat` indexes `Data.category`. */
  final case class Cols(id: Array[Long], tsMs: Array[Long], value: Array[Double], cat: Array[Int]) {
    def size: Int = id.length
    def slice(a: Int, b: Int): Cols =
      Cols(id.slice(a, b), tsMs.slice(a, b), value.slice(a, b), cat.slice(a, b))
    def rows: Iterator[Row] = Iterator.range(0, size).map(i =>
      Row(id(i), new Timestamp(tsMs(i)), value(i), Data.category(cat(i))))
  }

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("value", DoubleType),
    StructField("category", StringType)))

  /** Ingest output must hold the generated row count, id sum and value sum. */
  def checkIngest(got: (Long, Long, Double), expected: (Long, Long, Double)): Option[String] =
    if (got._1 != expected._1 || got._2 != expected._2 || !Oracle.close(got._3, expected._3))
      Some(s"ingest: (rows, id sum, value sum) = $got, generated $expected")
    else None

  /** Dedup output must hold every generated distinct id exactly once. */
  def checkDedup(got: Seq[Long], distinct: Set[Long]): Option[String] =
    if (got.size != got.distinct.size) Some(s"dedup: ${got.size - got.distinct.size} duplicate ids in the output")
    else if (got.toSet != distinct)
      Some(s"dedup: ${got.size} ids in the output, ${distinct.size} distinct ids generated")
    else None
}
