package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.engine.Graft

/** What every workload shares: the session, the tracer, the seed, the scratch
 * root and the operation recorder. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val scratch: String) {
  val rec = new Recorder

  /** One timed operation of `family` (and of `kind` inside it, when the
   * family has several). A thrown exception counts the operation as failed;
   * it never stops the run. */
  def op[T](family: String, kind: String = "")(body: => T): Option[T] = {
    rec.attempt()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span("op", family)(body)
      rec.add(family, (System.nanoTime() - t0) / 1e6, kind)
      Some(r)
    } catch { case NonFatal(e) => rec.fail(family, e); None }
  }

  /** A Get/Aggregate: the engine call that returns the frame, forcing the
   * physical plan, and collecting the rows — each its own layer span. */
  def query(g: Graft)(build: Graft => DataFrame): Array[Row] = {
    val df = tracer.span("engine")(build(g))
    tracer.span("catalyst")(df.queryExecution.executedPlan)
    tracer.span("exec")(df.collect())
  }

  def path(name: String): String = s"$scratch/$name"
}

/** One benchmark workload. */
trait Workload {
  /** Operation families, each reported by its median latency in the summary
   * line and, where BENCHMARK.json names one, as `<family>_ms_p50`. */
  def families: Seq[String]
  /** Families served by Graft.get/aggregate, split into engine/catalyst/exec. */
  def queryFamilies: Seq[String]
  /** Builds the seeded inputs (not part of set-up time). */
  def generate(): Unit
  /** Registration, index builds, store init: the timed set-up. */
  def setup(): Unit
  def warmup(): Unit
  /** Runs whole rounds of the same operations until `seconds` have passed,
   * always at least one. */
  def measure(seconds: Int): Unit
  /** Compares every answer with the independent computation; returns problems. */
  def check(): Seq[String]
  /** Workload-specific per-layer metrics. */
  def layers(): Map[String, Double]
}

object Layers {
  val searchFamilies = Seq("near", "ann", "filtered_near", "bm25", "hybrid", "filter", "aggregate")
  val readFamilies = Seq("get", "filter", "near")
  val queryFamilies: Seq[String] = (searchFamilies ++ readFamilies).distinct
  val streamKinds = Seq("ingest", "dedup")
  val streamDurations = Seq(
    "trigger" -> "triggerExecution", "add_batch" -> "addBatch",
    "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
    "commit_offsets" -> "commitOffsets", "latest_offset" -> "latestOffset",
    "get_batch" -> "getBatch")

  /** Every per-layer metric name, in the order they are printed. A layer a
   * workload leaves idle reports 0. */
  val names: Seq[String] =
    Seq("ops_per_s", "latency_ms_geomean") ++
    queryFamilies.map(f => s"${f}_ms_p50") ++
    Seq("write_ms_p50", "store_bytes_per_row", "ingest_rows_per_s", "microbatch_ms_p50") ++
    queryFamilies.flatMap(f => Seq(
      s"engine.build_ms.$f", s"engine.build_jobs.$f", s"catalyst.plan_ms.$f",
      s"exec.ms.$f", s"exec.jobs.$f", s"exec.tasks.$f", s"exec.scan_rows.$f",
      s"exec.scan_bytes.$f", s"exec.shuffle_bytes.$f", s"exec.cpu_ms.$f")) ++
    Seq("ann.build_s", "operators.postings_build_s", "sources.init_s", "setup.session_s",
      "sources.upsert_ms", "sources.merge_ms", "sources.delete_ms", "sources.write_jobs",
      "sources.write_tasks", "sources.version_bytes", "sources.version_files",
      "sources.read_ms") ++
    streamKinds.flatMap(k => streamDurations.map { case (n, _) => s"streaming.${n}_ms.$k" }) ++
    streamKinds.map(k => s"streaming.batches.$k") ++
    Seq("streaming.state_rows.dedup", "jvm.gc_ms", "jvm.peak_rss_mb", "bench.gen_s")
}
