package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model._

/**
 * Seeded generated inputs. Every array here is produced from the seed alone,
 * so the same seed gives the same objects, queries and drops.
 *
 * Objects carry a clustered 64-d vector, word text drawn from a Zipf
 * distribution over a fixed vocabulary, a field-tokenized `category` with
 * skewed shares and a uniform numeric `price` in [0, 1000).
 */
object Data {
  val Dim = 64
  val Clusters = 32
  val Vocab = 4000
  val ZipfS = 1.07
  /** Category shares: single categories select 3 %–30 % of the objects. */
  val CategoryShares: Array[Double] = Array(0.30, 0.20, 0.15, 0.10, 0.10, 0.07, 0.05, 0.03)
  def category(i: Int): String = f"cat$i%02d"
  def word(rank: Int): String = s"w$rank"

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def nextInt(n: Int): Int = r.nextInt(n)
    def nextDouble(): Double = r.nextDouble()
    def gaussian(): Double = {
      // Box-Muller; SplittableRandom has no nextGaussian on every JDK
      val u1 = math.max(r.nextDouble(), 1e-300)
      val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    def split(): Rng = new Rng(r.nextLong())
  }

  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    /** A rank in [0, n), rank 0 the most frequent. */
    def sample(r: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Objects with ids `firstId + i`. */
  final class Objects(val firstId: Long, val vecs: Array[Array[Float]],
                      val words: Array[Array[Int]], val cat: Array[Int],
                      val price: Array[Double]) {
    def n: Int = vecs.length
    def id(i: Int): Long = firstId + i
    def text(i: Int): String = words(i).map(word).mkString(" ")
  }

  final class Generator(seed: Long) {
    private val root = new Rng(seed)
    private val centerRng = root.split()
    val centers: Array[Array[Double]] =
      Array.fill(Clusters)(Array.fill(Dim)(centerRng.gaussian()))
    private val zipf = new Zipf(Vocab, ZipfS)
    private val catCdf = CategoryShares.scanLeft(0.0)(_ + _).tail

    def vector(r: Rng): Array[Float] = {
      val c = centers(r.nextInt(Clusters))
      Array.tabulate(Dim)(d => (c(d) + 0.45 * r.gaussian()).toFloat)
    }
    def wordsOf(r: Rng): Array[Int] = Array.fill(6 + r.nextInt(15))(zipf.sample(r))
    def categoryOf(r: Rng): Int = {
      val u = r.nextDouble()
      math.min(catCdf.indexWhere(u < _) match { case -1 => catCdf.length - 1; case i => i },
        catCdf.length - 1)
    }
    def price(r: Rng): Double = r.nextDouble() * 1000.0

    def objects(firstId: Long, n: Int, r: Rng): Objects = {
      val vecs = new Array[Array[Float]](n)
      val ws = new Array[Array[Int]](n)
      val cat = new Array[Int](n)
      val pr = new Array[Double](n)
      var i = 0
      while (i < n) {
        vecs(i) = vector(r); ws(i) = wordsOf(r); cat(i) = categoryOf(r); pr(i) = price(r)
        i += 1
      }
      new Objects(firstId, vecs, ws, cat, pr)
    }
    def stream(): Rng = root.split()
  }

  val schema: CollectionSchema = CollectionSchema(
    name = "Doc", idColumn = "id",
    properties = Seq(
      Property("body", PropType.Text, Tokenization.Word),
      Property("category", PropType.Text, Tokenization.Field),
      Property("price", PropType.Number)),
    vectors = Map("default" -> "vec"), defaultVector = Some("default"))

  val sparkSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("body", StringType),
    StructField("category", StringType),
    StructField("price", DoubleType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  /** A contiguous slice of the objects as primitive arrays: cheap to ship to
   * a task, which builds its rows itself. */
  final case class Slice(firstId: Long, vecs: Array[Array[Float]], words: Array[Array[Int]],
                         cat: Array[Int], price: Array[Double]) {
    def rows: Iterator[Row] = vecs.indices.iterator.map(i =>
      Row(firstId + i, words(i).map(word).mkString(" "), category(cat(i)), price(i), vecs(i).toSeq))
  }

  /** `n` items cut into `parts` contiguous [from, until) ranges. */
  def ranges(n: Int, parts: Int): Seq[(Int, Int)] =
    (0 until parts).map(p => ((n.toLong * p / parts).toInt, (n.toLong * (p + 1) / parts).toInt))

  /** Write the objects as parquet under `path` and return the frame read back. */
  def write(spark: SparkSession, o: Objects, path: String, slices: Int = 8): DataFrame = {
    val parts = ranges(o.n, slices).map { case (a, b) =>
      Slice(o.firstId + a, o.vecs.slice(a, b), o.words.slice(a, b), o.cat.slice(a, b), o.price.slice(a, b))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(parts, slices).flatMap(_.rows), sparkSchema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** A small frame of rows for a store mutation. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType = sparkSchema): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
