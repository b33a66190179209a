package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generators for every benchmark input. A row's values are a
  * function of (seed, stream, row key) — a hash column or a
  * `SplittableRandom` seeded from them — so the same seed gives the same rows
  * whatever the partitioning or thread timing. */
object Inputs {

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(stream + 0x9E3779B97F4A7C15L) ^ id))

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // --- TPC-H-shaped star-schema subset the storage fixtures derive from ---

  /** 50k orders × 1-7 lines ≈ 200k lineitem rows (a third of sf0.1), which
    * `Tables.objects` turns into 200k keys in 2 buckets (F, O). */
  val Orders = 50000
  val Suppliers = 1000
  private val Day = 86400000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z
  private val Flags = Array("A", "N", "R")

  /** Pseudo-random column `stream` of a row: xxhash64 over (seed, stream,
    * key columns), so a value depends only on the row, not the partitioning. */
  private def h(seed: Long, stream: Long, keys: Column*): Column =
    xxhash64((lit(seed) +: lit(stream) +: keys): _*)

  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    val ok = col("l_orderkey")
    val ln = col("l_linenumber")
    def r(stream: Long, n: Int) = pmod(h(seed, stream, ok, ln), lit(n))
    val qty = (r(3, 50) + 1).cast("double")
    val days = r(8, 2500)
    spark.range(1L, Orders + 1L).select(col("id").as("l_orderkey"))
      .select(ok, explode(sequence(lit(1), (pmod(h(seed, 0, ok), lit(7)) + 1).cast("int")))
        .as("l_linenumber"))
      .select(ok, (r(1, 20000) + 1).as("l_partkey"), (r(2, Suppliers) + 1).as("l_suppkey"), ln,
        qty.as("l_quantity"), (qty * (lit(900) + r(4, 100000) / 100.0)).as("l_extendedprice"),
        (r(5, 11) / 100.0).as("l_discount"), (r(6, 9) / 100.0).as("l_tax"),
        element_at(array(Flags.map(lit): _*), (r(7, 3) + 1).cast("int")).as("l_returnflag"),
        when(days < 1263, "F").otherwise("O").as("l_linestatus"),
        timestamp_millis(lit(Epoch1992) + days * Day).as("l_shipdate"))
  }

  private val NationNames = Array("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")

  def nation(spark: SparkSession): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(NationNames.indices.map(i =>
      Row(i, NationNames(i), i % 5)), 1),
    StructType(Seq(StructField("n_nationkey", IntegerType, nullable = false),
      StructField("n_name", StringType, nullable = false),
      StructField("n_regionkey", IntegerType, nullable = false))))

  /** Nation of supplier `suppkey`; the api_mix catalog commits derive the
    * expected metadata location of a table from it. */
  def supplierNation(seed: Long, suppkey: Long): Int =
    java.lang.Math.floorMod(Check.hash(seed, 2L, suppkey), 25L).toInt

  def supplier(spark: SparkSession, seed: Long): DataFrame = {
    val k = col("s_suppkey")
    spark.range(1L, Suppliers + 1L).select(col("id").as("s_suppkey"))
      .select(k, format_string("Supplier#%09d", k).as("s_name"),
        pmod(h(seed, 2, k), lit(25)).cast("int").as("s_nationkey"),
        (pmod(h(seed, 3, k), lit(1000000)) / 100.0).as("s_acctbal"))
  }

  /** Writes the star-schema subset in the `<dir>/<table>.parquet` layout
    * that `Tables` reads. */
  def writeStar(spark: SparkSession, seed: Long, dir: String): Unit = {
    lineitem(spark, seed).write.parquet(s"$dir/lineitem.parquet")
    nation(spark).write.parquet(s"$dir/nation.parquet")
    supplier(spark, seed).write.parquet(s"$dir/supplier.parquet")
  }

  // --- S3Vectors corpus ---

  /** Clustered corpus: `Clusters` Gaussian blobs in `Dim` dimensions, so kNN
    * results are stable under float rounding and filters cut real clusters. */
  val Vectors = 40000
  val Dim = 96
  val Clusters = 48
  val Genres: Array[String] = Array.tabulate(8)(i => s"g$i")

  final case class Vec(key: Long, emb: Array[Float], genre: String, year: Int) {
    def metadata: String = s"""{"genre":"$genre","year":$year}"""
  }

  def centers(seed: Long): Array[Array[Float]] = Array.tabulate(Clusters) { c =>
    val r = rng(seed, 7, c)
    Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
  }

  def vec(seed: Long, centers: Array[Array[Float]], key: Long): Vec = {
    val r = rng(seed, 8, key)
    val c = centers(r.nextInt(Clusters))
    val emb = Array.tabulate(Dim)(i => (c(i) + gaussian(r) * 0.25).toFloat)
    Vec(key, emb, Genres(r.nextInt(Genres.length)), 1990 + r.nextInt(35))
  }

  def gaussian(r: SplittableRandom): Double = { // Box-Muller, one draw
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  val vectorSchema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", StringType, nullable = false)))

  def vectorRow(v: Vec): Row = Row(v.key, v.emb.toSeq, v.metadata)

  def vectors(spark: SparkSession, seed: Long, slices: Int): DataFrame = {
    val cs = centers(seed)
    spark.createDataFrame(
      spark.sparkContext.range(0L, Vectors.toLong, 1L, slices)
        .map(k => vectorRow(vec(seed, cs, k))),
      vectorSchema)
  }
}
