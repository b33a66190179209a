package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FilterDsl
import graft.operators.Vectors

/** The stored S3Vectors index vector_query reads: `key`, float `embedding`,
  * JSON `metadata`, as written by [[Inputs.vectors]]. */
final class VecFixture(spark: SparkSession, path: String, val seed: Long,
                       build: (String, => DataFrame) => DataFrame) {
  val vectors: DataFrame = build("vectors", spark.read.parquet(path))
  val centers: Array[Array[Float]] = Inputs.centers(seed)
  /** Built on first use, which is after the timed phase. */
  lazy val oracle = new VecOracle(seed, centers)
}

/** Exhaustive reference: the corpus regenerated in the JVM from the seed,
  * scored by brute force in the operator's arithmetic (float products
  * summed in double). */
final class VecOracle(seed: Long, centers: Array[Array[Float]]) {
  val corpus: Array[Inputs.Vec] =
    Array.tabulate(Inputs.Vectors)(k => Inputs.vec(seed, centers, k.toLong))

  def distance(v: Array[Float], q: Array[Double], metric: String): Double = metric match {
    case "euclidean" =>
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - q(i); s += d * d; i += 1 }
      math.sqrt(s)
    case _ =>
      var dot, nv, nq = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); nv += v(i) * v(i); nq += q(i) * q(i); i += 1 }
      1.0 - dot / (math.sqrt(nv) * math.sqrt(nq))
  }

  /** A correct top-k under float-rounding ties: the right count, each row's
    * distance matches the reference, ascending, and nothing left out is
    * nearer than the last row returned. */
  def knn(q: Array[Double], metric: String, pred: Inputs.Vec => Boolean, k: Int,
          got: Seq[(Long, Double)]): Option[String] = {
    val eps = 1e-6
    val cand = corpus.filter(pred)
    val d = cand.map(v => v.key -> distance(v.emb, q, metric)).toMap
    val want = math.min(k, cand.length)
    val cut = if (got.isEmpty) Double.MaxValue else got.last._2
    val inGot = got.map(_._1).toSet
    lazy val off = got.find(g => !d.contains(g._1) || math.abs(d(g._1) - g._2) > eps)
    lazy val missed = d.find(kv => !inGot(kv._1) && kv._2 < cut - eps)
    if (got.length != want) Some(s"${got.length} rows, expected $want")
    else if (inGot.size != got.length) Some("duplicate keys")
    else if (off.isDefined) Some(s"row ${off.get} vs reference ${d.get(off.get._1)}")
    else if (got.zip(got.drop(1)).exists(p => p._2._2 < p._1._2 - eps)) Some("not ascending")
    else missed.map(kv => s"missed key ${kv._1} at ${kv._2} < $cut")
  }

  def state(drop: Set[Long], add: Seq[(Long, String)]): (Long, Long) = {
    var n = 0L; var x = 0L
    corpus.foreach { v => if (!drop(v.key)) { n += 1; x ^= Check.hash(v.key, v.metadata) } }
    add.foreach { case (k, m) => n += 1; x ^= Check.hash(k, m) }
    (n, x)
  }
}

/** One vector_query client: 90 % reads (exact kNN, cosine or l2, topK ≤ 100,
  * 3 in 7 under a metadata filter; key lookups; segmented listing) and 10 %
  * writes (upsert / delete batches ≤ 500 keys), each write persisted as a
  * copy-on-write rewrite of the index. */
final class VecClient(spark: SparkSession, fx: VecFixture, client: Int,
                      commits: String) extends Client {
  private val r = Inputs.rng(fx.seed, 200 + client, 0)
  private var n = 0
  private val N = Inputs.Vectors

  /** Each cycle of ten requests sends exactly 9 reads and 1 write, in a
    * seeded order, so every run has the same mix however short it is. */
  private val cycle = Seq("knn", "knn", "knn", "knn", "filtered", "filtered", "filtered",
    "get", "list", "write")
  private var slots: List[String] = Nil
  /** Writes cycle upsert, upsert, delete: upserts stay the majority of every
    * run's write sample, however few writes it has. */
  private var writes = 0

  def warmUp(): Seq[Op] = Seq(knn(filtered = false), getByKeys())

  def next(): (Op, Boolean) = {
    n += 1
    if (slots.isEmpty) slots = Check.shuffle(cycle, r).toList
    val slot = slots.head
    slots = slots.tail
    val check = r.nextInt(5) == 0
    val op = slot match {
      case "knn" => knn(filtered = false)
      case "filtered" => knn(filtered = true)
      case "get" => getByKeys()
      case "list" => listSegment()
      case _ =>
        writes += 1
        if (writes % 3 == 0) delete() else upsert()
    }
    (op, check)
  }

  private def same[A](got: Seq[A], want: Seq[A]): Option[String] =
    if (got == want) None else Some(s"${got.length} rows vs ${want.length} expected")

  /** (filter document, the same predicate evaluated by the reference). */
  private def filter(): (String, Inputs.Vec => Boolean) = {
    val g = Inputs.Genres(r.nextInt(Inputs.Genres.length))
    val g2 = Inputs.Genres(r.nextInt(Inputs.Genres.length))
    val y = 1990 + r.nextInt(35)
    r.nextInt(4) match {
      case 0 => (s"""{"genre":"$g"}""", _.genre == g)
      case 1 => (s"""{"year":{"$$gte":$y}}""", _.year >= y)
      case 2 => (s"""{"$$and":[{"genre":{"$$in":["$g","$g2"]}},{"year":{"$$lt":$y}}]}""",
        v => (v.genre == g || v.genre == g2) && v.year < y)
      case _ => (s"""{"genre":{"$$ne":"$g"}}""", _.genre != g)
    }
  }

  private def knn(filtered: Boolean): Op = {
    val metric = if (r.nextBoolean()) "cosine" else "euclidean"
    val k = Array(10, 50, 100)(r.nextInt(3))
    val c = fx.centers(r.nextInt(fx.centers.length))
    val q = Array.tabulate(Inputs.Dim)(i => c(i) + Inputs.gaussian(r) * 0.25)
    val (doc, pred) = if (filtered) filter() else ("", (_: Inputs.Vec) => true)
    Op(if (filtered) "knn_filtered" else "knn", write = false,
      () => {
        val base = if (filtered) fx.vectors.filter(FilterDsl.filter(col("metadata"), doc))
                   else fx.vectors
        Vectors.knn(base, "key", "embedding", q.toSeq, metric, k).select("key", "distance")
      },
      _.collect(),
      res => fx.oracle.knn(q, metric, pred, k,
        res.asInstanceOf[Array[Row]].toSeq.map(x => (x.getLong(0), x.getDouble(1)))))
  }

  private def getByKeys(): Op = {
    val keys = (Seq.fill(1 + r.nextInt(100))(r.nextInt(N).toLong) :+ (N + 1L)).distinct
    Op("get_vectors", write = false,
      () => Vectors.getByKeys(fx.vectors, "key", keys), _.collect(),
      res => {
        val got = res.asInstanceOf[Array[Row]].toSeq
          .map(x => (x.getLong(0), x.getSeq[Float](1), x.getString(2))).sortBy(_._1)
        same(got, keys.filter(_ < N).sorted.map { k =>
          val v = fx.oracle.corpus(k.toInt); (k, v.emb.toSeq, v.metadata)
        })
      })
  }

  private def listSegment(): Op = {
    val seg = r.nextInt(16)
    val after = if (r.nextBoolean()) Some(r.nextInt(N).toLong) else None
    Op("list_vectors", write = false,
      () => Vectors.listSegment(fx.vectors, "key", 16, seg, after, 500).select("key"),
      _.collect(),
      res => same(res.asInstanceOf[Array[Row]].toSeq.map(_.getLong(0)),
        (0L until N).filter(k => k % 16 == seg && after.forall(k > _)).take(500)))
  }

  private def commitDir() = s"$commits/c$client-$n"

  private def committed(dir: String, want: => (Long, Long)): Option[String] = {
    val got = Check.countXor(spark.read.parquet(dir), xxhash64(col("key"), col("metadata")))
    if (got == want) None else Some(s"commit (rows, xor) $got, expected $want")
  }

  private def upsert(): Op = {
    val k = 1 + (math.pow(r.nextDouble(), 2) * 499).toInt
    val keys = (Seq.fill(k / 2)(r.nextInt(N).toLong) ++
      (0 until k - k / 2).map(i => N + 1000000L * (client + 1) + 1000L * n + i)).distinct
    val rows = keys.map { key =>
      val v = Inputs.vec(fx.seed + 1 + n, fx.centers, key)
      (v, v.metadata.dropRight(1) + s""","rev":"$client-$n"}""")
    }
    val dir = commitDir()
    Op("vec_upsert", write = true,
      () => {
        val incoming = spark.createDataFrame(
          rows.map { case (v, m) => Row(v.key, v.emb.toSeq, m) }.toList.asJava, Inputs.vectorSchema)
        Vectors.upsert(fx.vectors.withColumn("priority", lit(0))
          .unionByName(incoming.withColumn("priority", lit(1))), "key", "priority")
          .drop("priority")
      },
      _.write.parquet(dir),
      _ => committed(dir, fx.oracle.state(keys.toSet, rows.map(x => x._1.key -> x._2))),
      Some(dir), rows.map(x => 8L + 4L * x._1.emb.length + x._2.length).sum)
  }

  private def delete(): Op = {
    val keys = Seq.fill(1 + (math.pow(r.nextDouble(), 2) * 499).toInt)(r.nextInt(N).toLong).distinct
    val dir = commitDir()
    Op("vec_delete", write = true,
      () => Vectors.deleteByKeys(fx.vectors, "key", keys),
      _.write.parquet(dir),
      _ => committed(dir, fx.oracle.state(keys.toSet, Nil)),
      Some(dir), 8L * keys.length)
  }
}
