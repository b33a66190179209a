package graft

import graft.functions.{PathFns, TokenCodec, VecCosineDist, VecDot, VectorExprs}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Divide, Literal, Multiply, Sqrt, Subtract}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY §5): Spark expressions vs naive Scala
  * models over seeded random inputs. Each property evaluates the whole
  * sample batch in ONE Spark job (scalacheck generates the data; the
  * assertion compares the full result vector).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long = 42L): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  private val segGen: Gen[String] = for {
    len <- Gen.choose(1, 8)
    cs <- Gen.listOfN(len, Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.oneOf('-', '_', '.', '!', '~'),
      1 -> Gen.oneOf('é', 'ß', '中', '€')))
  } yield cs.mkString

  private val keyGen: Gen[String] = for {
    depth <- Gen.choose(1, 4)
    segs <- Gen.listOfN(depth, segGen)
  } yield segs.mkString("/")

  // ── F7 commonPrefix vs naive spec (0050:31-44) ──

  test("commonPrefix matches the naive model for random keys and prefixes") {
    def model(key: String, prefix: String, d: String): Option[String] = {
      val rest = key.drop(prefix.length)
      val pos = rest.indexOf(d)
      if (pos >= 0) Some(key.take(prefix.length + pos + d.length)) else None
    }
    val keys = sample(keyGen, 500).distinct
    for (prefix <- Seq("", "a", keys.head.take(2), keys.head + "/")) {
      val applicable = keys.filter(_.startsWith(prefix))
      val got = applicable.toDF("name")
        .select(col("name"), PathFns.commonPrefix(col("name"), prefix).as("cp"))
        .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
      applicable.foreach { k =>
        assert(got(k) == model(k, prefix, "/"), s"key=$k prefix=$prefix")
      }
    }
  }

  // ── byte ordering: Spark orderBy == COLLATE "C" (SURVEY §1.2) ──

  test("Spark string ordering is UTF-8 byte order (COLLATE \"C\" parity)") {
    val keys = sample(keyGen, 400).distinct
    val sparkOrder = keys.toDF("name").orderBy(col("name"))
      .collect().map(_.getString(0)).toSeq
    val byteOrder = keys.sortWith { (a, b) =>
      val x = a.getBytes("UTF-8")
      val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length
    }
    assert(sparkOrder == byteOrder)
  }

  // ── F15 successor bounds every string with that prefix (0050:210-216) ──

  test("successor(p) is an exclusive upper bound for keys with prefix p (ASCII ranges)") {
    val asciiSeg = Gen.listOfN(5, Gen.alphaNumChar).map(_.mkString)
    val ps = sample(asciiSeg, 50).distinct
    val keys = sample(keyGen, 300)
    val df = ps.toDF("p").crossJoin(keys.toDF("k"))
      .withColumn("succ", PathFns.successor(col("p")))
      .filter(col("k").startsWith(col("p")))
    val bad = df.filter(!(col("k") < col("succ"))).count()
    assert(bad == 0)
  }

  // ── O5/F14 token codec round-trip (object.ts:635-712) ──

  test("continuation-token codec round-trips arbitrary cursors") {
    val cursorGen = for {
      sa <- Gen.asciiPrintableStr
      sc <- Gen.oneOf("name", "created_at", "updated_at")
      so <- Gen.oneOf("asc", "desc")
      sca <- Gen.option(Gen.asciiPrintableStr)
    } yield TokenCodec.Cursor(sa, sc, so, sca)
    sample(cursorGen, 300, seed = 7L).foreach { c =>
      assert(TokenCodec.decode(TokenCodec.encode(c)) == c)
    }
    // unicode keys survive the base64(JSON) trip
    sample(keyGen, 100, seed = 11L).foreach { k =>
      assert(TokenCodec.decode(TokenCodec.encode(TokenCodec.Cursor(k))).startAfter == k)
    }
  }

  // ── P5 keyset predicate == tuple comparison (0039:43-52) ──

  test("keysetAfter equals ROW(truncMs(ts), name) > ROW(after, token)") {
    val tsGen = Gen.choose(0L, 2000000000000L) // epoch millis + sub-ms noise
    val rows = sample(Gen.zip(tsGen, keyGen, Gen.choose(0, 999)), 400)
      .map { case (ms, k, us) => (new java.sql.Timestamp(ms), k, us) }
    val (afterMs, token) = (1000000000000L, rows.head._2)
    val df = rows.toDF("ts", "name", "us")
      // micros beyond the ms boundary exercise the truncation
      .withColumn("ts",
        timestamp_micros(unix_micros(col("ts")) + col("us").cast("long")))
    val got = df.filter(PathFns.keysetAfter(col("ts"), col("name"),
        timestamp_millis(lit(afterMs)), lit(token)))
      .select("name").collect().map(_.getString(0)).toSeq.sorted
    val want = df.select(
        (unix_millis(date_trunc("millisecond", col("ts"))) * 1000).as("tm"),
        col("name")).collect()
      .filter { r =>
        val tm = r.getLong(0) / 1000
        tm > afterMs || (tm == afterMs && r.getString(1) > token)
      }.map(_.getString(1)).toSeq.sorted
    assert(got == want)
  }

  // ── codegen hash kernels vs independent models ──

  test("Djb2Uint32 matches the JS int32-wrap model on random keys (incl. non-ASCII)") {
    // independent model in the SIGNED int32 domain: Scala Int multiply wraps
    // exactly like JS ToInt32 (the float64 product is exact below 2^53),
    // xor on Int, final >>> 0 — string-to-int.ts:1-9 verbatim
    def jsModel(s: String): Long = {
      var h = 5381
      s.foreach(ch => h = (h * 33) ^ ch.toInt)
      h.toLong & 0xffffffffL
    }
    val keys = sample(keyGen, 400).distinct
    val got = keys.toDF("s")
      .select(col("s"), VectorExprs.djb2Uint32(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      assert(got(k) == jsModel(k), s"key '$k'")
      assert(got(k) >= 0L && got(k) <= 0xffffffffL, s"uint32 range, key '$k'")
    }
  }

  test("Md5Top60 equals conv(substring(md5(s),1,15),16,10) on random keys") {
    val keys = sample(keyGen, 400).distinct
    val rows = keys.toDF("s")
      .select(VectorExprs.md5Top60(col("s")).as("fast"),
        expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)").as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("VecCosineDist equals the VecDot composition bit-for-bit, codegen and interpreted") {
    // the fused kernel must not move a cosine oracle row: same three
    // left-to-right sums, same final double arithmetic
    val pairGen: Gen[(List[Double], List[Double])] = for {
      len <- Gen.choose(1, 128)
      a <- Gen.listOfN(len, Gen.chooseNum(-2.0, 2.0))
      b <- Gen.listOfN(len, Gen.chooseNum(-2.0, 2.0))
    } yield (a.map(x => if (math.abs(x) < 0.05) 0.1 else x), // keep norms > 0
             b.map(x => if (math.abs(x) < 0.05) 0.1 else x))
    val pairs = sample(pairGen, 300, seed = 11L)
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    for (et <- Seq(FloatType, DoubleType)) {
      val a = BoundReference(0, ArrayType(et, containsNull = false), nullable = false)
      val q = BoundReference(1, ArrayType(et, containsNull = false), nullable = false)
      val fast = VecCosineDist(a, q)
      val ref = Subtract(Literal(1.0),
        Divide(VecDot(a, q), Multiply(Sqrt(VecDot(a, a)), Sqrt(VecDot(q, q)))))
      val compiled = GenerateUnsafeProjection.generate(Seq(fast, ref))
      def arr(xs: List[Double]): ArrayData =
        if (et == FloatType) ArrayData.toArrayData(xs.map(_.toFloat).toArray)
        else ArrayData.toArrayData(xs.toArray)
      pairs.foreach { case (x, y) =>
        val row = InternalRow(arr(x), arr(y))
        val out = compiled(row)
        val interpreted = fast.eval(row).asInstanceOf[Double]
        assert(bits(out.getDouble(0)) == bits(out.getDouble(1)), s"codegen $et $x $y")
        assert(bits(interpreted) == bits(ref.eval(row).asInstanceOf[Double]),
          s"interpreted $et $x $y")
        assert(bits(interpreted) == bits(out.getDouble(0)), s"codegen vs interpreted $et")
      }
    }
  }

  test("withRunningMaxExcl equals the single-window running max on random data") {
    val xs = sample(Gen.chooseNum(0L, 1000000L), 500)
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("k", "v")
    val got = graft.operators.Prefix
      .withRunningMaxExcl(df.repartition(7), Seq(col("k")), col("v"), 5)
      .select(col("k"), col("run_max_excl")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toMap
    var acc = Option.empty[Long]
    xs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i.toLong) == acc, s"row $i")
      acc = Some(acc.fold(v)(math.max(_, v)))
    }
  }
}
