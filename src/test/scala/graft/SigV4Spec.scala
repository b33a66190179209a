package graft

import graft.operators.SigV4
import org.apache.spark.sql.functions._

/** SigV4 string algebra + the round-10 stream-parity census rows. */
class SigV4Spec extends SparkTestBase {
  import spark.implicits._

  test("rfc3986: unreserved pass through, AWS extras percent-encode uppercase") {
    val out = Seq("a b(c)*!x", "A-Z_0.9~", "u+k/p:q,r")
      .toDF("s").select(SigV4.rfc3986(col("s")).as("e"))
      .collect().map(_.getString(0))
    assert(out(0) == "a%20b%28c%29%2A%21x")
    assert(out(1) == "A-Z_0.9~") // unreserved untouched
    assert(out(2) == "u%2Bk%2Fp%3Aq%2Cr")
  }

  test("canonicalQueryString: sorts by key, drops X-Amz-Signature, encodes k=v") {
    val row = Seq(1).toDF("x").select(SigV4.canonicalQueryString(
      lit("prefix") -> lit("a b"),
      lit("X-Amz-Signature") -> lit("dead"),
      lit("X-Amz-Date") -> lit("20240101T000000Z"),
      lit("delimiter") -> lit("/")).as("cqs")).collect()(0).getString(0)
    // ASCII sort: uppercase X before lowercase d/p; signature dropped
    assert(row == "X-Amz-Date=20240101T000000Z&delimiter=%2F&prefix=a%20b")
  }

  test("hostHeader: forwarded precedence, port append vs splice, fallback") {
    val df = Seq(
      ("direct.example.com", null.asInstanceOf[String], null.asInstanceOf[String]),
      ("d", "CDN.example.com", "8443"),     // no ':' in xfh -> append, lowered
      ("d", "t.example.com:9000", "7443"),  // has ':' -> splice trailing port
      ("d", "t.example.com:9000", "443")    // standard port -> untouched
    ).toDF("h", "xfh", "xfp")
      .select(SigV4.hostHeader(col("h"), col("xfh"), col("xfp")).as("o"))
      .collect().map(_.getString(0))
    assert(df(0) == "host:direct.example.com")
    assert(df(1) == "host:cdn.example.com:8443")
    assert(df(2) == "host:t.example.com:7443")
    assert(df(3) == "host:t.example.com:9000")
  }

  test("canonicalRequest + stringToSign assemble the exact AWS layout") {
    val cr = Seq(1).toDF("x").select(SigV4.canonicalRequest(
      lit("GET"), lit("/b/k.bin"), lit("a=1"),
      Seq(lit("host:h"), lit("x-amz-date:D")),
      Seq("x-amz-date", "host"), // unsorted on purpose
      lit("UNSIGNED-PAYLOAD")).as("cr")).collect()(0).getString(0)
    assert(cr ==
      "GET\n/b/k.bin\na=1\nhost:h\nx-amz-date:D\n\nhost;x-amz-date\nUNSIGNED-PAYLOAD")
    val sts = Seq(1).toDF("x").select(SigV4.stringToSign(
      lit("20240101T000000Z"), lit("20240101/us-east-1/s3/aws4_request"),
      lit(cr)).as("s")).collect()(0).getString(0)
    val parts = sts.split("\n")
    assert(parts(0) == "AWS4-HMAC-SHA256" && parts(1) == "20240101T000000Z")
    assert(parts(3).matches("[0-9a-f]{64}")) // hex sha256 of the canonical request
  }

  test("s3_sigv4_canonical row is deterministic and class-complete") {
    val r = Registry.all("s3_sigv4_canonical").fn(spark, sfDir).collect()
    assert(r.nonEmpty)
    val methods = r.map(_.getString(1)).toSet
    assert(methods.subsetOf(Set("GET", "PUT", "POST")))
    // presigned GETs carry UNSIGNED-PAYLOAD, all hashes are 64-hex
    r.foreach { row =>
      assert(row.getString(6).matches("[0-9a-f]{64}"))
      assert(row.getString(7).matches("[0-9a-f]{64}"))
    }
  }

  test("e7/e8: sealed+open partitions are exhaustive") {
    val e7 = Registry.all("e7_windowed_counts_sealed").fn(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    assert(e7.map(r => r.getLong(2) + r.getLong(4)).sum == total,
      "sealed+open event counts must cover every event")
    val e8 = Registry.all("e8_session_seal_census").fn(spark, sfDir).collect()
    val nSessEvents = e8.map(r => r.getLong(1) * r.getLong(2)).sum
    assert(nSessEvents == total, "session census must cover every event")
  }

  test("e9: as-of emission census is bounded by query counts") {
    Registry.all("e9_asof_emit_census").fn(spark, sfDir).collect().foreach { r =>
      val (nq, ne, nm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ne <= nq && nm <= ne)
    }
  }

  test("rfc3986 column fold equals a plain-Scala model over random inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // model: JS encodeURIComponent + the !'()* extras (signature-v4.ts:468)
    def model(s: String): String = s.flatMap { c =>
      if (c.isLetterOrDigit && c < 128 || "-_.~".contains(c)) c.toString
      else f"%%${c.toInt}%02X"
    }
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('-', '_', '.', '~'),
      4 -> Gen.oneOf(' ', '!', '"', '#', '$', '&', '\'', '(', ')', '*',
        '+', ',', '/', ':', ';', '=', '?', '@'))
    val strGen = for {
      n <- Gen.choose(0, 24)
      cs <- Gen.listOfN(n, charGen)
    } yield cs.mkString
    val inputs = Gen.listOfN(200, strGen)
      .pureApply(Gen.Parameters.default, Seed(7L))
    val got = inputs.toDF("s").select(col("s"), SigV4.rfc3986(col("s")).as("e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    inputs.foreach { s =>
      assert(got(s) == model(s), s"encode mismatch for '$s'")
    }
  }

  test("canonicalQueryString equals a plain-Scala sort-encode-join model") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def enc(s: String): String = s.flatMap { c =>
      if (c.isLetterOrDigit && c < 128 || "-_.~".contains(c)) c.toString
      else f"%%${c.toInt}%02X"
    }
    val keyGen = for {
      n <- Gen.choose(1, 10)
      cs <- Gen.listOfN(n, Gen.frequency(8 -> Gen.alphaNumChar,
        2 -> Gen.const('-')))
    } yield cs.mkString
    val valGen = for {
      n <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.frequency(6 -> Gen.alphaNumChar,
        4 -> Gen.oneOf(' ', '(', ')', '*', '!', '/', '+', '#')))
    } yield cs.mkString
    val paramsGen = for {
      n <- Gen.choose(1, 6)
      ks <- Gen.listOfN(n, keyGen)
      vs <- Gen.listOfN(n, valGen)
    } yield ks.distinct.zip(vs) :+ ("X-Amz-Signature" -> "sig")
    val cases = Gen.listOfN(60, paramsGen)
      .pureApply(Gen.Parameters.default, Seed(13L))
    cases.zipWithIndex.foreach { case (params, i) =>
      val expected = params.filter(_._1 != "X-Amz-Signature")
        .sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }
        .mkString("&")
      val got = Seq(1).toDF("x").select(SigV4.canonicalQueryString(
        params.map { case (k, v) => (lit(k), lit(v)) }: _*).as("c"))
        .collect()(0).getString(0)
      assert(got == expected, s"case $i: $params")
    }
  }

  test("s3_sigv4_chunk_chain equals a plain-Scala replay and is tamper-evident") {
    def sha256hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val EMPTY = sha256hex("")
    assert(EMPTY ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    def chain(ld: String, scope: String, seed: String,
              phs: Seq[String]): Seq[String] =
      (phs :+ EMPTY).scanLeft(seed) { (prev, ph) =>
        sha256hex(Seq("AWS4-HMAC-SHA256-PAYLOAD", ld, scope, prev, EMPTY, ph)
          .mkString("\n"))
      }.tail
    // independent driver-side replay of the graded row's chunk log
    val ords = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 199 === 0)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMdd'T'HHmmss'Z'").as("ld"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("sd"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val lis = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 199 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
      .groupBy(_._1)
    val expected = ords.map { case (k, ld, sd) =>
      // (l_linenumber, chunk-hash) order — the graded row's deterministic
      // total order under the fixture's duplicate (orderkey, linenumber)s
      val phs = lis.getOrElse(k, Array.empty)
        .map { case (_, ln, pk) => (ln, sha256hex(s"chunk-$k-$ln-$pk")) }
        .sortBy(identity).map(_._2).toSeq
      val sigs = chain(ld, s"$sd/eu-west-2/s3/aws4_request",
        sha256hex(s"seed-$k"), phs)
      k -> ((phs.size.toLong, sigs.last, sha256hex(sigs.mkString(""))))
    }.toMap
    val got = Registry.all("s3_sigv4_chunk_chain").fn(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    assert(got.nonEmpty && got == expected,
      "Spark chunk-chain fold diverged from the plain-Scala replay")
    // tamper-evidence: swapping two adjacent chunks changes the final
    // signature (each string-to-sign commits to the previous signature)
    val (k2, ld2, sd2) = ords.maxBy(k => lis.getOrElse(k._1, Array.empty).length)
    val phs2 = lis(k2)
      .map { case (_, ln, pk) => (ln, sha256hex(s"chunk-$k2-$ln-$pk")) }
      .sortBy(identity).map(_._2).toSeq
    assert(phs2.size >= 2, "fixture needs a multi-chunk request")
    val seed2 = sha256hex(s"seed-$k2"); val sc2 = s"$sd2/eu-west-2/s3/aws4_request"
    // swap two DISTINCT-hash chunks (equal-hash duplicates commute by design)
    val j = phs2.indexWhere(_ != phs2.head)
    assert(j > 0, "fixture needs two distinct chunks")
    val swapped = phs2.updated(0, phs2(j)).updated(j, phs2.head)
    assert(chain(ld2, sc2, seed2, phs2).last !=
      chain(ld2, sc2, seed2, swapped).last)
    // and dropping the final 0-byte chunk is detectable: the last data
    // chunk's signature differs from the final chunk's
    val full = chain(ld2, sc2, seed2, phs2)
    assert(full.size == phs2.size + 1 && full.init.last != full.last)
  }
}
