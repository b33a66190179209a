package graft

import graft.operators.{Linkage, Profile, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-3 pipeline additions: C4/Gopher filter battery, unigram-LM
  * surprisal, language-model and profiling kernels. */
class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val cleanDoc =
    "the cat and the dog sat down on a mat with some other good words here"

  test("c4GopherFilters: clean doc passes every rule") {
    val df = Seq((1L, cleanDoc)).toDF("doc_id", "text")
    val r = TextAnalysis.c4GopherFilters(df, "doc_id", "text").head()
    val flags = Seq("f_words", "f_word_len", "f_lorem", "f_brace", "f_policy",
      "f_symbol", "f_alpha", "f_stopword", "keep")
    flags.foreach(f => assert(r.getAs[Boolean](f), s"$f should pass"))
  }

  test("c4GopherFilters: each contamination trips exactly its rule") {
    val cases = Seq(
      (1L, cleanDoc + " lorem ipsum dolor", "f_lorem"),
      (2L, cleanDoc + " function() { return }", "f_brace"),
      (3L, cleanDoc + " enable javascript now", "f_policy"),
      (4L, cleanDoc + " # # # # # # # # # # # #", "f_symbol"),
      (5L, "the a " + (1 to 20).map(_.toString).mkString(" "), "f_alpha"),
      (6L, "short doc here", "f_words"),
      (7L, "value table merge scan filter hash join sort spill batch", "f_stopword"))
    val df = cases.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
    val rows = TextAnalysis.c4GopherFilters(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    cases.foreach { case (id, _, failFlag) =>
      assert(!rows(id).getAs[Boolean](failFlag), s"doc $id should fail $failFlag")
      assert(!rows(id).getAs[Boolean]("keep"), s"doc $id should not be kept")
    }
  }

  test("unigramSurprisal: rare-word docs score above boilerplate docs") {
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta alpha beta"),
      (2L, "alpha beta xylophone quixotic zephyr jackdaw"),
      (3L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Double]("mean_surprisal"))).toMap
    assert(r(1L)._1 == 8 && r(2L)._1 == 6 && r(3L)._1 == 4)
    // doc 2 holds four corpus-unique words ⇒ strictly higher mean surprisal
    assert(r(2L)._2 > r(1L)._2)
    // docs 1 and 3 are all common words with identical mix ⇒ equal scores
    assert(r(1L)._2 == r(3L)._2)
  }

  test("unigramSurprisalTiered is bit-identical to the single-join form at any head size") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val base = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .orderBy(col("id")).collect().toSeq
    for (headSize <- Seq(1, 16, 100000)) {
      val tiered = TextAnalysis.unigramSurprisalTiered(docs, "doc_id", "text", headSize)
        .orderBy(col("id")).collect().toSeq
      assert(tiered == base, s"headSize=$headSize diverged")
    }
  }

  test("docLines segments deterministically; lineDedupStats keeps first occurrence") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),        // lines: "a b c d", "e f g h"
      (2L, "a b c d x y z"),          // lines: "a b c d" (dup), "x y z"
      (3L, "p q r")                   // lines: "p q r"
    ).toDF("doc_id", "text")
    val lines = TextAnalysis.docLines(df, "doc_id", "text", 4)
      .orderBy(col("id"), col("line_no"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(lines == Seq((1L, 0L, "a b c d"), (1L, 1L, "e f g h"),
      (2L, 0L, "a b c d"), (2L, 1L, "x y z"), (3L, 0L, "p q r")))
    val stats = TextAnalysis.lineDedupStats(df, "doc_id", "text", 4)
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc 1 keeps both lines (owns the first "a b c d"); doc 2 drops its copy
    assert(stats == Seq((1L, 2L, 2L, 1L), (2L, 2L, 1L, 1L), (3L, 1L, 1L, 0L)))
  }

  test("heavyHitters: exact result, partitioning-independent, superset proof exercised") {
    val tok = Tables.documents(spark, sfDir)
      .select(explode(TextAnalysis.words(col("text"))).as("item"))
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.heavyHitters(df, "item", 200)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = run(tok)
    // brute force is the definition
    val n = tok.count()
    val brute = tok.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 200 >= n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == brute && got.nonEmpty)
    // adversarial re-partitioning must not change the (exact) answer
    assert(run(tok.repartition(17)) == brute)
    assert(run(tok.repartition(1)) == brute)
  }

  test("collocations: exact lift on a hand-computed fixture") {
    // tokens: "a b" ×3, "a c" ×1 → N=8, c_a=4, c_b=3, c_c=1
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.collocations(df, "text", 2)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(5)))
    // bigrams: (a,b)×3, (b,a)×1, (a,c)×1 — only (a,b) survives minCount=2
    // lift(a,b) = 3*8 / (4*3) = 2.0
    assert(r.toSeq == Seq(("a", "b", 3L, 2.0)))
  }

  test("profile: nulls, exact distinct, native-typed min/max") {
    val df = Seq[(java.lang.Long, String)]((10L, "x"), (9L, "y"), (9L, null), (null, "x"))
      .toDF("k", "s")
    val r = Profile.profile(df, Seq("k", "s")).orderBy("col_name")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getString(4), x.getString(5)))
    // min/max must be native-typed (9 < 10 numerically; "10" < "9" would be wrong)
    assert(r.toSeq == Seq(
      ("k", 4L, 1L, 2L, "9", "10"),
      ("s", 4L, 1L, 2L, "x", "y")))
  }

  test("linkage: rarest-token probe finds best match; out-of-range candidates drop") {
    val clean = Seq((1L, "red widget"), (2L, "blue widget"), (3L, "red bolt"))
      .toDF("id", "name")
    val dirty = Seq((10L, "rd widget"), (11L, "blue bot"), (12L, "red blot"))
      .toDF("did", "dname")
    val r = Linkage.bestMatches(dirty, "did", "dname", clean, "id", "name", 3)
      .orderBy("dirty_id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        x.getString(3), x.getInt(4)))
    // 10 probes "widget" (df 2, rarest in-vocab) → best is id 1 at dist 1;
    // 11 probes "blue" but its only candidate is 5 edits away → absent;
    // 12's "blot" is out-of-vocab, probes "red" → id 3 at dist 2.
    assert(r.toSeq == Seq(
      (10L, "rd widget", 1L, "red widget", 1),
      (12L, "red blot", 3L, "red bolt", 2)))
  }

  test("winnowing: shared w+k-1 run shares a fingerprint; density bounds hold") {
    import spark.implicits._
    // k=4, w=5 → guarantee kicks in at shared runs of >= 8 words
    val df = Seq(
      (1L, "aa bb cc dd ee ff gg hh unique tail words here indeed"),
      (2L, "completely different prefix words go first aa bb cc dd ee ff gg hh"),
      (3L, "no overlap at all in this document text body")).toDF("doc_id", "text")
    val fp = TextAnalysis.winnowingFingerprints(df, "doc_id", "text", 4, 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Long](3).toSet)).toMap
    assert((fp(1L)._3 intersect fp(2L)._3).nonEmpty,
      "shared 8-word run must contribute a shared fingerprint")
    assert((fp(1L)._3 intersect fp(3L)._3).isEmpty)
    // winnowing selects at least one gram per w-window and at most all
    fp.values.foreach { case (m, n, set) =>
      assert(n == set.size && n <= m && n >= (m + 4) / 5)
    }
  }

  test("boilerplateRemoval: within-host threshold, no survivor, text rebuilt") {
    import spark.implicits._
    val df = Seq(
      (1L, "A", "nav bar menu here alpha beta gamma delta"),
      (2L, "A", "nav bar menu here epsilon zeta"),
      (3L, "A", "nav bar menu here"),                      // pure chrome doc
      (4L, "B", "nav bar menu here own content words x"))  // same line, other host
      .toDF("doc_id", "host", "text")
    val got = TextAnalysis.boilerplateRemoval(df, "doc_id", "host", "text", 4, minDocs = 3)
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, "alpha beta gamma delta"),
      (2L, 2L, 1L, "epsilon zeta"),
      (3L, 1L, 1L, ""),                                   // boilerplate has NO survivor
      (4L, 2L, 0L, "nav bar menu here own content words x"))) // host B below threshold
  }

  test("exactQuantiles: order statistics match a local sorted recompute") {
    val docs = Tables.documents(spark, sfDir)
    val got = TextAnalysis.exactQuantiles(docs, "n_chars", Seq(1, 50, 90, 99, 100))
      .orderBy(col("pct")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val vals = docs.select(col("n_chars").cast("long")).collect()
      .map(_.getLong(0)).sorted
    val n = vals.length.toLong
    val want = Seq(1, 50, 90, 99, 100).map { p =>
      val rank = ((n * p + 99) / 100).toInt // ⌈n·p/100⌉, 1-based
      (p, vals(rank - 1), n)
    }
    assert(got == want)
    // no global window in the plan (the Prefix helper's whole point)
    val bare = TextAnalysis.exactQuantiles(docs, "n_chars", Seq(50))
      .queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
    assert(bare.isEmpty)
  }

  test("bigramLm: pair counts, context totals, conditional probabilities") {
    import spark.implicits._
    val df = Seq("a b a b c", "a b").toDF("text")
    val got = TextAnalysis.bigramLm(df, "text")
      .orderBy(col("w1"), col("w2"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1 → p(b|a)=1.0, p(a|b)=0.5, p(c|b)=0.5
    assert(got == Seq(("a", "b", 3L, 3L, 1.0),
      ("b", "a", 1L, 2L, 0.5), ("b", "c", 1L, 2L, 0.5)))
  }

  test("qualityClassifierScore: exact weight sums, bias shifts the keep gate") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta"), (2L, "gamma delta epsilon")).toDF("doc_id", "text")
    val weights = Seq.fill(64)(0.5) // uniform → weight_sum = 0.5 * n_words exactly
    val hi = TextAnalysis.qualityClassifierScore(df, "doc_id", "text", weights, 0.1)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(hi == Map(1L -> (1.0, true), 2L -> (1.5, true)))
    // bias -0.6: doc 1 gate = 1.0 - 1.2 < 0, doc 2 = 1.5 - 1.8 < 0
    val lo = TextAnalysis.qualityClassifierScore(df, "doc_id", "text", weights, -0.6)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(lo == Map(1L -> (1.0, false), 2L -> (1.5, false)))
  }

  test("kmeansRefine: matches local Lloyd reference and lowers distortion") {
    import graft.operators.Vectors
    val emb = Tables.embeddings(spark, sfDir)
    val data = emb.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val init = data.filter(_._1 % 7 == 3).sortBy(_._1).take(4)
      .map { case (id, v) => (id, v.toSeq) }.toSeq

    def assign(cents: Seq[(Long, Seq[Double])]) = data.map { case (_, v) =>
      cents.map { case (cid, cv) =>
        (cv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min
    }
    def distortion(cents: Seq[(Long, Seq[Double])]) = assign(cents).map(_._1).sum

    val refined = Vectors.kmeansRefine(emb, "embedding", init, 2)
    assert(refined.map(_._1).toSet.subsetOf(init.map(_._1).toSet))
    assert(distortion(refined) < distortion(init), "refinement must lower distortion")

    // one step agrees with a local reference mean (6 dp rounding)
    val step1 = Vectors.kmeansRefine(emb, "embedding", init, 1).toMap
    val members = data.map { case (id, v) =>
      val cid = init.map { case (c, cv) =>
        (cv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, c)
      }.min._2
      (cid, v)
    }.groupBy(_._1)
    members.foreach { case (cid, rows) =>
      val mean = rows.map(_._2).transpose.map(ds => ds.sum / ds.length)
      step1(cid).zip(mean).foreach { case (got, want) =>
        assert(math.abs(got - want) < 2e-6, s"centroid $cid mean drift")
      }
    }
  }

  test("chunkDocuments: full coverage, overlap carry-over, short-doc floor") {
    val df = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 words → 2 chunks
      (2L, "a b c")).toDF("doc_id", "text")             // < overlap → 1 chunk
    val rows = TextAnalysis.chunkDocuments(df, "doc_id", "text", 10, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val doc1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // stride 6: ceil((100-4)/6) = 16 chunks; starts 1, 7, 13, …
    assert(doc1.length == 16)
    assert(doc1.map(_._3).toSeq == (0 until 16).map(_ * 6 + 1))
    // all full except the tail (tokens 91..100 = 10 exactly here)
    assert(doc1.forall(_._4 == 10))
    // consecutive chunks overlap by exactly `overlap` token positions
    doc1.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + 6)
    }
    // every token position 1..100 is covered by some chunk
    val covered = doc1.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert((1 to 100).forall(covered.contains))
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 0, 1, 3)))
  }

  test("linearTrend recovers an exact fit; degenerate x gives NULL slope") {
    import graft.operators.Profile
    // g1: perfect line y = 3x + 7; g2: all points share one x
    val pts = ((0 to 20).map(x => ("g1", x.toLong, 3L * x + 7L)) ++
      Seq(("g2", 5L, 10L), ("g2", 5L, 20L))).toDF("g", "x", "y")
    val r = Profile.linearTrend(pts, "g", "x", "y").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("g1").getAs[Double]("slope") == 3.0)
    assert(r("g1").getAs[Double]("intercept") == 7.0)
    assert(r("g2").isNullAt(r("g2").fieldIndex("slope")))
    // partitioning independence (integer sums are exact in any order)
    val r2 = Profile.linearTrend(pts.repartition(7), "g", "x", "y").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("g1").toSeq == r2("g1").toSeq)
  }

  test("madOutliers flags spliced extremes, robust to the outliers themselves") {
    import graft.operators.Profile
    // g1: tight cluster around 100 plus two wild values; g2: clean
    val rows = ((1 to 50).map(i => ("g1", 95L + (i % 11))) ++
      Seq(("g1", 10000L), ("g1", -5000L)) ++
      (1 to 30).map(i => ("g2", 200L + (i % 7)))).toDF("g", "v")
    val r = Profile.madOutliers(rows, "g", "v", k = 3).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("g1").getAs[Long]("n_outliers") == 2L,
      "exactly the two spliced extremes must flag")
    assert(r("g2").getAs[Long]("n_outliers") == 0L)
    // robustness: median/MAD must sit in the cluster, unmoved by the wilds
    assert(r("g1").getAs[Long]("median") >= 95L &&
      r("g1").getAs[Long]("median") <= 106L)
    assert(r("g1").getAs[Long]("mad") <= 11L)
    // determinism under repartitioning
    val r2 = Profile.madOutliers(rows.repartition(9), "g", "v", k = 3)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.keys == r2.keys &&
      r.forall { case (k2, v) => v.toSeq == r2(k2).toSeq })
  }

  test("kneserNeyBigram matches the hand-computed smoothing on a tiny corpus") {
    val docs = Seq("a b", "c b", "a d").toDF("text")
    val r = TextAnalysis.kneserNeyBigram(docs, "text").collect()
      .map(row => ((row.getString(0), row.getString(1)),
        row.getAs[Double]("p_kn"))).toMap
    // replicate the exact IEEE chain: max(c-d,0)/ctx + (d*nf/ctx)*(nb/N)
    def kn(c: Long, ctx: Long, nf: Long, nb: Long, n: Long): Double =
      math.max(c.toDouble - 0.75, 0.0) / ctx.toDouble +
        (0.75 * nf.toDouble / ctx.toDouble) * (nb.toDouble / n.toDouble)
    assert(r(("a", "b")) == kn(1, 2, 2, 2, 3))
    assert(r(("a", "d")) == kn(1, 2, 2, 1, 3))
    assert(r(("c", "b")) == kn(1, 1, 1, 2, 3))
    // a's observed successors exhaust its mass: P(b|a)+P(d|a) ≈ 1
    assert(math.abs(r(("a", "b")) + r(("a", "d")) - 1.0) < 1e-12)
    // continuation effect: b (2 contexts) backs off higher than d (1)
    assert(r(("a", "b")) > r(("a", "d")))
  }

  test("kneserNeyBigram is partitioning-independent") {
    val docs = (1 to 200).map(i => s"w${i % 9} w${i % 5} w${i % 3} w${i % 7}")
      .toDF("text")
    val a = TextAnalysis.kneserNeyBigram(docs, "text")
      .orderBy(col("w1"), col("w2")).collect()
    val b = TextAnalysis.kneserNeyBigram(docs.repartition(13), "text")
      .orderBy(col("w1"), col("w2")).collect()
    assert(a.toSeq == b.toSeq)
  }

}
