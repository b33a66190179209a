package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** vocabCoverage's cumulative sum must be the DISTRIBUTED two-pass prefix
  * sum: at web scale the raw-token vocabulary runs to 10⁸–10⁹ rows and a
  * global `Window.orderBy` (empty partitionSpec → "Moving all data to a
  * single partition") is a scale-killer (r4 verdict item 4). The property
  * is proven on the live executed plan, not by code inspection.
  */
class VocabCoverageSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sfDir)

  test("no empty-partitionSpec WindowExec in the vocabCoverage plan") {
    val df = TextAnalysis.vocabCoverage(docs, "text", Seq(50, 90, 99))
    df.collect() // executedPlan of the materialized run
    val bare = df.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty,
      s"found ${bare.size} global (single-partition) window(s) in the plan")
  }

  test("distributed prefix sum matches the single-window formulation") {
    val got = TextAnalysis.vocabCoverage(docs, "text", Seq(50, 90, 99))
      .orderBy(col("threshold_pct"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // reference formulation: one global window (fine at test scale)
    val lm = docs.select(explode(TextAnalysis.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = lm.agg(sum(col("c"))).head().getLong(0)
    val w = Window.orderBy(col("c").desc, col("w"))
    val cum = lm.withColumn("rnk", row_number().over(w))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val want = Seq(50, 90, 99).map { t =>
      val r = cum.filter(col("cum") * 100 >= lit(n) * t)
        .agg(min(col("rnk")).cast("long"), min_by(col("cum"), col("rnk")))
        .head()
      (t, r.getLong(0), r.getLong(1), n)
    }
    assert(got.toSeq == want)
  }

  test("wordpieceSegment: greedy longest-match on a crafted micro-corpus") {
    import spark.implicits._
    // "abab abab ab zq": vocab(len>=2 top-64) easily admits "abab","aba",
    // "bab","ab",... ; greedy on "abab" takes the length-4 piece whole;
    // "zq" has no multi-char piece support beyond itself
    val docs = Seq(
      (1L, "abab abab ab zq"),
      (2L, "abab ab ab"),
      (3L, "cd cd cd cd")).toDF("doc_id", "text")
    val got = TextAnalysis.wordpieceSegment(docs, "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // word counts: abab=3, ab=3, zq=1, cd=4
    assert(got("abab")._1 == 3L && got("ab")._1 == 3L &&
      got("cd")._1 == 4L && got("zq")._1 == 1L)
    // every multi-char substring of these tiny words makes the top-64 cut,
    // so each word segments as ONE piece (longest match = the word itself;
    // "abab" must NOT split as ab+ab even though "ab" is more frequent)
    assert(got("abab")._2 == 1L, s"abab pieces: ${got("abab")}")
    assert(got("ab")._2 == 1L && got("cd")._2 == 1L && got("zq")._2 == 1L)
    // scores = the piece's corpus frequency: "abab" occurs 3x as substring
    // of abab-words only; "ab" as a substring occurs in abab twice each (3
    // occurrences of abab -> 6) + 3 standalone = 9
    assert(got("abab")._3 == 3L, s"abab score: ${got("abab")}")
    assert(got("ab")._3 == 9L, s"ab score: ${got("ab")}")
    // zq: "zq" itself is a length-2 piece with count 1 -> in vocab (top-64
    // has room in this micro corpus), single piece score 1
    assert(got("zq")._3 == 1L)
  }

  test("viterbiSegment dominates the greedy wordpiece score, word by word") {
    val greedy = TextAnalysis.wordpieceSegment(docs, "text")
      .select(col("word"), col("score_sum"), col("n_pieces"))
    val opt = TextAnalysis.viterbiSegment(docs, "text")
      .select(col("word"), col("best_score"), col("n_pieces_opt"))
    val j = greedy.join(opt, "word").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(r.getAs[Long]("best_score") >= r.getAs[Long]("score_sum"),
        s"DP must dominate greedy: $r")
      // at equal score the DP's tie rule prefers fewer pieces
      if (r.getAs[Long]("best_score") == r.getAs[Long]("score_sum"))
        assert(r.getAs[Long]("n_pieces_opt") <= r.getAs[Long]("n_pieces"),
          s"DP tie rule: $r")
    }
  }

  test("wordpieceSegment: coverage guarantee — every word terminates") {
    val seg = TextAnalysis.wordpieceSegment(Tables.documents(spark, sfDir), "text")
    val bad = seg.filter(col("n_pieces") <= 0).count()
    assert(bad == 0L, "every capped word must segment into >= 1 piece")
    // greedy can never use more pieces than characters
    import spark.implicits._
    val over = seg.filter(col("n_pieces") > length(col("word"))).count()
    assert(over == 0L)
  }

  test("text_heaps_law: curve matches a literal Scala replay of the census") {
    // Third implementation: collect the corpus, bucket by the same id-range
    // formula, tokenize with Java's split, track first appearances in a
    // mutable set — then compare every (source, decile) row exactly.
    val rows = Registry.all("text_heaps_law").fn(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.nonEmpty)
    val docsL = docs.select(col("source"), col("doc_id"), col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    docsL.groupBy(_._1).foreach { case (src, g) =>
      val mn = g.map(_._2).min; val mx = g.map(_._2).max
      val byB = g.groupBy(d => (d._2 - mn) * 10 / (mx - mn + 1))
      val seen = scala.collection.mutable.Set.empty[String]
      var (dcum, tcum, vcum) = (0L, 0L, 0L)
      (0L to 9L).foreach { b =>
        val in = byB.getOrElse(b, Array.empty[(String, Long, String)])
        dcum += in.length
        in.sortBy(_._2).foreach { d =>
          val ws = d._3.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
          tcum += ws.length
          ws.foreach { w => if (seen.add(w)) vcum += 1 }
        }
        assert(rows((src, b + 1)) === ((dcum, tcum, vcum)),
          s"$src decile ${b + 1} diverges from the Scala replay")
      }
    }
  }

}
