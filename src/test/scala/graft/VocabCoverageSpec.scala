package graft

import org.apache.spark.sql.functions._

/** Vocabulary-growth census: `text_heaps_law`'s per-(source, decile)
  * cumulative docs, tokens and distinct words, checked against an
  * independent Scala replay of the corpus.
  */
class VocabCoverageSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sfDir)

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
