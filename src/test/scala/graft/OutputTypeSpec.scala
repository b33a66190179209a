package graft

import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType}

/** Output-type gate for every graded registry query.
  *
  * Two whole CLASSES of driver hash-mismatch came from output column types,
  * not values: LIST-typed columns crash the oracle grader's pandas sorter
  * (an r6 fingerprint-array query), and DECIMAL-typed columns hash as
  * Decimal-vs-float and silently diverge above 2^53 (the r7/r8
  * DECIMAL(38,0) family). tools/check.py hard-rejects both at verify
  * time; this spec rejects them at `sbt test` time, before a query can
  * ever reach the grader. DECIMAL is
  * fine INSIDE a plan (that is the whole exact-arithmetic discipline) —
  * only the final emitted schema is gated: emit DOUBLE when |v| < 2^53
  * provably, a digit string otherwise.
  */
class OutputTypeSpec extends SparkTestBase {

  test("no registry query emits DECIMAL, ARRAY, or MAP graded columns") {
    val bad = Registry.all.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val fields =
        try q.fn(spark, sfDir).schema.fields.toSeq
        catch { case e: Throwable => fail(s"$name failed to build: $e") }
      fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
        case f if f.dataType.isInstanceOf[ArrayType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
        case f if f.dataType.isInstanceOf[MapType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty,
      s"ungradeable output column types (cast to DOUBLE/STRING):\n  " +
        bad.mkString("\n  "))
  }
}
