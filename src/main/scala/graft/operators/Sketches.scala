package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable cardinality/frequency sketches, formulated relationally so the sketch
  * merge IS Spark's partial aggregation: each map task combines its rows
  * into at most m=4096 (bucket → max-rank) registers before the exchange,
  * so the shuffle for a 100 TB scan moves O(m × ncols × npartitions)
  * register rows — never data rows. That is exactly the HyperLogLog merge
  * property (registers combine by max), expressed as `groupBy(bucket)
  * .agg(max(rank))` instead of a custom aggregation buffer, which keeps the
  * whole path inside whole-stage codegen and makes the sketch state
  * inspectable as a relation.
  *
  * Portability contract (the reason this is hash-checkable cross-engine):
  *  - the hash is the repo's portable md5-60-bit kernel (hex chars 1-15
  *    of md5, as in [[graft.functions.Md5Hash]]): top p=12 bits select the
  *    register, low 48 bits feed the rank (leading-zeros) count, so rank ∈
  *    [1, 49] and the scaled harmonic term 2^(49-rank) is an exact BIGINT.
  *  - the harmonic mean is summed as exact integers (sum ≤ m·2^49 = 2^61,
  *    inside int64) — no order-dependent double accumulation anywhere.
  *  - the bias constant and estimate are a fixed chain of IEEE-double ops
  *    written identically in the Spark plan and the oracle SQL; the one
  *    transcendental (`ln` in the linear-counting branch) is absorbed by a
  *    final round(…, 4) (ulp ≪ 1e-4, see NOTES.md invariants).
  *
  * Standard HLL per Flajolet et al. 2007 (+ the linear-counting small-range
  * correction): E = α_m·m²/Σ 2^-reg; if E ≤ 2.5m and V>0 (V = zero
  * registers), E = m·ln(m/V).
  */
object Sketches {

  /** Register width: p = 12 → m = 4096 registers per sketched column. */
  val NumRegisters = 4096
  /** 2^48 — the rank-domain modulus of the 60-bit portable hash. */
  val RankDomain = 281474976710656L
  /** 2^49 — the scaled harmonic contribution of an untouched register. */
  val EmptyTerm = 562949953421312L

  /** Per-column HLL distinct estimate next to the exact count:
    * (col_name, n_rows, exact_distinct, hll_estimate, rel_err_pct).
    *
    * Two bounded passes over the melted (col, value) pairs, like
    * [[Profile.profile]]: the sketch pass reduces to ≤ m register rows per
    * column before the exchange; the exact pass is the standard two-level
    * distinct kept ONLY for the accuracy report — a production run at
    * 100 TB drops it and pays just the register-row shuffle.
    */
  def hllDistinct(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "hllDistinct needs at least one column")
    val melted = df.select(explode(map(cols.sorted.flatMap(c =>
        Seq(lit(c), col(c).cast("string"))): _*)).as(Seq("col_name", "val")))
      .filter(col("val").isNotNull)
    hllReport(melted, "col_name")
  }

  /** HLL distinct-per-GROUP — the aggregation-primitive form ("distinct
    * users per segment" over 100 TB): same register kernel keyed by the
    * group instead of the column name, so the shuffle still carries at
    * most m register rows PER GROUP, independent of group skew (a hot
    * group's billion rows partial-aggregate to 4096 registers on every
    * map task before the exchange). */
  def hllDistinctByGroup(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val pairs = df.select(col(groupCol).cast("string").as("col_name"),
        col(valueCol).cast("string").as("val"))
      .filter(col("col_name").isNotNull && col("val").isNotNull)
    hllReport(pairs, groupCol)
  }

  /** The (col_name, bucket, reg) register relation of `melted` — the
    * stored form of the sketch. ≤ m rows per key after the partial-agg
    * merge; registers of separate relations UNION by `max(reg)` (see
    * [[hllMergeEstimate]]) because max is associative/commutative —
    * that is the law that lets daily register tables roll up to monthly
    * distincts without rescanning a single data row. */
  def hllRegisters(melted: DataFrame): DataFrame =
    melted
      .select(col("col_name"),
        expr("cast(conv(substring(md5(val), 1, 15), 16, 10) as bigint)").as("h"))
      .select(col("col_name"),
        expr(s"shiftright(h, 48)").as("bucket"),
        expr(s"h % $RankDomain").as("v"))
      .select(col("col_name"), col("bucket"),
        when(col("v") === 0L, lit(49))
          .otherwise(lit(49) - length(expr("bin(v)"))).as("rank"))
      .groupBy(col("col_name"), col("bucket")).agg(max(col("rank")).as("reg"))

  /** Merge stored register tables and estimate: union → max per register →
    * the same estimate chain as a direct sketch. Identical to sketching
    * the concatenated data (register max is a semilattice) — the union
    * query's oracle proves exactly that by recomputing from raw rows. */
  def hllMergeEstimate(regTables: Seq[DataFrame]): DataFrame =
    estimate(regTables.reduce(_ unionByName _)
      .groupBy(col("col_name"), col("bucket")).agg(max(col("reg")).as("reg")))

  /** Shared HLL kernel over (col_name, val) pairs; the key column is
    * renamed to `keyName` in the report. */
  private def hllReport(melted: DataFrame, keyName: String): DataFrame = {
    val regs = hllRegisters(melted)

    // Estimate: exact-integer harmonic sum, then one fixed IEEE-double chain.
    val hll = estimate(regs)

    // Accuracy report: exact distinct via the two-level groupBy (reducer
    // keys are distinct values, never rows).
    val exact = melted.groupBy(col("col_name"), col("val"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("col_name"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("exact_distinct"))

    // rel_err_pct is three IEEE ops over operands already bit-identical in
    // both engines (rounded estimate, integer exact) — ships unrounded.
    exact.join(hll, Seq("col_name"))
      .select(col("col_name").as(keyName), col("n_rows"),
        col("exact_distinct"), col("hll_estimate"),
        ((col("hll_estimate") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double") * lit(100.0)).as("rel_err_pct"))
      .orderBy(col(keyName))
  }

  /** (col_name, hll_estimate) from a register relation. */
  private def estimate(regs: DataFrame): DataFrame =
    regs.groupBy(col("col_name")).agg(
        count(lit(1)).as("present"),
        expr("sum(shiftleft(cast(1 as bigint), 49 - reg))").as("sum_present"))
      .select(col("col_name"),
        (lit(NumRegisters.toLong) - col("present")).as("zeros"),
        (col("sum_present") +
          (lit(NumRegisters.toLong) - col("present")) * lit(EmptyTerm))
          .as("sum_scaled"))
      // Literal discipline: Spark SQL types 0.7213 as DECIMAL and would
      // constant-fold the bias through decimal arithmetic while DuckDB
      // folds doubles — the 10× gate caught the ~1e-10 constant skew
      // landing a raw estimate on a round() boundary. CAST every literal
      // to DOUBLE so both engines run the identical IEEE chain, and round
      // ONLY the ln() branch (the raw branch is bit-identical unrounded).
      .select(col("col_name"), col("zeros"),
        expr("(cast(0.7213 as double) / (cast(1.0 as double) + " +
          "cast(1.079 as double) / cast(4096.0 as double))) * " +
          "cast(4096.0 as double) * cast(4096.0 as double) * " +
          "cast(562949953421312.0 as double) / cast(sum_scaled as double)")
          .as("raw"))
      .select(col("col_name"),
        when(col("raw") <= lit(2.5 * NumRegisters) && col("zeros") > 0,
            round(expr("cast(4096.0 as double) * ln(cast(4096.0 as double) " +
              "/ cast(zeros as double))"), 4))
          .otherwise(col("raw")).as("hll_estimate"))

  /** Count-min sketch depth (independent hash rows). */
  val CmsDepth = 4
  /** Count-min sketch width (buckets per row). */
  val CmsWidth = 1024

  /** Count-min frequency estimates next to the exact counts:
    * (val, n_true, n_cms, overcount). All-integer — no float risk at all.
    *
    * The sketch is the relation (j, bucket) → count: each value lands in
    * one bucket per hash row (seeded 60-bit md5 kernel mod width), and
    * `groupBy(j, bucket).count` IS the sketch build — partial aggregation
    * bounds the shuffle at depth×width = 4096 cells per map task no matter
    * the input size, which is the CMS mergeability property stated
    * relationally. Point estimates take min over the depth rows, so
    * n_cms ≥ n_true always (one-sided error — asserted in SketchesSpec);
    * the exact side exists only for the report, as in [[hllDistinct]]. */
  def cmsCounts(df: DataFrame, valueCol: String): DataFrame = {
    val vals = df.select(col(valueCol).cast("string").as("val"))
      .filter(col("val").isNotNull)
    val cells = cmsCells(vals)
    val truth = vals.groupBy(col("val")).agg(count(lit(1)).as("n_true"))
    val est = truth.select(col("val"), cmsJ)
      .select(col("val"), col("j"), cmsBucket.as("bucket"))
      .join(cells, Seq("j", "bucket"))
      .groupBy(col("val")).agg(min(col("c")).as("n_cms"))
    truth.join(est, Seq("val"))
      .select(col("val"), col("n_true"), col("n_cms"),
        (col("n_cms") - col("n_true")).as("overcount"))
  }

  private def cmsJ = explode(sequence(lit(0), lit(CmsDepth - 1))).as("j")
  private def cmsBucket =
    expr("cast(conv(substring(md5(concat(cast(j as string), '|', val)), " +
      s"1, 15), 16, 10) as bigint) % $CmsWidth")

  /** The (j, bucket) → count cell relation of a `val` column — the stored
    * form of the CMS. */
  def cmsCells(vals: DataFrame): DataFrame =
    vals.select(cmsJ, col("val"))
      .select(col("j"), cmsBucket.as("bucket"))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("c"))

  /** HLL set algebra: |A ∩ B| by inclusion–exclusion over three register
    * estimates — E(A) + E(B) − E(A ∪ B), where the union estimate comes
    * from the register max-merge (the semilattice law [[hllMergeEstimate]]
    * proves). The audience question ("distinct users who BOTH clicked and
    * purchased, across 100 TB of logs") needs only the two stored register
    * tables — no raw rescan, no distinct-join. Caveat stated honestly:
    * subtraction amplifies relative error when the true intersection is
    * small vs the union (can even go slightly negative); the census carries
    * the exact count so that error is visible, as everywhere in this file.
    * Inputs are (col_name, val) relations. */
  def hllIntersectionEstimate(a: DataFrame, b: DataFrame): DataFrame = {
    val ap = a.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ap.count() // pin: feeds registers + the exact side
    val bp = b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bp.count()
    val ra = hllRegisters(ap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ra.count() // pin: own estimate + union merge
    val rb = hllRegisters(bp)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rb.count()
    val ea = estimate(ra).select(col("hll_estimate").as("est_a"))
    val eb = estimate(rb).select(col("hll_estimate").as("est_b"))
    val eu = estimate(ra.unionByName(rb)
        .groupBy(col("col_name"), col("bucket")).agg(max(col("reg")).as("reg")))
      .select(col("hll_estimate").as("est_union"))
    val exact = ap.select(col("val")).intersect(bp.select(col("val")))
      .agg(count(lit(1)).as("exact_common"))
    val out = exact.crossJoin(ea).crossJoin(eb).crossJoin(eu)
      .select(col("exact_common"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_common"))
      .localCheckpoint() // one row — eager cut, release the pins (r9 ADVICE)
    ap.unpersist(); bp.unpersist(); ra.unpersist(); rb.unpersist()
    out
  }

  /** Bloom filter size in bits (power of two so the position is the hash's
    * low 16 bits; 65536 bits pack into 1024 int64 words = 8 KB). */
  val BloomBits = 65536
  /** Hash functions per value (seeded variants of the 60-bit md5 kernel). */
  val BloomHashes = 3

  /** The bit position of hash `j` of `val` — seeded exactly like the CMS
    * kernel so the oracle replays it with the same text. */
  private def bloomPos(j: Int, valExpr: String, m: Int): String =
    s"cast(conv(substring(md5(concat('$j', '|', $valExpr)), 1, 15), 16, 10) " +
      s"as bigint) % $m"

  /** The distinct bit-position relation of a value set — the STORED form of
    * the Bloom filter. `groupBy(bit)`-style dedup means partial aggregation
    * bounds the shuffle at m rows per map task no matter the input size
    * (the same mergeability argument as the HLL registers: bit-set union is
    * a semilattice, so per-partition filters OR together losslessly). */
  def bloomBits(vals: DataFrame, m: Int = BloomBits,
                k: Int = BloomHashes): DataFrame =
    vals.select(explode(sequence(lit(0), lit(k - 1))).as("j"), col("val"))
      .select(expr(s"cast(conv(substring(md5(concat(cast(j as string), '|', " +
        s"val)), 1, 15), 16, 10) as bigint) % $m").as("bit"))
      .distinct()

  /** Runtime-filter join pruning census — the dynamic-filter pattern every
    * 100 TB join planner leans on: build a Bloom filter over the SMALL join
    * side, ship it to every task as an 8 KB packed-bitmap literal (the same
    * driver-literal discipline as centroids/codebooks), and cut the big
    * probe side MAP-SIDE — zero shuffle, zero network per pruned row —
    * before the exact join sees it. No false negatives by construction
    * (spec-asserted); false positives only cost a wasted probe, never a
    * wrong result, because the exact join still runs on the candidates.
    *
    * Output is one census row over distinct probe values:
    * (n_probe, n_build, n_candidates, n_true_match, n_false_positive) —
    * all BIGINT, fully deterministic; the oracle replays the filter
    * relationally (position semi-join, all-k-present). */
  def bloomPrefilterCensus(probe: DataFrame, probeCol: String,
                           build: DataFrame, buildCol: String,
                           m: Int = BloomBits, k: Int = BloomHashes): DataFrame = {
    require(m % 64 == 0, s"bitmap width must pack into int64 words, got $m")
    val buildVals = build.select(col(buildCol).cast("string").as("val"))
      .filter(col("val").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ≤ m rows by construction — a driver literal the way centroids are.
    val bitmap = new Array[Long](m / 64)
    bloomBits(buildVals, m, k).collect().foreach { r =>
      val b = r.getLong(0); bitmap((b >> 6).toInt) |= 1L << (b & 63)
    }
    val probeVals = probe.select(col(probeCol).cast("string").as("val"))
      .filter(col("val").isNotNull).distinct()
    // The map-side test: all k bit positions set in the broadcast bitmap.
    // Stays inside whole-stage codegen — element_at over a literal array.
    val passSql = (0 until k).map { j =>
      val b = bloomPos(j, "val", m)
      s"((element_at(bm, cast(($b) DIV 64 as int) + 1) " +
        s"& shiftleft(cast(1 as bigint), cast(($b) % 64 as int))) != 0)"
    }.mkString(" AND ")
    val nBuild = buildVals.agg(count(lit(1)).as("n_build"))
    val out = probeVals
      .withColumn("bm", typedLit(bitmap.toSeq))
      .withColumn("pass", expr(passSql)).drop("bm")
      .join(broadcast(buildVals.withColumn("inb", lit(1))), Seq("val"), "left")
      .agg(count(lit(1)).as("n_probe"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("inb").isNotNull, 1L).otherwise(0L)).as("n_true_match"),
        sum(when(col("pass") && col("inb").isNull, 1L).otherwise(0L))
          .as("n_false_positive"))
      .crossJoin(nBuild)
      .select(col("n_probe"), col("n_build"), col("n_candidates"),
        col("n_true_match"), col("n_false_positive"))
      .localCheckpoint() // one row — eager cut, release the pin (r9 ADVICE)
    buildVals.unpersist()
    out
  }

  /** Range-predicate selectivity estimation from an equi-depth histogram —
    * the OTHER classic optimizer statistic beside [[cmsJoinCardinality]]:
    * decile upper bounds are exact order statistics (the distributed
    * prefix-sum machinery, no global sort), and a `BETWEEN lo AND hi`
    * estimate reads the 10-row bound relation, never the data — full
    * buckets contribute n/B each in exact integer arithmetic, the one
    * partially-covered bucket interpolates uniformly (a single fixed IEEE
    * term, picked by max() so no order-dependent float sum exists).
    *
    * Output one row: (n_rows, exact_rows, est_rows, err_rows). The exact
    * side is the report companion, as everywhere in this file. */
  def equidepthRangeEstimate(df: DataFrame, valueCol: String,
                             lo: Long, hi: Long,
                             buckets: Int = 10): DataFrame = {
    require(buckets > 0 && 100 % buckets == 0,
      s"buckets must divide 100, got $buckets")
    val step = 100 / buckets
    val spark = df.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val vals = df.select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pin action doubles as the row count: n = Σc over the histogram is by
    // definition the number of non-null values — the old shape re-derived
    // it with a full extra aggregation pass over the prefix-summed
    // histogram (r13; one job saved, value provably identical)
    val n = vals.count()
    // All bucket bounds in ONE aggregation over the prefix-summed histogram
    // (an exploded percentile list) — one job launch per percentile cost
    // ~4 s at sf0.1 for a 10-point histogram; this is ~6 jobs total.
    val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
    // single consumer (the exploded-percentile readout) — no pin needed;
    // withRankAndCumSum already localCheckpoints its range-partitioned core
    val cum = Prefix.withRankAndCumSum(hist, Seq(col("v")), col("c"), nPart)
    val pcts = (1 to buckets).map(_ * step)
    val h = cum
      .select(col("v"), col("cum"),
        explode(array(pcts.map(lit): _*)).as("pct"))
      .filter(col("cum") >= expr(s"($n * pct + 99) div 100"))
      .groupBy(col("pct")).agg(min(col("v")).as("value"))
    val bounds = h.select(col("pct"), col("value"))
      .unionByName(vals.agg(min(col("v")).as("value"))
        .select(lit(0).as("pct"), col("value")))
    // bucket k = (lower bound at pct−step, upper bound at pct]; self-join
    // instead of a global window (10 rows, but the house linter rightly
    // flags empty-partition windows on principle)
    val pairs = bounds.as("b")
      .join(bounds.as("p"), col("b.pct") === col("p.pct") + step)
      .select(col("p.value").as("blo"), col("b.value").as("bhi"))
    // all-double fixed chain (operands are exact integers; both engines run
    // the identical op sequence, so the floor at the end cannot diverge)
    def estLeq(x: Long): org.apache.spark.sql.Column = {
      val full = sum(when(col("bhi") <= x, 1L).otherwise(0L)).cast("double")
      val part = max(when(col("blo") < x && lit(x) < col("bhi"),
        (lit(x) - col("blo")).cast("double") /
          (col("bhi") - col("blo")).cast("double")).otherwise(lit(null)))
      lit(n.toDouble) * full / lit(buckets.toDouble) +
        coalesce(part, lit(0.0)) * (lit(n.toDouble) / lit(buckets.toDouble))
    }
    val est = pairs.agg(
      floor(estLeq(hi) - estLeq(lo - 1)).cast("long").as("est_rows"))
    val exact = vals.filter(col("v").between(lo, hi))
      .agg(count(lit(1)).as("exact_rows"))
    val out = exact.crossJoin(est)
      .select(lit(n).as("n_rows"), col("exact_rows"), col("est_rows"),
        (col("est_rows") - col("exact_rows")).as("err_rows"))
      .localCheckpoint() // one row — eager cut, release the pins (r9 ADVICE)
    vals.unpersist()
    out
  }

  /** Equi-join cardinality estimation from two CMS cell relations — the
    * optimizer-statistics use of sketches: |A ⋈_v B| = Σ_v fA(v)·fB(v),
    * estimated as min over depth rows of Σ_bucket cA·cB. Hash collisions
    * only ADD cross terms, so the estimate is one-sided (≥ exact, asserted
    * in SketchesSpec) — and it reads 2·depth·width cells, never the
    * relations: the join-size probe a planner can afford before choosing a
    * strategy over 100 TB inputs. All-integer. Output: one row
    * (exact_card, cms_card, overcount); the exact side is the report
    * companion, as everywhere in this file. */
  def cmsJoinCardinality(a: DataFrame, b: DataFrame,
                         valueCol: String): DataFrame = {
    def vals(df: DataFrame) = df.select(col(valueCol).cast("string").as("val"))
      .filter(col("val").isNotNull)
    val est = cmsCells(vals(a)).withColumnRenamed("c", "ca")
      .join(cmsCells(vals(b)).withColumnRenamed("c", "cb"), Seq("j", "bucket"))
      .groupBy(col("j")).agg(sum(col("ca") * col("cb")).as("s"))
      .agg(min(col("s")).as("cms_card"))
    val exact = vals(a).groupBy(col("val")).agg(count(lit(1)).as("fa"))
      .join(vals(b).groupBy(col("val")).agg(count(lit(1)).as("fb")), Seq("val"))
      .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_card"))
    exact.crossJoin(est)
      .select(col("exact_card"), coalesce(col("cms_card"), lit(0L)).as("cms_card"),
        (coalesce(col("cms_card"), lit(0L)) - col("exact_card")).as("overcount"))
  }

  /** KMV (k-minimum-values / theta-sketch) distinct estimation with set
    * algebra. The sketch of a set is its k smallest distinct 60-bit hashes
    * — mergeable by "union the minima, keep the k smallest" (the same
    * semilattice story as the HLL registers, so daily sketches roll up
    * with zero rescan). est|S| = (k−1)·2^60 / h_k. Unlike HLL
    * inclusion–exclusion, the intersection comes from MEMBERSHIP inside
    * the union's k-min sample (|kminU ∩ A ∩ B|/k · estU) — no subtraction,
    * so the estimate can't go negative and degrades gracefully on small
    * overlaps. The k-min itself is a distributed top-k
    * (TakeOrdered — per-partition heads, never a global sort), and every
    * estimate is a pure IEEE chain (one multiply, one divide — shipped
    * unrounded, bit-identical cross-engine). Exact counts ride along for
    * error visibility, as everywhere in this file. */
  /** Hash-order bottom-k quantile sketch: the k rows with the SMALLEST
    * 60-bit md5 key-hashes form a deterministic uniform sample, and the
    * sample's exact order statistics estimate the corpus quantiles.
    *
    * Why this shape at 100 TB:
    *  - bottom-k-by-hash is a semilattice (bottom-k of a union = bottom-k
    *    of the parts' bottom-ks), so partial aggregation / shard-local
    *    sketches merge losslessly — the same property KMV exploits for
    *    distinct counts, reused here for quantiles (SketchesSpec pins the
    *    merge law). Spark executes the global bottom-k as
    *    TakeOrderedAndProject: each task keeps k rows, the driver merges
    *    heaps — no full sort, no shuffle of data rows.
    *  - unlike approx_percentile, the result is bit-reproducible across
    *    partitionings and engines: the sample is a pure function of the
    *    key hash, and the readout is an order statistic (a raw stored
    *    value — zero arithmetic on doubles).
    *
    * Input must carry `v` (value) and `key` (unique row identity string).
    * Decile d reads rank 1 + (n-1)·d div 10 (1-based, ties broken by
    * hash) — replayed verbatim by the oracle.
    */
  def bottomKQuantiles(df: DataFrame, k: Int): DataFrame = {
    val hash = expr("cast(conv(substring(md5(key), 1, 15), 16, 10) as bigint)")
    val sample = df.select(col("v"), hash.as("h"))
      .orderBy(col("h")).limit(k)
    sample
      .agg(sort_array(collect_list(struct(col("v"), col("h")))).as("a"),
        count(lit(1)).as("n"))
      .select(explode(expr("sequence(1, 9)")).as("d"), col("a"), col("n"))
      .select(col("d").cast("long").as("decile"),
        expr("element_at(a, cast(1 + ((n - 1) * d) div 10 as int)).v").as("est_value"),
        col("n").as("sample_n"))
      .orderBy(col("decile"))
  }

  def kmvIntersectionEstimate(a: DataFrame, b: DataFrame,
                              k: Int = 64): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hash = expr("cast(conv(substring(md5(val), 1, 15), 16, 10) as bigint)")
    def hashes(df: DataFrame) = {
      val h = df.select(hash.as("h")).distinct().persist(mem)
      h.count() // pin: feeds kmin + exact + membership probes
      h
    }
    val ha = hashes(a)
    val hb = hashes(b)
    def kmin(h: DataFrame) = h.orderBy(col("h")).limit(k).persist(mem)
    val ka = kmin(ha)
    val kb = kmin(hb)
    // Semilattice law (SketchesSpec): bottom-k of a union = bottom-k of the
    // parts' bottom-ks. ka ∪ kb is ≤ 2k rows, so the union sketch costs a
    // 2k-row dedup instead of re-aggregating |A|+|B| hashes (r13: the
    // union-distinct over the full hash sets was the query's largest
    // shuffle; the law the doc comment already cites makes it free).
    val ku = kmin(ka.unionByName(kb).distinct())
    val space = lit(math.pow(2, 60)) // exact double (power of two)
    def est(km: DataFrame, name: String) = km.agg(max(col("h")).as("kth"))
      .select((lit((k - 1).toDouble) * space / col("kth").cast("double")).as(name))
    // Membership probes stream each big hash set ONCE map-side against the
    // broadcast k-row union sample (ku is the smaller relation by 3-4
    // orders of magnitude; the pre-r13 ku-as-left semi-joins shuffled ha
    // and hb instead). inA/inB are ≤ k rows, so their semi-join is tiny.
    val inA = ha.join(broadcast(ku), Seq("h"), "left_semi")
    val inB = hb.join(broadcast(ku), Seq("h"), "left_semi")
    val common = inA.join(broadcast(inB), Seq("h"), "left_semi")
      .agg(count(lit(1)).as("n_common_kmin"))
    // ha/hb are distinct by construction, so INTERSECT ≡ LEFT SEMI join —
    // same result, one join instead of intersect's two-sided re-dedup.
    val exact = ha.agg(count(lit(1)).as("exact_a"))
      .crossJoin(hb.agg(count(lit(1)).as("exact_b")))
      .crossJoin(ha.join(hb, Seq("h"), "left_semi")
        .agg(count(lit(1)).as("exact_common")))
    val out = exact
      .crossJoin(est(ka, "kmv_a"))
      .crossJoin(est(kb, "kmv_b"))
      .crossJoin(est(ku, "kmv_union"))
      .crossJoin(common)
      .select(col("exact_a"), col("exact_b"), col("exact_common"),
        col("kmv_a"), col("kmv_b"), col("kmv_union"),
        (col("n_common_kmin").cast("double") * col("kmv_union")
          / lit(k.toDouble)).as("kmv_common"))
      .localCheckpoint() // one row — eager cut, release the pins (r9 ADVICE)
    Seq(ha, hb, ka, kb, ku).foreach(_.unpersist())
    out
  }
}
