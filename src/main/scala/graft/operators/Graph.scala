package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists (walks, triangles, core
  * peeling, Louvain, label propagation, BFS), with PageRank in FIXED-POINT
  * integer arithmetic.
  *
  * Why integers: float PageRank sums in-neighbor contributions with a
  * partition-order-dependent double sum — reruns and engines disagree in
  * the last ulps, and ranking ties flip. Scaling ranks to int64 (SCALE =
  * 10^12) makes every operation (+, integer DIV) associative and
  * commutative, so the result is bit-identical under any partitioning,
  * any engine, any merge order — the same trick the DECIMAL-sum invariant
  * applies to aggregates, specialized for an iterative kernel.
  *
  * Semantics (damping 0.85, floor division at each step):
  *   r_0(v)   = SCALE div N
  *   r_k(v)   = (15·(SCALE div N)) div 100
  *            + (85·Σ_{u→v} (r_{k-1}(u) div deg(u))) div 100
  * Truncation loses < 1e-10 of mass per step — irrelevant for ranking,
  * and exactly reproducible, which is the point.
  *
  * Scale shape: edges are deduped ONCE and persisted pre-partitioned on
  * `src` (at 100 TB: a bucketed stored table), so the per-iteration
  * rank join co-locates without re-shuffling the edge relation; each
  * iteration is then one key-shuffle of node-sized (dst, contrib) pairs
  * with map-side combine. Rank lineage is cut per round with
  * localCheckpoint — the iterative-loop house pattern. Assumes every
  * node has out-edges (true for symmetrized graphs like co-occurrence);
  * dangling-mass redistribution is the directed-graph extension.
  */
object Graph {

  val Scale = 1000000000000L

  /** PageRank over (src, dst) edges, `iters` fixed-point iterations.
    * Returns (node, rank) with rank on the SCALE grid. */
  def pagerankFixedPoint(edges: DataFrame, iters: Int,
                         assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val spark = edges.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // dedup once; pre-partition on src so every iteration's rank join
    // co-locates against a pinned edge relation (no per-round edge shuffle).
    // Partitioning BEFORE the dedup makes it exchange-free — hash(src)
    // satisfies the (src, dst) clustering — so the edge relation shuffles
    // exactly once, and deg's groupBy(src) rides the same partitioning.
    // assumeDistinct (stored-adjacency callers) skips the dedup agg; the
    // src repartition stays — it is what co-locates the iterations.
    val eRaw = edges.select(col("src"), col("dst"))
      .repartition(nPart, col("src"))
    val e = (if (assumeDistinct) eRaw else eRaw.dropDuplicates("src", "dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = deg.count() // node count: a scalar driver literal, like centroids
    val base = (15L * (Scale / n)) / 100L
    var r = deg.select(col("src").as("v"), lit(Scale / n).as("r"))
    for (_ <- 1 to iters) {
      r = e.join(r.withColumnRenamed("v", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("r DIV d").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        // keep the FULL node universe every round: a node nobody points at
        // has no dst group, but it still holds the teleport base rank and
        // keeps contributing through its out-edges — without this re-join
        // it silently vanishes from round 2 onward
        .join(deg.select(col("src").as("dst")), Seq("dst"), "right")
        .select(col("dst").as("v"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) DIV 100")).as("r"))
        .localCheckpoint()
    }
    // r is a checkpoint leaf: releasing the loop caches cannot recompute it
    // (stress-centrality cache-hygiene rule, r9 ADVICE)
    e.unpersist(); deg.unpersist()
    r.select(col("v").as("node"), col("r").as("rank"))
  }

  /** Deterministic pseudo-random walks — DeepWalk/node2vec's sampling
    * primitive with the RNG replaced by a keyed hash, so every engine,
    * shard and re-run draws the SAME walk (the reproducibility property
    * distributed walk sampling actually needs): from each seed,
    * `walksPerSeed` walks of `steps` hops; at hop t a walk at node v moves
    * to the neighbor at index md5₆₀(v ':' r ':' t) mod deg(v) + 1 in
    * dst-sorted adjacency order. Each hop is ONE equi-join of the walk
    * frontier (|seeds|·R rows) against the once-partitioned indexed
    * adjacency — no RNG state, no driver loop, localCheckpoint pinning
    * plan depth. Returns (seed, walk_r, path, end_node). */
  def hashWalks(edges: DataFrame, seeds: DataFrame, steps: Int,
                walksPerSeed: Int): DataFrame = {
    val spark = edges.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val e = edges.select(col("src"), col("dst"))
      .repartition(nPart, col("src")).dropDuplicates("src", "dst")
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    // the indexed core persists its own projection; no double cache here
    val nbr = e.withColumn("idx", row_number().over(wIdx).cast("long"))
    hashWalksIndexed(nbr, seeds, steps, walksPerSeed)
  }

  /** Walk core over a PRE-INDEXED adjacency (src, dst, idx, deg) — the
    * stored-layout path ([[graft.Tables.coPurchaseAdjacency]]): production
    * keeps the CSR-style index resident, so a walk query pays `steps`
    * (node,idx)-keyed probes and nothing else. The hash contract and output
    * are bit-identical to [[hashWalks]] (which now just builds the index
    * inline and delegates here). */
  def hashWalksIndexed(adj: DataFrame, seeds: DataFrame, steps: Int,
                       walksPerSeed: Int): DataFrame = {
    // one scan of the stored layout into cache — every hop probes memory,
    // not parquet (a resident engine keeps the CSR hot; re-streaming the
    // relation per hop measured 2× slower at 2.3M edges, r10)
    // CacheOnce + conditional release (the triangles rule): a resident
    // caller may have pinned this same stored-adjacency plan already
    val a = adj.select(col("src"), col("dst"), col("idx"))
    val aMine = CacheOnce.pin(a)
    a.count()
    // node-sized degree relation off the cache: max(idx) is map-side
    // combinable, so the shuffle carries nodes, not edges
    val deg = a.groupBy(col("src")).agg(max(col("idx")).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    deg.count()
    val rs = (0 until walksPerSeed).map(r => lit(r)) // tiny literal fan-out
    var walk = seeds.select(col("id").as("seed"))
      .select(col("seed"), explode(array(rs: _*)).as("r"))
      .withColumn("node", col("seed"))
      .withColumn("path", col("seed").cast("string"))
    for (t <- 1 to steps) {
      val h = expr("cast(conv(substring(md5(concat(cast(node as string), " +
        s"':', cast(r as string), ':', '$t')), 1, 15), 16, 10) as bigint)")
      walk = walk
        .join(deg.select(col("src").as("node"), col("deg")), Seq("node"))
        .withColumn("idx", h % col("deg") + 1L)
        // (node, idx) as the FULL join key: the hash join probes straight
        // to the picked neighbor instead of materializing every neighbor
        // of the frontier and post-filtering (frontier Σdeg rows saved)
        .join(a.select(col("src").as("node"), col("idx"), col("dst")),
          Seq("node", "idx"))
        .select(col("seed"), col("r"), col("dst").as("node"),
          concat(col("path"), lit("->"), col("dst").cast("string")).as("path"))
        .localCheckpoint()
    }
    if (aMine) a.unpersist()
    deg.unpersist() // walk is checkpointed: lineage cut
    walk.select(col("seed"), col("r").as("walk_r"), col("path"),
      col("node").as("end_node"))
  }

  /** Triangle enumeration by DEGREE-ORDERED orientation (the
    * Cohen / Suri-Vassilvitskii MapReduce formulation): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher,
    * so out-degree is O(√m) on ANY graph and the wedge join
    * (a.s = b.s, a.t < b.t) — the only superlinear step — is bounded by
    * Σ outdeg² ≤ m^1.5 instead of the hub-quadratic Σ deg² a naive
    * neighbor join pays (one celebrity node would otherwise dominate the
    * whole job). Wedges close against the oriented edge list with one
    * more equi-join. Returns each triangle once as its numerically
    * sorted vertex triple.
    *
    * Input: undirected edges, one row per edge, u < v, no duplicates
    * (callers holding raw co-occurrence pairs dedup/threshold first —
    * a support floor is also the frequent-itemset prefilter that keeps
    * co-occurrence graphs from densifying into noise). */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    // CacheOnce + conditional release: when the caller already pinned this
    // exact plan (graph_clustering_coeff passes the resident co-purchase
    // pairs, whose identity projection canonicalizes to the pinned plan),
    // a bare persist WARNs and — worse — the paired unpersist below would
    // EVICT the caller's longer-lived pin: the CacheManager keys entries
    // by analyzed plan, not by DataFrame reference.
    val eMine = CacheOnce.pin(e)
    e.count()
    val deg = e.select(col("u").as("n")).unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orientation: struct comparison = (degree, id) lexicographic order
    val o = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    o.count() // pin: o feeds three join branches (house self-join invariant)
    val wedges = o.as("a").join(o.as("b"),
      col("a.s") === col("b.s") && col("a.t") < col("b.t"))
    val out = wedges.join(o.as("c"),
        col("c.s") === col("a.t") && col("c.t") === col("b.t"))
      .select(sort_array(array(col("a.s"), col("a.t"), col("b.t"))).as("tri"))
      .select(col("tri").getItem(0).as("n1"), col("tri").getItem(1).as("n2"),
        col("tri").getItem(2).as("n3"))
      // triangle-sized (≤ m^1.5, the wedge bound) — eager cut so the edge
      // and oriented caches release before return (r9 ADVICE hygiene rule)
      .localCheckpoint()
    if (eMine) e.unpersist()
    o.unpersist()
    out
  }

  /** Synchronous label propagation (community detection), `iters` fixed
    * rounds: label_0(v) = v; each round every node adopts the most
    * frequent previous-round label among its in-neighbors, ties to the
    * SMALLEST label. The argmax is min(struct(−count, label)) — integer
    * counts + a total tiebreak, so every round is bit-identical under
    * any partitioning (the same float-free discipline as
    * [[pagerankFixedPoint]]; raw float-weighted LPA would flip
    * community assignments between runs). Fixed synchronous rounds, not
    * convergence polling — reproducibility over adaptivity.
    *
    * Scale shape: edges dedup + pre-partition ONCE on src (at 100 TB a
    * bucketed stored table); each round joins node-sized labels against
    * the pinned edge relation and shuffles only (dst, label) count
    * pairs with map-side combine. Lineage cut per round. */
  /** k-core peeling census: `rounds` synchronous rounds of "drop every node
    * with degree < k, then drop edges touching dropped nodes". The k-core
    * (the fixpoint) is the standard graph-curation gate — spam/bot rings
    * and boilerplate link farms live OUTSIDE dense cores, and a bounded
    * number of peel rounds is the production form (full convergence is a
    * while-loop over the same body).
    *
    * Each round is one degree aggregation (map-side combinable) + two
    * semi-joins of the edge relation against the node-sized keep set —
    * no pair explosion; lineage cut per round (localCheckpoint). Returns
    * the per-round census (round, n_nodes, n_edges) — node counts are the
    * degree-test survivors, edge counts the directed surviving edges —
    * exact integers a SQL oracle replays round by round. */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int,
                assumeDistinct: Boolean = false): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    peel(edges, rounds, assumeDistinct, deg => deg.filter(col("deg") >= k))
  }

  /** Mean-degree peeling — the scale-free sibling of [[kcorePeel]] (the
    * greedy densest-subgraph flavor): each round drops nodes whose degree
    * is below the CURRENT graph's mean degree. The gate compares
    * deg·n ≥ Σdeg as cross-multiplied integers (no division), so the rule
    * adapts to any corpus density with zero tuned constants — a fixed k
    * that peels nothing at 10× the data is the failure mode this avoids. */
  def meanCorePeel(edges: DataFrame, rounds: Int,
                   assumeDistinct: Boolean = false): DataFrame =
    peel(edges, rounds, assumeDistinct, { deg =>
      val row = deg.agg(count(lit(1)).as("n"), sum(col("deg")).as("s")).head
      val n = row.getLong(0)
      val s = if (row.isNullAt(1)) 0L else row.getLong(1) // fully peeled graph
      deg.filter(col("deg") * n >= s)
    })

  private def peel(edges: DataFrame, rounds: Int, assumeDistinct: Boolean,
                   keepRule: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = edges.select(col("src"), col("dst"))
    var e = if (assumeDistinct) base else base.dropDuplicates("src", "dst")
    // conditional first-round release (the triangles rule): under
    // assumeDistinct the initial relation is an identity projection of the
    // caller's — possibly pinned — edge relation
    var eMine = CacheOnce.pin(e)
    e.count()
    val census = Seq.newBuilder[(Int, Long, Long)]
    for (r <- 1 to rounds) {
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist(mem)
      val keep = keepRule(deg).select(col("src").as("v")).persist(mem)
      val nNodes = keep.count()
      val pruned = e
        .join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint()
      if (eMine) e.unpersist()
      deg.unpersist()
      keep.unpersist()
      e = pruned
      eMine = true // checkpointed rounds are always ours (unpersist = no-op)
      census += ((r, nNodes, e.count()))
    }
    census.result().toDF("round", "n_nodes", "n_edges")
      .select(col("round").cast("long").as("round"), col("n_nodes"), col("n_edges"))
  }

  /** Synchronized Louvain phase-1: the modularity-gain local-move pass that
    * seeds every Louvain/Leiden community pipeline, made deterministic by
    * (a) SYNCHRONOUS rounds (every node evaluates against the previous
    * round's assignment — no sequential visit order to pin down) and
    * (b) ALL-INTEGER gain arithmetic: with unit weights, moving v into
    * community C scores 2m·k_{v,C} − k_v·Σtot(C∖{v}) (the ΔQ numerator
    * scaled by 4m² — argmax-equivalent, overflow-bounded by 2m·max_deg,
    * comfortably inside int64 until ~10¹² directed edges × 10⁶ degree;
    * past that bound [[louvainScore]] WIDENS the products to
    * DecimalType(38,0) automatically — the switch is the exact int64
    * bound m2 > Long.MaxValue / max_deg, both scalars already known per
    * call, and LouvainOverflowSpec pins the ANSI failure mode the narrow
    * form hits at that boundary plus the widened form's exactness).
    * Candidates are the neighbor communities ∪ the current one (kept via a
    * zero-count union so "stay" is always priced); ties break to the
    * smallest community id. Each round is two keyed groupBys and three
    * broadcast-or-shuffle equi-joins over node-sized relations — one Pregel
    * superstep; localCheckpoint pins the assignment per round (house rule).
    * Returns (v, c, k): node, community, degree. */
  /** True when louvainSync's int64 gain products could overflow: both
    * |m2·kic| and |k·(tot−k)| are ≤ m2·maxDeg (kic ≤ maxDeg, k ≤ maxDeg,
    * tot ≤ m2), so int64 is exact iff m2·maxDeg fits. */
  private[graft] def louvainWidens(m2: Long, maxDeg: Long): Boolean =
    maxDeg > 0 && m2 > Long.MaxValue / maxDeg

  /** The modularity-gain score column 2m·k_{v,C} − k_v·Σtot(C∖{v}) over
    * (kic, k, tot, c, cc) — LongType while the [[louvainWidens]] bound
    * holds (codegen integer math), DecimalType(38,0) past it (exact at any
    * graph scale; decimal compares order the argmax identically). */
  private[graft] def louvainScore(m2: Long, maxDeg: Long): Column = {
    val totLessSelf = col("tot") -
      when(col("c") === col("cc"), col("k")).otherwise(lit(0L))
    if (louvainWidens(m2, maxDeg)) {
      val d = org.apache.spark.sql.types.DecimalType(38, 0)
      lit(m2).cast(d) * col("kic").cast(d) - col("k").cast(d) * totLessSelf.cast(d)
    } else lit(m2) * col("kic") - col("k") * totLessSelf
  }

  def louvainSync(edges: DataFrame, rounds: Int,
                  assumeDistinct: Boolean = false): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val nPart = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val base0 = edges.select(col("src"), col("dst"))
      .repartition(nPart, col("src"))
    val e = (if (assumeDistinct) base0 else base0.dropDuplicates("src", "dst"))
      .persist(mem)
    val m2 = e.count() // directed edge count = 2m (each undirected edge twice)
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("k"))
      .persist(mem)
    deg.count()
    // driver-bounded scalar off the persisted node relation: picks the
    // exact int64-vs-decimal score form for this graph's actual bound
    val maxDeg = Option(deg.agg(max(col("k"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    var c = deg.select(col("v"), col("v").as("c"))
    for (_ <- 1 to rounds) {
      // localCheckpoint is for STATS, not just lineage: tot is a lazy
      // join+agg whose size ESTIMATE is join-product-sized, so the
      // planner sort-merge-joined it against the candidate relation —
      // an Exchange+Sort of the full (v, cc) candidate set every round
      // (2.4M rows at sf0.1; r13 A/B: 6.0-6.4 s → 4.6-4.7 s for the
      // 2-round graded call). Materializing the community-sized relation
      // gives the planner its true size; the broadcast-vs-SMJ choice
      // stays the planner's, so a genuinely huge community relation at
      // 100 TB still correctly sort-merge-joins.
      val tot = c.join(deg, Seq("v"))
        .groupBy(col("c")).agg(sum(col("k")).as("tot"))
        .localCheckpoint()
      // neighbor-community counts ∪ a ZERO-WEIGHT marker for the current
      // community (so "stay" is always priced, even with no same-community
      // neighbor), fused into ONE weighted groupBy — unioning before the
      // aggregation saves a second candidate-sized shuffle per round
      val kk = e.join(c.withColumnRenamed("v", "dst"), Seq("dst"))
        .select(col("src").as("v"), col("c").as("cc"), lit(1L).as("w"))
        .unionByName(c.select(col("v"), col("c").as("cc"), lit(0L).as("w")))
        .groupBy(col("v"), col("cc")).agg(sum(col("w")).as("kic"))
      val sc = kk
        .join(c, Seq("v"))
        .join(deg, Seq("v"))
        .join(tot.withColumnRenamed("c", "cc"), Seq("cc"))
        .withColumn("score", louvainScore(m2, maxDeg))
      val cNew = sc.groupBy(col("v"))
        .agg(min(struct((-col("score")).as("ns"), col("cc").as("l"))).as("m"))
        .select(col("v"), col("m.l").as("c"))
      c = cNew.localCheckpoint()
    }
    val out = c.join(deg, Seq("v")).select(col("v"), col("c"), col("k"))
      .localCheckpoint()
    e.unpersist(); deg.unpersist()
    out
  }

  def labelPropagation(edges: DataFrame, iters: Int,
                       assumeDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val nPart = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val base0 = edges.select(col("src"), col("dst"))
      .repartition(nPart, col("src"))
    val e = (if (assumeDistinct) base0 else base0.dropDuplicates("src", "dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    var lab = e.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
    for (_ <- 1 to iters) {
      lab = e.join(lab.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("dst").as("v"), col("m.l").as("label"))
        .localCheckpoint()
    }
    e.unpersist() // lab is a checkpoint leaf
    lab
  }

  /** Multi-source BFS hop-distance census over an undirected edge relation:
    * one (dist, n_nodes) row per hop 0..maxHops plus a `-1` row for nodes
    * the wave never reaches. Bounded-iteration frontier expansion exactly
    * like [[pagerankFixedPoint]]: each hop is one edges⋈frontier semi-join
    * feeding an anti-join against the visited set — every intermediate is
    * node-sized (never path-sized), the hot-hub fanout collapses in the
    * per-hop `distinct`'s partial aggregation, and the census is exact
    * integers end to end. maxHops is a small constant (plans stay bounded);
    * at 100 TB each hop is one shuffle round, the textbook Pregel superstep. */
  def bfsLayers(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // conditional release (the triangles rule): the identity projection of
    // a pinned caller relation must not be evicted on exit
    val e = edges.select(col("src"), col("dst"))
    val eMine = CacheOnce.pin(e, mem)
    val nodes = e.select(col("src").as("id")).distinct().persist(mem)
    val visited0 = sources.select(col("id")).distinct()
      .withColumn("dist", lit(0)).persist(mem)
    var visited = visited0
    var frontier = visited.select(col("id"))
    val hops = Seq.newBuilder[DataFrame] // persisted per-hop frontiers to release
    var k = 1
    while (k <= maxHops) {
      val next = e.join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .withColumn("dist", lit(k)).persist(mem)
      hops += next
      // localCheckpoint (not just persist): `visited` is a union-of-unions
      // whose LINEAGE grows one join+union per hop — at 100× the plan/DAG
      // depth, not the data, becomes the bottleneck (scheduler + codegen
      // re-walk the whole history each superstep). Checkpointing pins the
      // hop's result as a leaf, so plan depth is CONSTANT in maxHops —
      // the same cut pagerankFixedPoint/labelPropagation/peel already make.
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next.select(col("id"))
      k += 1
    }
    val reached = visited.groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
    val unreached = nodes.join(visited.select(col("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1).as("dist"), col("n_nodes"))
    // hop-census-sized — eager cut, then release every loop cache (r9 ADVICE)
    val out = reached.unionByName(unreached).filter(col("n_nodes") > 0)
      .localCheckpoint()
    if (eMine) e.unpersist()
    nodes.unpersist(); visited0.unpersist()
    hops.result().foreach(_.unpersist())
    out
  }

  /** Per-source bounded-hop BFS census — the reach profile behind SAMPLED
    * harmonic centrality (Eppstein & Wang 2004 estimate closeness from a
    * bounded probe set; same budget discipline here: |sources| is a small
    * constant, never all nodes). The frontier key is (root, id), so the
    * wave for every probe source advances in the SAME superstep — cost per
    * hop is one edges⋈frontier shuffle with volume ≤ |S|·|V|, and the
    * per-hop `distinct` collapses hub fanout map-side exactly as in
    * [[bfsLayers]]. localCheckpoint per hop keeps plan depth constant in
    * maxHops (the 100× DAG-depth cut all iterative kernels here make).
    * Returns one (root, dist, n_nodes) row per probe source and hop ≥ 1. */
  def perSourceBfsCensus(edges: DataFrame, sources: DataFrame,
                         maxHops: Int): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // conditional release (the triangles rule): identity projection of a
    // possibly-pinned caller relation
    val e = edges.select(col("src"), col("dst"))
    val eMine = CacheOnce.pin(e, mem)
    val visited0 = sources.select(col("id").as("root"))
      .distinct()
      .select(col("root"), col("root").as("id"), lit(0).as("dist"))
      .persist(mem)
    var visited = visited0
    var frontier = visited.select(col("root"), col("id"))
    var k = 1
    while (k <= maxHops) {
      val next = e.join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("root"), col("dst").as("id")).distinct()
        .join(visited.select(col("root"), col("id")),
          Seq("root", "id"), "left_anti")
        .withColumn("dist", lit(k))
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next.select(col("root"), col("id"))
      k += 1
    }
    // (probe × hop)-sized census — eager cut, then release (r9 ADVICE)
    val out = visited.filter(col("dist") > 0)
      .groupBy(col("root"), col("dist")).agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint()
    if (eMine) e.unpersist()
    visited0.unpersist()
    out
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of EXCESS
    * degrees across edge endpoints. Input: directed edge relation with
    * BOTH orientations of every undirected edge present (so the two
    * marginals coincide and r = (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²)).
    * Dedups + pins internally (the relation feeds the degree agg AND the
    * probe join). Moments are exact BIGINTs; the n·Σ products go through
    * DECIMAL(38,0) — n·Σxy can pass 2^63 at corpus scale — and the final
    * ratio is ONE IEEE division. Returns a single row
    * (n, n_nodes, sx, sxx, sxy, r_num, r_den, assortativity). */
  def assortativityMoments(edges: DataFrame,
                           assumeDistinct: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // assumeDistinct (stored-adjacency callers): the self-loop filter is a
    // map-side no-op on such inputs; the edge-sized dedup shuffle is skipped
    // (same contract as pagerankFixedPoint/louvainSync, r13)
    val base = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val e = (if (assumeDistinct) base else base.dropDuplicates("src", "dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    val deg = e.groupBy(col("src")).agg((count(lit(1)) - 1).as("dx"))
    val j = e.join(deg, "src")
      .join(deg.select(col("src").as("dst"), col("dx").as("dy")), "dst")
    val m = j.agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dx") * col("dy")).as("sxy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val num = (col("n").cast(DecimalType(38, 0)) * col("sxy") -
      col("sx").cast(DecimalType(38, 0)) * col("sx")).cast(DecimalType(38, 0))
    val den = (col("n").cast(DecimalType(38, 0)) * col("sxx") -
      col("sx").cast(DecimalType(38, 0)) * col("sx")).cast(DecimalType(38, 0))
    // r_num/r_den are DECIMAL(38,0) n·Σ products that pass 2^53 at scale:
    // grade them as exact digit strings so neither engine rounds.
    val out = m.crossJoin(nn).select(col("n"), col("n_nodes"), col("sx"),
      col("sxx"), col("sxy"),
      num.cast("string").as("r_num"), den.cast("string").as("r_den"),
      round(num.cast("double") / den.cast("double"), 9).as("assortativity"))
      .localCheckpoint() // single row — eager cut, release e (r9 ADVICE)
    e.unpersist()
    out
  }

  /** Common-neighbor link prediction: score every NON-adjacent node pair
    * of an undirected graph by shared-neighbor count and Jaccard
    * (|Γp∩Γq| / |Γp∪Γq|). Input: one row per undirected edge, u < v,
    * deduped (co-occurrence callers threshold first — the support floor
    * is the densification guard, exactly as for [[triangles]]). The wedge
    * join is the Σd² shape; candidates are two-hop pairs only, never
    * all-pairs. Returns (p, q, cn, deg_p, deg_q, j_den, jaccard) with
    * exact integer scores and ONE round-9 division. */
  def commonNeighborPairs(edges: DataFrame): DataFrame = {
    // conditional release (the triangles rule): identity projection of a
    // possibly-pinned caller relation
    val e = edges.select(col("u"), col("v"))
    val eMine = CacheOnce.pin(e)
    e.count() // feeds adj twice AND the anti-join probe
    val adj = e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
    val w = adj.alias("x").join(adj.alias("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.b").as("p"), col("y.b").as("q"))
      .groupBy(col("p"), col("q")).agg(count(lit(1)).as("cn"))
    val nonEdge = w.join(e,
      w("p") === e("u") && w("q") === e("v"), "left_anti")
    val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val out = nonEdge
      .join(deg.select(col("a").as("p"), col("d").as("deg_p")), "p")
      .join(deg.select(col("a").as("q"), col("d").as("deg_q")), "q")
      .select(col("p"), col("q"), col("cn"), col("deg_p"), col("deg_q"),
        (col("deg_p") + col("deg_q") - col("cn")).as("j_den"),
        round(col("cn").cast("double") /
          (col("deg_p") + col("deg_q") - col("cn")).cast("double"), 9)
          .as("jaccard"))
      // two-hop-pair-sized (the Σd² wedge bound already paid above) —
      // eager cut, then release the pinned edge cache (r9 ADVICE)
      .localCheckpoint()
    if (eMine) e.unpersist()
    out
  }

  /** Bounded-horizon STRESS centrality from a sampled probe set — the
    * all-integer member of the betweenness family (Shimbel 1953): stress(v)
    * = number of shortest paths from the probe roots passing through v as
    * an interior vertex. Betweenness proper accumulates RATIONAL
    * dependencies (δ = Σ σ(v)/σ(w)·(1+δ(w))) whose denominators explode
    * under exact arithmetic and whose float form is merge-order-dependent —
    * stress keeps Brandes' two-pass structure with every quantity an exact
    * integer, so the result is bit-identical under any partitioning or
    * engine (the same reproducibility argument as [[pagerankFixedPoint]]).
    *
    * Forward: per-root BFS with PATH COUNTS — σ(w at hop k) = Σ σ(u at hop
    * k−1) over DAG edges u→w, one keyed shuffle per superstep exactly like
    * [[perSourceBfsCensus]] (frontier keyed (root, id), all probe waves
    * advance together). Backward: continuation counts g(v) = Σ_{w∈succ(v)}
    * (1 + g(w)) over the shortest-path DAG, processed one layer per
    * superstep from the horizon down. Then stress(v) = σ(v)·g(v) — every
    * shortest path from the root of length ≥ 1 continuing past v is counted
    * exactly once. Both passes localCheckpoint per superstep (constant plan
    * depth, the house iterative-loop rule); σ ≤ maxdeg^H bounds int64
    * safety (H ≤ 4 on any real degree distribution).
    *
    * Returns one (root, id, dist, sigma, g) row per reached node at
    * dist 1..maxHops (the horizon layer carries g = 0: it is never
    * interior within the horizon). */
  def stressCentrality(edges: DataFrame, sources: DataFrame,
                       maxHops: Int, assumeDistinct: Boolean = false): DataFrame = {
    require(maxHops >= 2, s"stress needs at least 2 hops, got $maxHops")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // simple-graph semantics: σ and g COUNT paths, so a repeated (src,dst)
    // pair (one per shared order in co-occurrence expansions) would inflate
    // both — dedup once up front, like pagerankFixedPoint. A caller reading
    // an already-distinct stored layout (Tables.coPurchaseAdjacency) sets
    // assumeDistinct and skips the edge-sized dedup shuffle per call.
    val base = edges.select(col("src"), col("dst"))
    val e = (if (assumeDistinct) base else base.dropDuplicates("src", "dst"))
      .persist(mem)
    var visited = sources.select(col("id").as("root")).distinct()
      .select(col("root"), col("root").as("id"), lit(1L).as("sigma"))
      .localCheckpoint()
    var frontier = visited
    val layers = scala.collection.mutable.Map(0 -> frontier)
    var k = 1
    while (k <= maxHops) {
      val next = e
        .join(frontier.withColumnRenamed("id", "src")
          .withColumnRenamed("sigma", "fsig"), Seq("src"))
        .groupBy(col("root"), col("dst"))
        .agg(sum(col("fsig")).as("sigma"))
        .select(col("root"), col("dst").as("id"), col("sigma"))
        .join(visited.select(col("root"), col("id")),
          Seq("root", "id"), "left_anti")
        .localCheckpoint()
      visited = visited.select(col("root"), col("id"))
        .unionByName(next.select(col("root"), col("id"))).localCheckpoint()
      frontier = next
      layers(k) = frontier
      k += 1
    }
    var g = layers(maxHops).select(col("root"), col("id"), lit(0L).as("g"))
    var out = layers(maxHops).select(col("root"), col("id"),
      lit(maxHops).as("dist"), col("sigma"), lit(0L).as("g"))
    var kk = maxHops
    while (kk >= 1) {
      val contrib = e
        .join(g.select(col("root"), col("id").as("dst"), col("g").as("gd")),
          Seq("dst"))
        .groupBy(col("root"), col("src"))
        .agg(sum(col("gd") + 1L).as("cg"))
        .select(col("root"), col("src").as("id"), col("cg"))
      val lowerG = layers(kk - 1)
        .join(contrib, Seq("root", "id"), "left")
        .na.fill(0L, Seq("cg"))
        .select(col("root"), col("id"), col("sigma"), col("cg").as("g"))
        .localCheckpoint()
      if (kk - 1 >= 1)
        out = out.unionByName(lowerG.select(col("root"), col("id"),
          lit(kk - 1).as("dist"), col("sigma"), col("g")))
      g = lowerG.select(col("root"), col("id"), col("g"))
      kk -= 1
    }
    // Safe to release e without re-materializing: `out` is a union of
    // relations that were each EAGERLY localCheckpoint'ed inside the loops
    // (layers(maxHops) and every lowerG), so its lineage never reaches the
    // persisted edge relation. (An extra localCheckpoint(out) here — the
    // first r10 attempt — re-cached the full per-root reach relation and
    // cost ~2× on the bench line.) Cached blocks no longer accumulate
    // across a long session (r9 ADVICE).
    e.unpersist()
    out
  }
}
