package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge frames — the join+aggregate
  * formulation that scales on Spark: each iteration is one equi-join of
  * the rank frame against the (checkpointed) edge list and one hash
  * aggregation by destination. Nothing driver-side grows with the
  * graph; iteration state is one (node, rank) row per node.
  */
object Graph {

  /** PageRank in FIXED-POINT integer arithmetic: ranks are held in
    * micro-units (1.0 ≡ 1,000,000) and every per-edge contribution is
    * an integer floor-division `rank div outdeg`, so iteration results
    * are exact integers — independent of partitioning, join order, and
    * engine float summation order. That determinism is what lets a
    * DuckDB twin hash-match the distributed run bit-for-bit; the cost
    * is ≤ outdeg micro-units of truncation per node per iteration
    * (≤ 10⁻⁶·outdeg relative), far below any ranking-relevant signal.
    *
    * `edges` must be DIRECTED (src, dst) rows — pass both directions
    * for an undirected graph. Nodes are the set of edge sources (every
    * node of an undirected dup-graph has outdeg ≥ 1, so there are no
    * dangling nodes; the damping mass keeps totals bounded regardless).
    *
    * Scale shape: the edge list checkpoints once, the out-degree fuses
    * onto it as a third column (so NO round ever joins degrees again),
    * and the per-round rank frame — exactly one row per node — moves by
    * whichever transport fits: while the node count fits
    * [[BroadcastMaxNodes]], rounds broadcast the rank/contribution frames
    * against the fused edges (measured fastest on small graphs — a
    * few-hundred-row broadcast build beats a 2-stage shuffle round);
    * past the bound every round's edge⋈rank join carries a shuffle-hash
    * hint on the |nodes|-row side, and all rounds pipeline lazily in
    * one job DAG with no per-round driver collect — the formulation
    * that survives a 100M-node graph.
    *
    * `symmetric = true` is a CALLER CONTRACT, not a detected property:
    * it asserts every node with an out-edge also has an in-edge — true
    * exactly when the caller passes BOTH directions of every edge (an
    * undirected graph doubled into (a,b)+(b,a) rows). Under it the
    * per-round nodes-left-join is the identity and is skipped; passing
    * a non-symmetric edge list with the flag set silently DROPS nodes
    * whose in-degree is 0 from the output. Leave it false unless the
    * edge frame is a both-directions union by construction.
    * Returns (id, rank_micros).
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, dampingMicros: Long = 850000L,
      symmetric: Boolean = false): DataFrame =
    pageRankFixedPoint(edges, srcCol, dstCol, iterations, dampingMicros, symmetric, None)

  /** Edge-input size estimate up to which [[pageRankFixedPoint]] takes
    * the out-degree as a count window; node count up to which it
    * broadcasts degrees and ranks.
    */
  private val WindowSetupMaxBytes: Long = 32L << 20
  private val BroadcastMaxNodes: Long = 10000000L

  /** [[pageRankFixedPoint]]; `large = Some(b)` takes the large-graph
    * setup at any size, with broadcast (b) or shuffle-hash transport.
    */
  private[graft] def pageRankFixedPoint(edges: DataFrame, srcCol: String,
      dstCol: String, iterations: Int, dampingMicros: Long, symmetric: Boolean,
      large: Option[Boolean]): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    require(dampingMicros > 0 && dampingMicros < 1000000L,
      s"dampingMicros out of (0, 1e6): $dampingMicros")
    val sel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Setup dispatch on the optimizer's size estimate of the edge input
    // (driver-side, no job). The regimes and their measured/derived
    // rationale:
    //   - TINY (≤ WindowSetupMaxBytes, a data-bytes bound — not a core
    //     count): out-degree as a count window over src, ONE setup job
    //     and zero broadcast builds. At this size the whole edge list
    //     fits one task's sort buffer trivially, and job-wave latency
    //     dominates — measured: every groupBy+join form pays one extra
    //     blocking job (a broadcast build or degree materialization)
    //     and runs ~1s slower on a 7.7k-row graph, while at ≫ this
    //     bound the window's single-task src sort is exactly the scale
    //     bug to avoid (unbounded-frame windows do no partial
    //     aggregation and buffer each src's edge set in one task). The
    //     edge count its checkpoint observed bounds the node count.
    //   - BIG: out-degree via partial-aggregating groupBy (a hot src
    //     collapses map-side, never buffered), materialized once
    //     (|nodes| rows — the count its checkpoint observed prices the
    //     transport decision), then ONE fused edge checkpoint: degrees
    //     BROADCAST onto the edges while the node count fits
    //     [[BroadcastMaxNodes]] (the edge list is never shuffled in
    //     setup), else a src-keyed
    //     shuffle-hash join (build side = |nodes|-row degrees; the
    //     edge side streams through the probe — no sort, no per-key
    //     buffering). The extra degree job is noise against real work
    //     at this size.
    // Both forms compute the identical (src, dst, od) rows, so every
    // round is bit-same regardless of the regime picked.
    val estBytes = sel.queryExecution.optimizedPlan.stats.sizeInBytes
    val (e, small) = large match {
      case None if estBytes <= WindowSetupMaxBytes =>
        val (f, nEdges) = graft.Util.checkpointCounted(sel.withColumn("od",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
        (f, nEdges <= BroadcastMaxNodes)
      case _ =>
        val (od, n) = graft.Util.checkpointCounted(
          sel.groupBy(col("src")).agg(count(lit(1)).as("od")))
        val bc = large.getOrElse(n <= BroadcastMaxNodes)
        val f = sel.join(if (bc) broadcast(od) else od.hint("shuffle_hash"), Seq("src"))
          .select(col("src"), col("dst"), col("od"))
          .localCheckpoint()
        (f, bc)
    }
    val perNode: DataFrame => DataFrame =
      if (small) broadcast else (df: DataFrame) => df.hint("shuffle_hash")
    // one small materialization, used only by the general path's
    // per-round left join (the symmetric path never touches it)
    lazy val nodes = e.select(col("src")).distinct()
      .select(col("src").as("id")).localCheckpoint()
    val baseMicros = 1000000L - dampingMicros
    // Round 1 unrolled: the initial rank is the CONSTANT 1e6 for every
    // node, so the first contribution pass needs no rank join at all —
    // one aggregation over the fused edge frame replaces a broadcast
    // build + join stage wave (iterative rounds execute as SEQUENTIAL
    // AQE stage waves, so on small graphs each eliminated wave is pure
    // latency off the critical path; the eliminated work is exactly the
    // identity join, so results are bit-identical).
    def ranksOf(contrib: DataFrame): DataFrame =
      // `symmetric = true` asserts every node has an in-edge (callers
      // passing both directions of an undirected graph): contrib then
      // covers every node and the nodes-left-join is the identity —
      // skipping it drops one more broadcast+join wave per round,
      // bit-identically (coalesce(c, 0) never fires on such graphs).
      if (symmetric) contrib
        .select(col("dst").as("id"),
          (lit(baseMicros) +
            expr(s"($dampingMicros * c) div 1000000")).as("r"))
      else nodes
        .join(perNode(contrib.withColumnRenamed("dst", "id")),
          Seq("id"), "left")
        .select(col("id"),
          (lit(baseMicros) +
            expr(s"($dampingMicros * coalesce(c, 0L)) div 1000000")).as("r"))
    var ranks = ranksOf(e
      .select(col("dst"), expr("1000000 div od").as("ct"))
      .groupBy(col("dst")).agg(sum(col("ct")).as("c")))
    (2 to iterations).foreach { _ =>
      val contrib = e
        .join(perNode(ranks), e("src") === ranks("id"))
        .select(col("dst"), expr("r div od").as("ct"))
        .groupBy(col("dst")).agg(sum(col("ct")).as("c"))
      ranks = ranksOf(contrib)
    }
    ranks.select(col("id"), col("r").as("rank_micros"))
  }

  /** Synchronous label propagation for community detection over an
    * UNDIRECTED graph given as canonical (a, b) pairs — the lightweight
    * community pass that groups near-duplicate families beyond direct
    * connectivity. Every node starts as its own label; each round every
    * node adopts the most frequent label among its neighbors, ties
    * broken to the SMALLEST label id — so each round is a pure function
    * of the previous one (no random visit order, no partition
    * sensitivity: the result is reproducible across runs and cluster
    * layouts, unlike classic asynchronous LPA). Fixed `iterations`
    * rounds; synchronous LPA can 2-cycle on bipartite structures, which
    * a fixed round count simply truncates.
    *
    * Scale shape: the doubled edge list is hash-partitioned by `dst`
    * ONCE and checkpointed (the partitioning survives the checkpoint),
    * so every round's edge⋈label equi-join reuses that layout and only
    * the one-row-per-node label frame moves — a |nodes|-row shuffle per
    * round, never the edges. The label side carries a shuffle-hash
    * hint: labels ≪ edges by construction, and the hint keeps the big
    * side build-free. Each round is that join plus a (node, label)
    * count and an argmax — state never exceeds one row per node, and
    * all rounds pipeline lazily in one job DAG (measured: the previous
    * broadcast-per-round formulation paid a driver-blocking broadcast
    * build every round and ran ~20% slower even on a tiny graph; at
    * scale it would also collect |nodes| to the driver per round —
    * strictly worse. A deterministic-`mode` single aggregation loses
    * codegen (ObjectHashAggregate) and benches slower still).
    *
    * `packLabels = true` (requires non-negative integral ids < 2²²,
    * guarded fail-loud like [[adamicAdar]]'s packIds) encodes each
    * round's argmax candidate (n, label) into ONE long —
    * `n·2²² + (2²²−1−label)` is order-isomorphic to the (n asc,
    * label desc) struct ordering, so `max` picks the identical winner —
    * turning the per-round adoption aggregate from a struct `max`
    * (which falls back to sort-based aggregation: two extra Sorts and
    * two SortAggregates per round in the measured plan) into a
    * primitive long `max` that stays in whole-stage-codegen'd
    * HashAggregates with proper map-side partial aggregation.
    * Returns (id, community).
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iterations: Int = 5, checkpointEvery: Int = 4,
      packLabels: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be positive: $checkpointEvery")
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    var labels = und.select(col("src")).distinct()
      .select(col("src").as("id"), col("src").as("lbl"))
    (1 to iterations).foreach { i =>
      // Round 1 unrolled: the initial labeling is the identity (every
      // node labels itself), so joining the edge list against it just
      // renames dst → lbl — skip the join and its stage wave outright;
      // the doubled edge list's dst domain equals its src domain, so no
      // row gains or loses a label. Bit-identical, one fewer sequential
      // shuffle+join wave on the critical path.
      val neighborLabels =
        if (i == 1) und.select(col("src"), col("dst").as("lbl"))
        else und
          .join(labels.hint("shuffle_hash"), und("dst") === labels("id"))
          .select(col("src"), col("lbl"))
      val counted = neighborLabels
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("n"))
      val adopted =
        if (packLabels) counted
          .groupBy(col("src"))
          // n·2²² + (2²²−1−lbl): max ⇔ (highest n, then smallest lbl).
          // n ≤ degree < 2⁴¹ keeps the product far inside a long.
          .agg(max(col("n") * lit(4194304L) +
            (lit(4194303L) - col("lbl"))).as("enc"))
          .select(col("src").as("id"),
            (lit(4194303L) - pmod(col("enc"), lit(4194304L))).as("lbl"))
        else counted
          .groupBy(col("src"))
          .agg(max(struct(col("n"), (-col("lbl")).as("neg"))).as("best"))
          .select(col("src").as("id"), (-col("best.neg")).as("lbl"))
      // Library contract: `iterations` is caller-chosen, and each round
      // composes lazily on the previous — without a periodic cut a
      // 50-round call plans a 50-deep tree with quadratic analyzer cost.
      // Materializing every k rounds keeps planning O(k)-deep at the
      // cost of one |nodes|-row materialization per cut; the final
      // round stays lazy so a caller's downstream projection fuses.
      labels =
        if (i % checkpointEvery == 0 && i < iterations) adopted.localCheckpoint()
        else adopted
    }
    val out = labels.select(col("id"), col("lbl").as("community"))
    if (!packLabels) out
    else {
      // fail-loud domain guard (the adamicAdar packIds pattern): an id
      // ≥ 2²² would silently decode to the wrong label. A 1-row min/max
      // bounds fold over the checkpointed doubled edge list rides the
      // final job as a scalar-subquery filter — always true on valid
      // domains, raise_error otherwise; no join, no per-row work.
      out.where(und.agg(expr(
        """CASE WHEN min(src) IS NULL OR
          |  (min(CAST(src AS BIGINT)) >= 0 AND
          |   max(CAST(src AS BIGINT)) < 4194304)
          |  THEN 1
          |  ELSE raise_error(concat(
          |    'labelPropagation(packLabels = true) requires 0 <= id < 2^22',
          |    ' (saw id range [', min(CAST(src AS BIGINT)), ', ',
          |    max(CAST(src AS BIGINT)),
          |    ']); pass packLabels = false for wider id domains'))
          |  END""".stripMargin)).scalar() === 1)
    }
  }

  /** [[pageRankFixedPoint]] for an UNDIRECTED graph given as canonical
    * (a < b) edge rows, with the same fixed-point integer semantics —
    * but iterated on the TRUE-TWIN QUOTIENT. Twins (identical closed
    * neighborhoods — duplicate groups) have equal degree and, by
    * induction, equal rank at every iteration: they start equal and
    * their neighbor multisets differ only by swapping equal-ranked
    * members. So the node-level recurrence collapses exactly onto
    * classes:
    *
    *   od_A  = (m_A − 1) + Σ_{B~A} m_B
    *   f_X   = r_X div od_X                     (floored ONCE per class,
    *                                             as every member floors)
    *   r_A'  = base + d·((m_A−1)·f_A + Σ_{B~A} m_B·f_B) div 10⁶
    *
    * — bit-identical to iterating every node, while each round touches
    * |quotient| rows instead of the full edge list (a dup-corpus clique
    * is ONE row here). Expansion back to nodes is a map join. Returns
    * (id, rank_micros) for every node in an edge.
    *
    * When to use which: twin detection costs ~one node-level iteration
    * (it shuffles the closed-neighbor arrays, Σdeg ids). It pays for
    * itself on exact-dup-dominated graphs (high-τ near-dup sets collapse
    * 2×+ and iteration becomes ~free) and LOSES on loose graphs where
    * classes ≈ nodes — q133's τ = 0.8 graph keeps the node-level
    * [[pageRankFixedPoint]] for exactly that reason.
    */
  def pageRankUndirected(edges: DataFrame, aCol: String, bCol: String,
      iterations: Int = 3, dampingMicros: Long = 850000L): DataFrame = {
    require(iterations >= 1, s"iterations must be positive: $iterations")
    require(dampingMicros > 0 && dampingMicros < 1000000L,
      s"dampingMicros out of (0, 1e6): $dampingMicros")
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint()
    val (n2c, qsz, qe, _) = twinQuotient(e)
    val qdir = qe.select(col("qa").as("cid"), col("qb").as("nbr"))
      .unionAll(qe.select(col("qb").as("cid"), col("qa").as("nbr")))
      .localCheckpoint()
    // class degree: in-class twins + all members of adjacent classes
    val qdeg = qsz
      .join(qdir.join(qsz.select(col("cid").as("nbr"), col("m").as("mn")), "nbr")
          .groupBy(col("cid")).agg(sum(col("mn")).as("ext")),
        Seq("cid"), "left")
      .select(col("cid"), col("m"),
        (col("m") - 1 + coalesce(col("ext"), lit(0L))).as("od"))
      .localCheckpoint()
    val baseMicros = 1000000L - dampingMicros
    var ranks = qdeg.select(col("cid"), lit(1000000L).as("r"))
    (1 to iterations).foreach { _ =>
      val f = ranks.join(broadcast(qdeg), "cid")
        .select(col("cid"), col("m"), expr("r div od").as("f"))
      val ext = qdir
        .join(broadcast(f.select(col("cid").as("nbr"), col("m").as("mn"),
          col("f").as("fn"))), "nbr")
        .groupBy(col("cid")).agg(sum(col("mn") * col("fn")).as("c"))
      ranks = f.join(broadcast(ext), Seq("cid"), "left")
        .select(col("cid"), expr(
          s"$baseMicros + ($dampingMicros * ((m - 1) * f + coalesce(c, 0L))) div 1000000")
          .as("r"))
    }
    ranks.join(n2c, "cid")
      .select(col("v").as("id"), col("r").as("rank_micros"))
  }

  /** True-twin quotient of an undirected graph given as canonical
    * (a < b) edge rows: nodes with identical CLOSED neighborhoods —
    * provably pairwise adjacent with identical external edges, the exact
    * structure duplicate groups produce — collapse into one class.
    * Returns (node → class map, class sizes, canonical deduped quotient
    * edges), each localCheckpoint'd, and the quotient edge count that
    * its checkpoint observed. Detection groups on the literal
    * sorted neighbor array (exact, no hash-collision risk); total
    * shuffled volume is Σdeg = 2|E|, linear in the edge list.
    */
  private def twinQuotient(e: DataFrame): (DataFrame, DataFrame, DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val und = e.select(col("a").as("v"), col("b").as("w"))
      .unionAll(e.select(col("b").as("v"), col("a").as("w")))
    val closed = und.groupBy(col("v"))
      .agg(sort_array(array_union(collect_list(col("w")), array(col("v"))))
        .as("nb"))
    // class id = smallest member; one shuffle keyed by the array itself
    val n2c = closed
      .select(col("v"), min(col("v")).over(Window.partitionBy(col("nb")))
        .as("cid"))
      .localCheckpoint()
    // class sizes and quotient edges both derive from the materialized
    // class map and are independent of each other — materialize the two
    // concurrently (bounded jobPool leaves) instead of as two
    // sequential jobs. (Measured this round: leaving qsz lazy instead
    // re-derives its agg once per consumer reference inside the final
    // job and benches ~30% WORSE on the topology card — the
    // materialization is off the critical path here, the recomputes
    // are not.)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = graft.Util.jobPool
    val fQsz = Future(n2c.groupBy(col("cid")).agg(count(lit(1)).as("m"))
      .localCheckpoint())
    val fQe = Future(graft.Util.checkpointCounted(e
      .join(n2c.select(col("v").as("a"), col("cid").as("ca")), "a")
      .join(n2c.select(col("v").as("b"), col("cid").as("cb")), "b")
      .filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("qa"),
        greatest(col("ca"), col("cb")).as("qb"))
      .distinct()))
    val (qe, nQe) = Await.result(fQe, Duration.Inf)
    (n2c, Await.result(fQsz, Duration.Inf), qe, nQe)
  }

  /** Per-node triangle counts over an UNDIRECTED graph given as
    * canonical (a < b) edge rows — the local clustering signal that
    * separates "sits inside a duplication clique" from "bridges two
    * clusters" (a keep-one-per-cluster policy wants the former as
    * canonical, the latter inspected).
    *
    * Algorithm: the compact-forward / oriented enumeration — each
    * triangle {x < y < z} is found EXACTLY once as the edge pair
    * (x,y), (y,z) closed by (x,z), i.e. two hash equi-joins of the edge
    * list against itself, no direction double-count, no division by 6.
    * The a < b orientation is also the classic skew bound: a node's
    * join fan-out is its FORWARD degree only, so a k-clique costs
    * C(k,3) triangle rows (the true output) without any node exploding
    * to degree² candidate pairs in both directions.
    *
    * A dup graph is mostly CLIQUES of interchangeable documents, and a
    * k-clique costs the plain enumeration k³/6 wedge rows — the volume
    * that k-cubed a 100 TB corpus's triangle pass. This implementation
    * first collapses TRUE TWINS (nodes with identical closed
    * neighborhoods — provably pairwise adjacent with identical external
    * edges, the exact structure duplicate groups produce) into quotient
    * super-nodes with multiplicity m, runs the oriented enumeration on
    * the quotient only, and expands counts combinatorially:
    *
    *   t(v ∈ A) = C(m_A−1, 2)                        (two other twins)
    *            + Σ_{B ~ A} (m_A−1)·m_B + C(m_B, 2)  (one/two from B)
    *            + Σ_{B<C, A~B~C~A} m_B·m_C           (quotient triangles)
    *
    * A class is detected by grouping on the literal sorted closed
    * neighbor array — exact, no hash-collision risk; total shuffled
    * volume is Σdeg = 2|E|, LINEAR in the edge list. On a twin-free
    * graph every m = 1 and the algorithm degrades to exactly the
    * oriented enumeration (x < y < z found once as the edge pair
    * (x,y),(y,z) closed by (x,z)); on a clique-heavy graph each clique
    * contracts to ONE quotient node and the cubic wedge volume
    * disappears. Quotient self-joins broadcast their build sides while
    * the quotient edge list fits ([[BroadcastMaxEdges]], checked against
    * the count its checkpoint observed; the checkpoint keeps the three
    * plan references from re-deriving it). Returns (id, n_triangles) for
    * nodes in ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    triangleCounts(edges, aCol, bCol, None)

  /** [[triangleCounts]]; `broadcastQuotient = Some(b)` fixes whether the
    * quotient self-joins broadcast.
    */
  private[graft] def triangleCounts(edges: DataFrame, aCol: String, bCol: String,
      broadcastQuotient: Option[Boolean]): DataFrame =
    materializedTriangleCounts(
      edges.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint(), broadcastQuotient)

  private val BroadcastMaxEdges: Long = 8000000L

  /** [[triangleCounts]] of an already materialized (a, b) edge frame. */
  private def materializedTriangleCounts(e: DataFrame,
      broadcastQuotient: Option[Boolean] = None): DataFrame = {
    val (n2c, qsz, qe, nQe) = twinQuotient(e)
    val qszB = broadcast(qsz)
    // within-class triangles: C(m-1, 2) per member
    val t1 = qsz.select(col("cid"),
      expr("((m - 1) * (m - 2)) div 2").as("t"))
    // one adjacent class B: (m_A - 1)·m_B pairs with another twin, plus
    // C(m_B, 2) pairs inside B (every class is internally a clique)
    val qdir = qe.select(col("qa").as("x"), col("qb").as("y"))
      .unionAll(qe.select(col("qb").as("x"), col("qa").as("y")))
    val t2 = qdir
      .join(qszB.select(col("cid").as("x"), col("m").as("mx")), "x")
      .join(qszB.select(col("cid").as("y"), col("m").as("my")), "y")
      .groupBy(col("x").as("cid"))
      .agg(sum((col("mx") - 1) * col("my") +
        expr("(my * (my - 1)) div 2")).as("t"))
    // quotient triangles: oriented enumeration, weighted by the two
    // OTHER classes' multiplicities
    val qeb = if (broadcastQuotient.getOrElse(nQe <= BroadcastMaxEdges)) broadcast(qe) else qe
    val qtri = qe.as("e1")
      .join(qeb.as("e2"), col("e1.qb") === col("e2.qa"))
      .join(qeb.as("e3"),
        col("e3.qa") === col("e1.qa") && col("e3.qb") === col("e2.qb"))
      .select(col("e1.qa").as("x"), col("e1.qb").as("y"), col("e2.qb").as("z"))
      .join(qszB.select(col("cid").as("x"), col("m").as("mx")), "x")
      .join(qszB.select(col("cid").as("y"), col("m").as("my")), "y")
      .join(qszB.select(col("cid").as("z"), col("m").as("mz")), "z")
    val t3 = qtri
      .select(explode(array(
        struct(col("x").as("cid"), (col("my") * col("mz")).as("w")),
        struct(col("y").as("cid"), (col("mx") * col("mz")).as("w")),
        struct(col("z").as("cid"), (col("mx") * col("my")).as("w"))))
        .as("c"))
      .groupBy(col("c.cid").as("cid")).agg(sum(col("c.w")).as("t"))
    val perClass = t1.unionAll(t2).unionAll(t3)
      .groupBy(col("cid")).agg(sum(col("t")).as("n_triangles"))
      .filter(col("n_triangles") > 0)
    perClass.join(n2c, "cid")
      .select(col("v").as("id"), col("n_triangles"))
  }

  /** One-row structural summary of an undirected graph (`pairs` =
    * unique a<b edges): node/edge counts, degree moments, wedges,
    * once-counted triangles (via the twin-collapse [[triangleCounts]] —
    * linear edge volume on clique-heavy graphs), global clustering and
    * Newman degree assortativity. All moments are exact integers in
    * overflow-safe decimals; the card never collects an edge list.
    * Columns: n_nodes, n_edges, max_degree, avg_degree, n_wedges,
    * n_triangles, clustering, assortativity.
    */
  def topologyCard(pairs0: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pairs = pairs0.select(col(aCol).as("id_a"), col(bCol).as("id_b"))
      .localCheckpoint()
    val e = pairs.unionAll(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val degAgg = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(col("d")).as("s1"),
      // endpoint moments: the directed edge list carries each node d
      // times, so Σ_edges deg = Σ_nodes d² and Σ_edges deg² = Σ_nodes d³
      sum(col("d").cast(dec) * col("d").cast(dec)).as("s1e"),
      sum(col("d").cast(dec) * col("d").cast(dec) * col("d").cast(dec)).as("sx2e"),
      max(col("d")).as("max_degree"),
      sum(col("d") * (col("d") - 1)).as("wedges2"))
    val xyAgg = e.join(deg.withColumnRenamed("id", "src")
          .withColumnRenamed("d", "d_src"), Seq("src"))
      .join(deg.withColumnRenamed("id", "dst")
          .withColumnRenamed("d", "d_dst"), Seq("dst"))
      .agg(sum(col("d_src").cast(dec) * col("d_dst").cast(dec)).as("sxy"),
        count(lit(1)).as("m2"))
    val triAgg = materializedTriangleCounts(pairs.toDF("a", "b"))
      .agg((sum(col("n_triangles")) / 3).cast("long").as("n_triangles"))
      .select(coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
    val num = (col("m2").cast(dec) * col("sxy")) - (col("s1e") * col("s1e"))
    val den = (col("m2").cast(dec) * col("sx2e")) - (col("s1e") * col("s1e"))
    degAgg.crossJoin(triAgg).crossJoin(xyAgg)
      .select(
        col("n_nodes"), expr("m2 div 2").as("n_edges"), col("max_degree"),
        round(col("s1").cast("double") / col("n_nodes"), 6).as("avg_degree"),
        expr("wedges2 div 2").as("n_wedges"),
        col("n_triangles"),
        when(col("wedges2") > 0,
          round(col("n_triangles") * 6.0 / col("wedges2"), 6)).as("clustering"),
        when(den =!= 0,
          round(num.cast("double") / den.cast("double"), 6)).as("assortativity"))
  }

  /** Fixed-round onion peel toward the `minDegree`-core: each round
    * drops nodes of degree < `minDegree` and reports per-layer
    * node/edge counts. One degree aggregation per round serves both the
    * layer stats and the cut; the edge list shrinks monotonically and
    * is checkpointed per round against lineage blowup. The round count
    * is FIXED so the distributed result is a pure function of the data
    * (oracle-replayable as unrolled CTEs). Columns: iteration, n_nodes,
    * n_edges.
    */
  def onionPeel(pairs: DataFrame, aCol: String, bCol: String,
      minDegree: Int = 2, rounds: Int = 4): DataFrame = {
    var e = pairs.select(col(aCol).as("id_a"), col(bCol).as("id_b"))
      .localCheckpoint()
    var out: DataFrame = null
    for (i <- 0 to rounds) {
      val deg = e.select(col("id_a").as("id"))
        .unionAll(e.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d")).localCheckpoint()
      val stats = deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .select(lit(i.toLong).as("iteration"), col("n_nodes"), col("n_edges"))
      out = if (out == null) stats else out.unionByName(stats)
      if (i < rounds) {
        val keep = deg.filter(col("d") >= minDegree).select(col("id"))
        e = e.join(keep.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
          .join(keep.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
          .localCheckpoint()
      }
    }
    out.orderBy(col("iteration"))
  }

  /** Adamic–Adar link prediction over a bipartite MEMBERSHIP frame
    * (entity, item): score(a,b) = Σ over shared items of 1/ln(deg item),
    * the classic "rare shared neighbors count more" co-membership
    * signal. The per-item weight is snapped to an integer 1e-6 grid
    * (`round(1e6/ln(deg))` as a long) BEFORE the pair fold, so the pair
    * score is an exact integer sum — summation-order independent, hence
    * hash-stable across engines and partitionings. Scale guards: items
    * above `maxItemDegree` are dropped before the self-join (a hot item
    * contributes deg² candidate pairs but ~0 weight each — the same
    * hot-bucket cap as the LSH path), and the join is bucketed on the
    * item key, never all-pairs. Output: id_a < id_b, n_shared,
    * score_e6 (long), score (double, 1e-6 grid).
    *
    * `packIds = true` (requires non-negative integral ids < 2²²) folds
    * the pair key into ONE long before the aggregation — the pair fold
    * is the wide stage (per-item deg² rows into |pairs| groups, where
    * map-side partial aggregation barely reduces), so halving the
    * grouping-key width measurably cuts its shuffle.
    */
  def adamicAdar(membership: DataFrame, idCol: String, itemCol: String,
      maxItemDegree: Int = 1000, packIds: Boolean = false): DataFrame = {
    // ONE item-keyed exchange feeds everything downstream (§2.4):
    // after the dedup shuffle, an explicit repartition(item) is the
    // shared layout that (a) the degree folds on as a count window over
    // item, with no further exchange and no join to attach it (an
    // aggregate-then-join fold let the optimizer drop the repartition
    // under the aggregate, so the fold scanned and shuffled the
    // membership a second time), and (b) BOTH sides of the pair
    // self-join consume via ReuseExchange — so the membership is never
    // re-shuffled for the join. The exchange itself is the reuse point;
    // no eager materialization job. The window buffers each item's
    // members (spillable); everything past the degree fold is bounded
    // by `maxItemDegree`.
    val m = membership
      .select(col(idCol).as("id"), col(itemCol).as("item")).distinct()
      .repartition(col("item"))
    // a null item pairs with nothing; dropping it here also gives the
    // guard subquery below the pair join's exchange, so it reuses it
    val mw = m.filter(col("item").isNotNull)
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("item"))))
      .filter(col("deg") >= 2 && col("deg") <= maxItemDegree)
      .withColumn("w_e6", round(lit(1e6) / log(col("deg"))).cast("long"))
    val joined = mw.select(col("item"), col("id").as("id_a"), col("w_e6"))
      .join(mw.select(col("item"), col("id").as("id_b")).hint("shuffle_hash"),
        Seq("item"))
      .filter(col("id_a") < col("id_b"))
    val agg =
      if (packIds) {
        // fail-loud domain guard: an id >= 2^22 would silently corrupt
        // the packed pair key (wrong pairs, no error). A 1-row bounds
        // fold over the weighted membership — mw holds exactly
        // the ids that get packed (ids whose every item fell to the
        // degree cap never reach the pack), and its subquery re-read
        // rides the same reused item exchange — rides the final job as a
        // `Dataset.scalar()` subquery filter: the subquery executes
        // independently of the pair fold inside the same job,
        // so the guard costs no separate blocking job, no join node
        // (the q280 plan lock forbids nested-loop shapes), and — unlike
        // the earlier per-row assert_true, which measured ~3x slower
        // end-to-end — zero work in the hot dedup/join path. The filter
        // is always true on valid domains; raise_error fires otherwise.
        val guard = mw.agg(expr(
          """CASE WHEN min(id) IS NULL OR
            |  (min(CAST(id AS BIGINT)) >= 0 AND
            |   max(CAST(id AS BIGINT)) < 4194304)
            |  THEN 1
            |  ELSE raise_error(concat(
            |    'adamicAdar(packIds = true) requires 0 <= id < 2^22',
            |    ' (saw id range [', min(CAST(id AS BIGINT)), ', ',
            |    max(CAST(id AS BIGINT)),
            |    ']); pass packIds = false for wider id domains'))
            |  END""".stripMargin)).scalar()
        joined
          .select((col("id_a").cast("long") * 4194304L +
            col("id_b").cast("long")).as("pk"), col("w_e6"))
          .groupBy(col("pk"))
          .agg(count(lit(1)).as("n_shared"), sum(col("w_e6")).as("score_e6"))
          .where(guard === 1)
          .select((col("pk") / 4194304L).cast("long").as("id_a"),
            pmod(col("pk"), lit(4194304L)).as("id_b"),
            col("n_shared"), col("score_e6"))
      } else joined.groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"), sum(col("w_e6")).as("score_e6"))
    agg.withColumn("score", col("score_e6").cast("double") / 1e6)
  }

  /** Newman modularity of a NODE PARTITION (`labels`: one label per
    * node id) over an undirected edge list: Q = [4m·Σ_c m_c − Σ_c d_c²]
    * / (4m²) — all integers until one division, community folds bounded
    * by |labels|. Columns: n_edges, n_intra_edges, n_communities,
    * intra_share, modularity.
    */
  def partitionModularity(pairs: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val lab = labels.select(col(idCol).as("id"), col(labelCol).as("lab"))
    val withLab = pairs
      .select(col(aCol).as("id_a"), col(bCol).as("id_b"))
      .join(lab.select(col("id").as("id_a"), col("lab").as("lab_a")), "id_a")
      .join(lab.select(col("id").as("id_b"), col("lab").as("lab_b")), "id_b")
    val m = withLab.agg(count(lit(1)).as("m"),
      sum(when(col("lab_a") === col("lab_b"), 1L).otherwise(0L)).as("m_intra"))
    val degByLab = withLab
      .select(col("lab_a").as("l")).unionAll(withLab.select(col("lab_b").as("l")))
      .groupBy(col("l")).agg(count(lit(1)).as("d_c"))
    val sums = degByLab.agg(count(lit(1)).as("n_communities"),
      sum(col("d_c").cast(dec) * col("d_c").cast(dec)).as("sum_dc2"))
    m.crossJoin(sums)
      .select(col("m").as("n_edges"), col("m_intra").as("n_intra_edges"),
        col("n_communities"),
        round(col("m_intra").cast("double") / col("m"), 6).as("intra_share"),
        round((col("m").cast(dec) * col("m_intra") * 4 - col("sum_dc2"))
          .cast("double") /
          (col("m").cast(dec) * col("m").cast(dec) * 4).cast("double"), 6)
          .as("modularity"))
  }
}
