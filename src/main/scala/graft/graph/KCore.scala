package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Converge.SanitizedCheckpoint

/** Coreness (k-core decomposition) via iterated neighborhood
  * h-indices — the distributed-friendly formulation of Lü et al.,
  * "The H-index of a network node and its relation to degree and
  * coreness" (Nature Communications 7:10168, 2016): start every node
  * at its degree and repeatedly replace each node's value with the
  * h-index of its neighbors' current values (the largest h such that
  * at least h neighbors have value ≥ h). The sequence is
  * non-increasing and converges exactly to the node's coreness.
  *
  * Why this shape and not sequential peeling: the textbook k-core
  * peel (repeatedly delete min-degree nodes) is inherently
  * sequential — each deletion changes the next decision — while the
  * h-index iteration is a pure per-node recomputation from neighbor
  * state, i.e. one equi-join plus one per-node aggregation per round,
  * exactly the PageRank communication pattern. All arithmetic is
  * integer, so a fixed round count is bit-reproducible across
  * engines and partitionings (the DuckDB oracle unrolls the same
  * rounds).
  *
  * Scale design: per round, the value table (one row per node) joins
  * the symmetrized edge table on the neighbor key and the h-index is
  * computed as a bucketed count-above-threshold aggregation (see
  * [[hIndex]]) — state is O(nodes); the per-round exchange carries
  * one map-combined row per (node, distinct neighbor value), never
  * one per edge, and the only sort is over those buckets. A hub
  * node concentrates its neighbor rows in one partition (same skew
  * profile as any per-node neighborhood aggregate); the h-index
  * itself is capped by degree, so values only shrink. Rounds are
  * capped at a small constant with a signature-confirmed early stop:
  * a round is a pure function of the value table, so an unchanged
  * table ends the loop with output identical to the full unroll
  * (h-index convergence is fast in practice — diameter-bounded, a
  * handful of rounds on social graphs). Plan depth is bounded by
  * localCheckpoint per round (same discipline as LabelProp/Dedup
  * iteration), with the signature riding the checkpoint's own job.
  */
object KCore {

  /** Iterated-h-index coreness estimate after `rounds` rounds over an
    * undirected edge list (self-loops dropped, duplicate/reversed
    * edges collapsed). Round 0 is the degree; each further round
    * applies the neighborhood h-index once. Values are exact
    * integers: after enough rounds the value IS the coreness, and at
    * any fixed round count the output is deterministic and
    * engine-reproducible.
    *
    * @return (node_id, coreness) for every node incident to ≥1 edge
    */
  def corenessHIndex(edges: DataFrame, srcCol: String, dstCol: String,
                     rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val sym = prepSym(edges, srcCol, dstCol)
    val out = iterate(sym,
      sym.groupBy(col("n")).agg(count(lit(1)).as("val")), rounds)
    sym.unpersist()
    out
  }

  /** WARM-START coreness — resume the h-index iteration from a SAVED
    * decomposition after an edge batch: the core family's member of
    * the saved-index repair matrix (insert AND delete in one
    * operator, like PageRank's resume).
    *
    * Soundness is the MONOTONE-SANDWICH argument, documented here
    * because it is what makes one warm start cover both directions:
    * the neighborhood-h-index map H is componentwise monotone
    * (x ≤ y ⇒ H(x) ≤ H(y)), coreness is its fixed point (Lü et al.
    * Thm 1), and the cold iteration H^t(deg) descends to coreness.
    * Any start x with core(G') ≤ x ≤ deg(G') is therefore squeezed:
    * core = H^t(core) ≤ H^t(x) ≤ H^t(deg) → core, so the warm
    * iteration converges to the EXACT same decomposition. The start
    * used is x = min(deg'(n), saved(n) + slack):
    *   - deg' is always an upper bound of new coreness;
    *   - inserting one edge raises any node's coreness by AT MOST 1
    *     (the classic maintenance theorem), so after a batch of b
    *     inserts, saved + b ≥ core_old + b ≥ core_new — pass
    *     `slack` = the batch's edge count (an any-round h-index
    *     artifact works: every round's value is ≥ coreness);
    *   - deleting edges only LOWERS coreness, so a delete batch
    *     resumes with `slack` = 0.
    * Nodes absent from `savedCoreness` (introduced by the batch)
    * start cold at their degree.
    *
    * The gate contract is TRAJECTORY-exact like pageRankResume: a
    * fixed `rounds` from the staged artifact is replayed verbatim by
    * the unrolled oracle; the equivalence to the cold decomposition
    * at convergence is the spec-proven sandwich above. Warm value:
    * the start is already ≈coreness everywhere the batch didn't
    * touch, so rounds-to-converge tracks the PERTURBATION, not the
    * graph's h-index depth.
    *
    * @param savedCoreness (node_id, coreness) from a prior
    *                      [[corenessHIndex]]/[[corenessResume]] run
    * @param slack         upper bound on coreness GROWTH since the
    *                      artifact: # inserted edges (0 for deletes) */
  def corenessResume(edges: DataFrame, srcCol: String, dstCol: String,
                     savedCoreness: DataFrame, slack: Long,
                     rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(slack >= 0, s"slack must be >= 0, got $slack")
    val sym = prepSym(edges, srcCol, dstCol)
    val deg = sym.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val v0 = deg
      .join(savedCoreness.select(col("node_id").as("n"), col("coreness")),
        Seq("n"), "left")
      .select(col("n"),
        least(col("deg"), coalesce(col("coreness") + slack, col("deg")))
          .as("val"))
    val out = iterate(sym, v0, rounds)
    sym.unpersist()
    out
  }

  /** TRICKLE-batch coreness repair — the named upgrade path past the
    * sandwich resume (BASELINE r17): [[corenessResume]]'s slack is
    * necessarily GLOBAL (per-node tightenings are provably false —
    * the K4-minus-edge insert raises NON-incident coreness), so for
    * any batch the warm start lifts EVERY node by b and the first
    * round touches the whole graph — warm ≈ cold beyond a few edges.
    * This operator instead bounds the WORK to a certified REGION:
    *
    *  1. REGION CLOSURE (the Sarıyüce-style subcore generalized to a
    *     batch): changed coreness propagates only along
    *     threshold-crossing neighbors. If x's coreness rises at some
    *     step, a neighbor y crossed the (core_step(x)+1) threshold:
    *     its pre-crossing value was ≤ core_step(x) and its
    *     post-crossing value ≥ core_step(x)+1. Every intermediate
    *     value sits within [saved, saved + b] (b single-edge
    *     inserts, +1 each) and core_step(x) ∈ [saved(x),
    *     saved(x) + b], so the crossing neighbor's SAVED value obeys
    *     the two-sided band saved(x) + 1 − b ≤ saved(y) ≤
    *     saved(x) + b — the b = 1 case is exactly the classic
    *     subcore's equal-coreness walk. Deletes mirror (values drift
    *     down by ≤ b; same band). The closure of the batch endpoints
    *     under |saved(y) − saved(x)| ≤ b therefore contains every
    *     node whose coreness can change — grown here by frontier
    *     expansion, one semi-join per hop. The band is what keeps
    *     the region subcore-sized: without the lower side, a
    *     low-coreness endpoint would pull in its whole component.
    *  2. PINNED-BOUNDARY ITERATION: nodes outside the region hold
    *     their saved coreness; region nodes start at the sandwich
    *     init min(deg′, saved + slack) and iterate the h-index map
    *     restricted to the region. Frozen-coordinate squeeze: with
    *     R ⊇ {changed}, outside values equal the true new coreness,
    *     so core = H_R^t(core) ≤ H_R^t(v0) ≤ H^t(deg′) → core — the
    *     restricted trajectory is sandwiched by the cold one and
    *     converges to the EXACT decomposition.
    *
    * Per-round cost is the region's incident edges, not the graph —
    * the trickle win. The artifact must be CONVERGED coreness (the
    * ssspSavedDistances contract): the pinned boundary is only exact
    * if saved IS the old fixed point. Insert-only or delete-only
    * batches (`slack` > 0 selects the insert rule; 0 the delete
    * rule with deletedEndpoints seeded too).
    *
    * @param batchEndpoints 1-column frame of the batch edges' (new
    *                       graph) endpoint nodes, both directions'
    *                       deleted endpoints for a delete batch
    * @param slack          # batch edges for inserts; 0 for deletes
    * @param deleteSlack    # batch edges for deletes (the region
    *                       rule's drift bound; ignored for inserts) */
  /** Region-closure BFS hops chained lazily into one checkpointed
    * job (r19): each sub-hop is a frontier semi-join + band filter +
    * full_outer merge over frames bounded by the (small, by the
    * trickle contract) region, so the block's plan stays cheap while
    * the per-hop scheduler/checkpoint overhead — measured as the
    * gate's dominant cost at sf0.1 — is paid once per block. */
  private val ClosureHopsPerJob = 8

  def corenessTrickle(edges: DataFrame, srcCol: String, dstCol: String,
                      savedCoreness: DataFrame, batchEndpoints: DataFrame,
                      slack: Long, rounds: Int, expandRounds: Int,
                      deleteSlack: Long = 0L): DataFrame = {
    require(rounds >= 0 && expandRounds >= 1,
      s"need rounds >= 0 and expandRounds >= 1: $rounds, $expandRounds")
    require(slack >= 0 && deleteSlack >= 0,
      s"slacks must be >= 0: $slack, $deleteSlack")
    val sym = prepSym(edges, srcCol, dstCol)
    val deg = sym.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // saved* — batch-new nodes (absent from the artifact) carry 0:
    // they "rose from nothing", so every neighbor passes the insert
    // rule against them, which is exactly the soundness we need
    val savedStar = deg
      .join(savedCoreness.select(col("node_id").as("n"), col("coreness")),
        Seq("n"), "left")
      .select(col("n"), col("deg"),
        coalesce(col("coreness"), lit(0L)).as("sv"))
      .persist()
    savedStar.count()
    val drift = if (slack > 0) slack else deleteSlack
    // region closure under the crossing rule. The crossing rule is a
    // STATIC, SYMMETRIC edge predicate over saved values
    // (|sv(n) − sv(m)| ≤ drift), so the region is exactly the set of
    // nodes reachable from the batch endpoints along band-passing
    // edges. r19 optimization (guide §2.4 job count; the r18 shape's
    // measured profile at sf0.1 was 22 BFS hops × ~1 s of per-job
    // overhead = the gate's entire cost, final region 316 nodes):
    // chain `ClosureHopsPerJob` hops into ONE lazy plan and
    // checkpoint once per BLOCK. Each sub-hop references the reached
    // set exactly ONCE — semi-joining the SELF-LOOP-augmented
    // adjacency computes reach ∪ nbrs(reach) in a single reference
    // (a self loop trivially passes the band test), so the block's
    // plan grows linearly in k, not 2^k. Work per sub-hop is the
    // reached set's incident edges (≤ the region's, × k per block —
    // the trickle contract keeps the region small). Reached counts
    // are MONOTONE (reach_{i+1} ⊇ reach_i via the self loops), so an
    // unchanged block count ⟺ the exact fixed point — the same
    // region the hop-at-a-time closure certifies.
    // band adjacency + self-loops materialized ONCE (a sanitized
    // checkpoint, so the chained sub-hops below read a flat-stats
    // leaf — chaining inner joins instead multiplies the plan's
    // sizeInBytes estimate per sub-hop, the r16 BigInteger stats
    // bomb, measured here as minutes of driver-side analysis). One
    // full-edge pass, the same class as the operator's existing
    // prepSym/deg/savedStar prep.
    val bandSelf = sym
      .join(savedStar.select(col("n"), col("sv")), Seq("n"))
      .join(savedStar.select(col("n").as("m"), col("sv").as("msv")),
        Seq("m"))
      .where(col("msv") <= col("sv") + drift &&
        col("msv") >= col("sv") - drift)
      .select(col("n"), col("m"))
      .unionByName(savedStar.select(col("n"), col("n").as("m")))
      .sanitizedCheckpoint()
    def expand(reach: DataFrame, k: Int): DataFrame = {
      var acc = reach
      for (_ <- 1 to k)
        acc = bandSelf
          .join(acc.select(col("n").as("m")), Seq("m"), "left_semi")
          .select(col("n")).distinct()
      acc
    }
    var (rstate, rsig) = graft.operators.Converge.checkpointWithSig(
      batchEndpoints.toDF("n").distinct()
        .join(savedStar.select(col("n")), Seq("n"), "left_semi"),
      "n")
    var nReach = rsig._1
    var grew = true
    var hops = 0
    while (grew && hops < expandRounds) {
      val k = math.min(ClosureHopsPerJob, expandRounds - hops)
      hops += k
      val (next, sig2) = graft.operators.Converge
        .checkpointWithSig(expand(rstate, k), "n")
      grew = sig2._1 > nReach
      nReach = sig2._1
      rstate = next
    }
    if (grew) {
      // budget exhausted with the last block still growing: one
      // confirm block distinguishes "converged at some hop ≤
      // expandRounds inside that block" (no further growth — every
      // region node has band-distance ≤ expandRounds, the old
      // hop-at-a-time contract) from genuine non-convergence (growth
      // means some reachable node sits farther than expandRounds)
      val (next, sig2) = graft.operators.Converge
        .checkpointWithSig(expand(rstate, 1), "n")
      require(sig2._1 == nReach,
        s"corenessTrickle: region closure did not converge within " +
          s"$expandRounds hops — widen expandRounds or fall back to " +
          "corenessResume")
      rstate = next
    }
    val region = rstate.select(col("n"))
    // pinned-boundary iteration, REGION-sized per round: outside
    // neighbors never change, so their contribution to a region
    // node's neighborhood resolves ONCE into a static edge frame;
    // each round then joins only the region-incident live edges
    // against the region-sized value table — work ∝ the region,
    // never the graph
    val symR = sym.join(region, Seq("n"), "left_semi").persist()
    symR.count()
    val regionM = region.select(col("n").as("m"))
    val symIn = symR.join(regionM, Seq("m"), "left_semi").persist()
    symIn.count()
    // outside neighbors never change, so their h-index contribution
    // is pre-reduced ONCE to (n, nv, cnt) value buckets — per round
    // the union below carries these buckets, not boundary edges
    val symOutStatic = symR.join(regionM, Seq("m"), "left_anti")
      .join(savedStar.select(col("n").as("m"), col("sv").as("nv")),
        Seq("m"))
      .groupBy(col("n"), col("nv"))
      .agg(count(lit(1)).as("cnt"))
      .sanitizedCheckpoint()
    val outside = savedStar
      .join(region, Seq("n"), "left_anti")
      .select(col("n"), col("sv").as("val"))
      .sanitizedCheckpoint()
    var (valsR, sig) = graft.operators.Converge.checkpointWithSig(
      savedStar.join(region, Seq("n"), "left_semi")
        .select(col("n"),
          least(col("deg"), col("sv") + slack).as("val")),
      "n, val")
    var round = 0
    var iterDone = false
    while (!iterDone && round < rounds) {
      round += 1
      val live = symIn
        .join(valsR.select(col("n").as("m"), col("val").as("nv")),
          Seq("m"))
        .select(col("n"), col("nv"), lit(1L).as("cnt"))
      val relaxedR = hIndexBuckets(live.unionByName(symOutStatic))
      val (next, nSig) =
        graft.operators.Converge.checkpointWithSig(relaxedR, "n, val")
      iterDone = nSig == sig && graft.operators.Converge.sameExact(next, valsR)
      sig = nSig
      valsR = next
    }
    // the contract is EXACT equivalence with the cold decomposition
    // (the frozen-boundary squeeze kills every spurious fixed point),
    // which only holds at convergence — a truncated trajectory is a
    // different, weaker object, so fail loudly instead
    require(iterDone,
      s"corenessTrickle: region iteration did not converge within " +
        s"$rounds rounds — raise rounds or fall back to corenessResume")
    savedStar.unpersist(blocking = false)
    symR.unpersist(blocking = false)
    symIn.unpersist(blocking = false)
    sym.unpersist(blocking = false)
    valsR.unionByName(outside)
      .select(col("n").as("node_id"), col("val").as("coreness"))
      .sanitizedCheckpoint()
  }

  /** Canonicalize (dedup + drop self-loops) and symmetrize so each
    * node sees its full neighborhood under one groupBy key; persisted
    * and materialized once — every round joins against it. */
  private def prepSym(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val sym = e.select(explode(array(
        struct(col("u").as("n"), col("v").as("m")),
        struct(col("v").as("n"), col("u").as("m")))).as("p"))
      .select(col("p.n").as("n"), col("p.m").as("m"))
      .persist()
    sym.count()
    sym
  }

  /** Per-node h-index as a degree-BUCKETED aggregation over a
    * (n, nv) neighbor-value frame (r19 optimization, guide §2.3
    * aggregate-before-you-shuffle): group values to (n, nv, cnt)
    * first — map-side combinable, so the exchange carries one row
    * per DISTINCT neighbor value instead of one per incident edge —
    * then a cumulative count over each node's buckets sorted by
    * value descending gives c(w) = #neighbors with value ≥ w and
    *   h = max_i min(v_(i), i) = max_w min(w, c(w))
    * (within value w's bucket, min(w, i) is maximized at the
    * bucket's LAST descending-sort index, which is exactly c(w), so
    * maximizing over buckets equals maximizing over rows). The old
    * row_number window sorted the full edge-volume join output per
    * round; the bucket window sorts ≤ #distinct-coreness-values rows
    * per node. Exact integer arithmetic, identical output — the
    * sum-over window's RANGE frame is exact because nv is unique per
    * node after the groupBy. */
  private def hIndex(nbrVals: DataFrame): DataFrame =
    hIndexBuckets(nbrVals.select(col("n"), col("nv"),
      lit(1L).as("cnt")))

  /** [[hIndex]] over pre-weighted (n, nv, cnt) buckets — lets a
    * static neighbor-value frame be reduced to buckets once and
    * unioned with per-round cnt=1 rows (the trickle pinned loop). */
  private def hIndexBuckets(buckets: DataFrame): DataFrame =
    buckets
      .groupBy(col("n"), col("nv"))
      .agg(sum(col("cnt")).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("n")).orderBy(col("nv").desc)))
      .groupBy(col("n"))
      .agg(max(least(col("nv"), col("cum"))).as("val"))

  /** The shared h-index loop from an arbitrary start `v0`
    * (n, val) — `rounds` rounds with the signature-confirmed early
    * stop (a round is a pure function of the value table, so an
    * unchanged table means every remaining round is identity: early
    * stop EQUALS the full unroll, the weightedDistances discipline). */
  private def iterate(sym: DataFrame, v0: DataFrame,
                      rounds: Int): DataFrame = {
    var (vals, sig) =
      graft.operators.Converge.checkpointWithSig(v0, "n, val")
    var round = 0
    var done = false
    while (!done && round < rounds) {
      round += 1
      val relaxed = hIndex(sym
        .join(vals.select(col("n").as("m"), col("val").as("nv")), Seq("m"))
        .select(col("n"), col("nv")))
      // per-round checkpoint with the convergence signature riding
      // the SAME materializing job (Converge.observe)
      val (next, nSig) =
        graft.operators.Converge.checkpointWithSig(relaxed, "n, val")
      done = nSig == sig && graft.operators.Converge.sameExact(next, vals)
      sig = nSig
      vals = next
    }
    vals.select(col("n").as("node_id"), col("val").as("coreness"))
      .sanitizedCheckpoint()
  }
}
