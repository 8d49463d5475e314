package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph authority scoring (PageRank) in exact integer fixed-point.
  *
  * The LLM-pipeline use: rank crawl domains / hosts by link authority and
  * feed the rank into source-quality weighting (the Common-Crawl-style
  * "which domains deserve crawl budget and mixture weight" signal that
  * sits next to the classifier score t21 and the source caps t22).
  *
  * Why integer fixed-point instead of textbook double arithmetic: a
  * float PageRank sums per-target contributions across partitions, and
  * cross-partition float addition order is engine- and run-dependent —
  * the same argument that keeps t27's later GD iterations rows-only.
  * Representing rank in integer micro-units (`totalUnits` = 1e9 per unit
  * of probability mass) makes every operation exact: integer division
  * for the per-edge contribution, an order-independent Long sum for the
  * in-flow, and integer damping `base + (dampNum·in) div dampDen`. Two
  * independent engines — and two different partitionings of the same
  * engine — produce bit-identical ranks, so the whole K-iteration
  * computation is hash-oracled AND reproducible at 100 TB (a re-run on a
  * different cluster layout cannot drift). The cost is a documented,
  * bounded mass leak: each integer division drops < 1 unit (1e-9) per
  * edge/node per iteration, plus dangling nodes (no out-edges) absorb
  * their mass — both irrelevant at ranking granularity and both part of
  * the operator's exact contract, not numerical noise.
  *
  * Scale shape: the edge list is deduplicated, joined with out-degrees,
  * and materialized ONCE (localCheckpoint), repartitioned by src so
  * every iteration reuses the same layout. Per iteration the work is
  * one join of the (node, rank) table against the edges on src — ranks
  * are one row per NODE (domains: millions), so Catalyst broadcasts
  * them against the edge scan at any corpus scale where nodes ≪ edges —
  * plus ONE map-side-combined Long-sum shuffle keyed by dst. Rank
  * lineage is truncated per iteration, so iteration N's plan stays
  * O(1). Driver state: two scalars (node count, derived constants).
  *
  * Reference analog: none — the reference has no graph operators; this
  * extends the §2c curation stack (SURVEY §2c, cf. Brin & Page 1998 and
  * the crawl-frontier ranking in Common Crawl's cc-pagerank datasets).
  */
object GraphRank {

  /** Default total probability mass in integer units: 1e9 ⇒ ranks are
    * exact to a nano of probability mass.
    */
  val DefaultUnits: Long = 1000000000L

  /** Node-count bar under which the node-sized side of a per-iteration
    * join is broadcast-hinted (r17, guide §3.1): the iterative operators
    * join edge-sized tables (checkpointed each round, so Catalyst has NO
    * size statistics and always falls back to a sort-merge join that
    * re-sorts the edge table every round) against node-sized rank/label
    * tables. The node count is already a driver scalar in the rank
    * family, so the hint is exact, not an estimate; above the bar the
    * join stays sort-merge, which survives any node count. Callers with
    * wide rows (the dense label vectors) scale the bar down by the row
    * width ([[denseBar]]).
    *
    * Sized in BYTES, not just rows (r18, r17-advice), and MEASURED
    * (OPTIMIZATION_r18.md §4, the biasedRank 3-long row shape): at
    * this 2M-row bar the built relation's dataSize is 83 MB
    * (collect 1.6 s, build 0.9 s); at the pre-r18 10M-row bar it was
    * 617 MB — with lazy per-round checkpointing deferring every
    * round's BroadcastExchange into the one consuming action, up to
    * `iterations` built relations coexist before the ContextCleaner
    * collects, so the old bar risked multi-GB resident peaks (the OOM
    * shape the r17 advice flagged) while this bar peaks well under
    * driver.maxResultSize at ~0.4 GB for 5 rounds. Above 2M nodes the
    * per-round sort-merge join is the honest scale shape anyway.
    */
  val BroadcastNodesMax: Long = 2000000L

  private def hintNodeSide(df: DataFrame, n: Long,
      bar: Long = BroadcastNodesMax): DataFrame =
    if (n <= bar) broadcast(df) else df

  /** [[BroadcastNodesMax]] scaled for rows carrying a length-L Long
    * vector (~8L+16 B each) instead of the narrow ~24 B row — same
    * collected-bytes budget, fewer rows.
    */
  private def denseBar(l: Int): Long =
    math.max(1L, BroadcastNodesMax * 24L / (16L + 8L * l.toLong))

  /** The per-iteration edge input every iterative operator here joins
    * against, built with ONE exchange (r17, guide §2.4): partition by
    * src FIRST (hash-partitioning by src already clusters (src, dst)),
    * dedup / parallel-edge-add on that layout, and the out-weight as a
    * window sum over the same partitioning instead of a separate
    * aggregate + join-back. Returns (src, dst, w, outw), src-partitioned,
    * LAZILY checkpointed (r18): the plan is cut to a LogicalRDD but no
    * job is dispatched — the first consumer (normally the fused scalar
    * aggregate below) materializes the blocks once and every iteration
    * reuses them. private[graft] so a caller that already paid this
    * exchange (the continuous loop's per-boundary graph) can hand the
    * SAME prepped table to staleFrontier and pageRankResume instead of
    * re-normalizing per consumer.
    */
  private[graft] def prepEdges(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: Option[String]): DataFrame =
    (weightCol match {
      case None =>
        edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"))
          .where(col("src").isNotNull && col("dst").isNotNull)
          .repartition(col("src"))
          .dropDuplicates("src", "dst")
          .withColumn("w", lit(1L))
      case Some(wc) =>
        edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"), col(wc).cast("long").as("w"))
          .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
          .repartition(col("src"))
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    })
      .withColumn("outw", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint(false)

  /** Loud enforcement of the documented `a · b < 2⁶³` contracts: Spark's
    * non-ANSI Long sum wraps silently while the DuckDB oracle sums in
    * HUGEINT, so an overflow at scale would otherwise surface as a
    * confusing hash mismatch instead of an actionable failure.
    */
  private def requireProductFits(a: Long, b: Long, what: String): Unit =
    require(a <= 0 || b <= Long.MaxValue / a,
      s"$what = $b * $a overflows Long (2^63): scale the inputs down — " +
        "dividing all weights by a common factor leaves results " +
        "bit-identical, since (k*a) div (k*b) = a div b")

  // Resume-state uniqueness contract: every resume entry point joins
  // (or full-joins) the supplied state back into the recurrence, so a
  // DUPLICATED state row would silently multiply its node's
  // contribution through every remaining iteration — the same
  // confidently-wrong-number failure mode as a silent Long wrap. Each
  // resume seam enforces it with a max-duplicate-count aggregate FUSED
  // into its single scalar job (r18 — the pre-r18 requireUniqueKeys
  // helper cost one extra job per resume call); duplicate examples are
  // recomputed on the error path only.

  /** Label-propagation worst-case mass bound, checked in BigInt so the
    * guard itself cannot wrap: total live mass is at most
    * `seeds · clampUnits · alphaDen/(alphaDen−alphaNum)` (the geometric
    * fixpoint of `total' ≤ α·total + clampTotal`), and the per-edge
    * product multiplies that by max(w).
    */
  private def requireLabelMassFits(seedCount: Long, clampUnits: Long,
      alphaNum: Long, alphaDen: Long, maxW: Long, what: String): Unit = {
    val bound = BigInt(clampUnits) * BigInt(seedCount) * BigInt(alphaDen) /
      BigInt(alphaDen - alphaNum) * BigInt(maxW.max(1L))
    require(bound <= BigInt(Long.MaxValue),
      s"$what: worst-case label mass * max(edge weight) = $bound overflows " +
        "Long (2^63): lower unitsPerSeed or scale edge weights down by a " +
        "common factor (bit-identical by the (k*a) div (k*b) = a div b rule)")
  }

  /** PageRank over a directed edge list, `iterations` exact fixed-point
    * rounds at damping `dampNum/dampDen` (default 85/100).
    *
    * Node set = distinct(src) ∪ distinct(dst); parallel edges collapse
    * (the standard unweighted formulation). Every node starts at
    * `totalUnits div N`. Per round, node v receives
    * `base + (dampNum · Σ_{u→v} (r_u div outdeg_u)) div dampDen` where
    * `base = ((dampDen−dampNum) · totalUnits) div (dampDen · N)`.
    * Dangling mass is dropped (contract — see class doc).
    *
    * Returns (node LONG, rank_units LONG, rank DOUBLE) with
    * `rank = round(rank_units / totalUnits, 6)`.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5,
               dampNum: Long = 85, dampDen: Long = 100,
               totalUnits: Long = DefaultUnits,
               weightCol: Option[String] = None): DataFrame =
    biasedRank(edges, srcCol, dstCol, None, iterations, dampNum, dampDen,
      totalUnits, weightCol)

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): PageRank with
    * the teleport mass restricted to a TRUSTED seed set — authority can
    * only be reached through link paths from seeds, so spam farms that
    * fabricate internal link mass rank near zero. The crawl-corpus
    * anti-spam weighting signal next to q107's global authority: seed
    * with editorially-vetted domains, threshold the result, and the
    * complement is the spam-likely crawl slice. Same exact integer
    * fixed-point arithmetic, so the biased recurrence is hash-oracled
    * and partition-invariant like the unbiased one. `seeds` is one
    * column of node ids; seeds absent from the graph are ignored.
    *
    * WEIGHTED seeds (`seedWeightCol` — topic-sensitive PageRank,
    * Haveliwala 2002, and the graded-trust variant of TrustRank): the
    * teleport mass splits across seeds PROPORTIONALLY to their integer
    * weights instead of uniformly — seed i starts at and teleports
    * `(totalUnits·tw_i) div TW` where TW = Σ tw over seeds present in
    * the graph. Duplicate seed rows ADD (the parallel-edge rule);
    * uniform weights are bit-identical to the unweighted path, and
    * scaling all seed weights by a common factor leaves every rank
    * bit-identical ((k·a) div (k·b) = a div b) — both spec-asserted.
    * Contract (enforced): (dampDen−dampNum)·totalUnits·max(tw) < 2⁶³.
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, iterations: Int = 5,
                dampNum: Long = 85, dampDen: Long = 100,
                totalUnits: Long = DefaultUnits,
                weightCol: Option[String] = None,
                seedWeightCol: Option[String] = None): DataFrame =
    biasedRank(edges, srcCol, dstCol, Some(seeds), iterations, dampNum,
      dampDen, totalUnits, weightCol, seedWeightCol = seedWeightCol)

  /** Resume (Trust/Page)Rank from a previously computed rank table —
    * the recurrence is memoryless given current ranks, so resuming R
    * iterations from a K-iteration result is BIT-IDENTICAL to running
    * K+R iterations cold (spec-asserted). Two production uses: (1)
    * checkpoint/restart — a long rank job on 10⁹ nodes persists
    * (node, rank_units) and resumes after preemption without replaying
    * earlier rounds; (2) incremental warm-start — after [[edgeDelta]],
    * re-rank the NEW graph starting from the old ranks (nodes new to
    * the graph cold-start at the teleport value), which converges in
    * far fewer rounds than a uniform start since only [[staleFrontier]]
    * neighborhoods are out of equilibrium. `ranks` must carry the
    * pageRank output contract columns (node, rank_units) with ONE row
    * per node (enforced loudly — a duplicated state row would silently
    * double-count through every iteration).
    *
    * The TELEPORT DISTRIBUTION is part of the recurrence, NOT of the
    * state, and it is NOT derivable from the edges: resuming a
    * [[trustRank]] (or weighted/topic-sensitive) checkpoint MUST pass
    * the same `seeds`/`seedWeightCol` as the original run, or the
    * teleport base silently reverts to uniform-over-all-nodes and the
    * result is NOT the K+R trustRank answer (spec-asserted both ways:
    * seeded resume ≡ seeded cold, and the constants re-derive from
    * edges + seeds alone).
    */
  def pageRankResume(edges: DataFrame, srcCol: String, dstCol: String,
                     ranks: DataFrame, iterations: Int,
                     dampNum: Long = 85, dampDen: Long = 100,
                     totalUnits: Long = DefaultUnits,
                     weightCol: Option[String] = None,
                     seeds: Option[DataFrame] = None,
                     seedWeightCol: Option[String] = None): DataFrame =
    biasedRank(edges, srcCol, dstCol, seeds, iterations, dampNum, dampDen,
      totalUnits, weightCol, initRanks = Some(ranks),
      seedWeightCol = seedWeightCol)

  /** [[pageRankResume]] on a pre-built (src, dst, w, outw) edge table
    * (see [[prepEdges]]) — the continuous loop hands the boundary's ONE
    * prepped graph to the frontier measurement AND the resume instead
    * of paying the normalization exchange twice per boundary (r18).
    * Weighted semantics: `w` is the already-summed parallel-edge weight.
    */
  private[graft] def pageRankResumePrepped(prepped: DataFrame,
                     ranks: DataFrame, iterations: Int,
                     dampNum: Long = 85, dampDen: Long = 100,
                     totalUnits: Long = DefaultUnits): DataFrame =
    biasedRank(prepped, "src", "dst", None, iterations, dampNum, dampDen,
      totalUnits, weightCol = Some("w"), initRanks = Some(ranks),
      prepped = Some(prepped))

  private def biasedRank(edges: DataFrame, srcCol: String, dstCol: String,
               seedsOpt: Option[DataFrame],
               iterations: Int,
               dampNum: Long, dampDen: Long,
               totalUnits: Long,
               weightCol: Option[String] = None,
               initRanks: Option[DataFrame] = None,
               seedWeightCol: Option[String] = None,
               prepped: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1 && dampNum >= 0 && dampNum <= dampDen)
    // (src, dst, w, outw), src-partitioned, lazily checkpointed — see
    // prepEdges. Weighted edges: integer weights, parallel edges ADD
    // (the link-count semantics); contribution becomes (r*w) div W_src.
    // The totalUnits*maxWeight < 2^63 contract is ENFORCED below (scale
    // weights down, not up — scaling ALL weights by a common factor
    // provably leaves ranks bit-identical, since (k*a) div (k*b) = a div b).
    val eo = prepped.getOrElse(prepEdges(edges, srcCol, dstCol, weightCol))
    val bare = eo.select(col("src").as("node"))
      .union(eo.select(col("dst").as("node")))
      .distinct()
    // teleport weight per node: 1 everywhere (unbiased), 1 on seeds
    // (TrustRank), or the seed's integer weight (topic-sensitive /
    // graded trust — duplicate seed rows ADD, the parallel-edge rule);
    // seeds outside the graph are dropped by the join
    val nodes = (seedsOpt match {
      case None => bare.withColumn("tw", lit(1L))
      case Some(sd) =>
        val seedTw = (seedWeightCol match {
          case None =>
            sd.select(sd.columns.head).toDF("node")
              .select(col("node").cast("long").as("node")).distinct()
              .withColumn("tw", lit(1L))
          case Some(swc) =>
            sd.select(col(sd.columns.head).cast("long").as("node"),
                col(swc).cast("long").as("tw"))
              .where(col("node").isNotNull && col("tw") > 0)
              .groupBy(col("node")).agg(sum(col("tw")).as("tw"))
        })
        bare.join(seedTw, Seq("node"), "left")
          .select(col("node"), coalesce(col("tw"), lit(0L)).as("tw"))
    }).localCheckpoint(false)
    // the resume state, normalized before the scalar job so its
    // duplicate-key guard rides the same action
    val initOpt = initRanks.map(_.select(col("node").cast("long").as("node"),
      col("rank_units").cast("long").as("__init")))
    // EVERY driver scalar in ONE action (r18, guide §1.2): node count +
    // teleport total + max seed weight over the node table, the
    // weighted path's max edge weight, and the resume path's worst
    // duplicate-key count — crossJoins of 1-row aggregates, so one job
    // materializes the lazy edge/node checkpoints AND gathers the
    // guards' inputs (the pre-r18 shape dispatched up to five separate
    // jobs here: two eager checkpoint materializations plus one job per
    // guard aggregate).
    var scalars = nodes.agg(count(lit(1)).as("__n"),
      coalesce(sum(col("tw")), lit(0L)).as("__t"),
      coalesce(max(col("tw")), lit(0L)).as("__maxtw"))
      .crossJoin(if (weightCol.isDefined)
          eo.agg(coalesce(max(col("w")), lit(0L)).as("__maxw"))
        else eo.sparkSession.range(1).select(lit(1L).as("__maxw")))
    initOpt.foreach { init =>
      scalars = scalars.crossJoin(init.groupBy(col("node"))
        .agg(count(lit(1)).as("__c"))
        .agg(coalesce(max(col("__c")), lit(0L)).as("__dup")))
    }
    val srow = scalars.head()
    val (n, twTotal, maxTw, maxW) =
      (srow.getLong(0), srow.getLong(1), srow.getLong(2), srow.getLong(3))
    // loud resume-state uniqueness contract (see the class-level note):
    // a duplicated state row would silently multiply its node's
    // contribution through every remaining iteration. Examples are
    // recomputed on the error path only.
    initOpt.foreach { init =>
      if (srow.getLong(4) > 1L) {
        val dup = init.groupBy(col("node")).agg(count(lit(1)).as("__c"))
          .where(col("__c") > 1)
        require(false,
          "pageRankResume: the supplied state table has duplicate rows " +
            s"per (node) — e.g. ${dup.take(3).mkString("; ")} — which " +
            "would silently inflate every iteration's sums: aggregate " +
            "the state to one row per key before resuming")
      }
    }
    // loud overflow guard: the per-edge product r*w is bounded by
    // totalUnits*max(w); a silent Long wrap would produce confidently
    // wrong ranks (Spark's non-ANSI sum wraps where DuckDB's HUGEINT
    // doesn't, so the failure would surface as a confusing hash
    // mismatch). Weighted path only — unweighted w = 1 cannot wrap.
    if (weightCol.isDefined) requireProductFits(
      maxW, totalUnits, "pageRank/trustRank: totalUnits * max(edge weight)")
    require(n > 0, "rank on an empty edge list")
    require(twTotal > 0, "trustRank with no seed present in the graph")
    // weighted-teleport overflow guard: the per-node base numerator is
    // (dampDen−dampNum)·totalUnits·tw — BigInt-checked so the guard
    // itself cannot wrap (the unweighted max(tw) = 1 case is the
    // already-safe classic bound)
    if (seedWeightCol.isDefined) {
      require(BigInt(dampDen - dampNum) * BigInt(totalUnits) * BigInt(maxTw)
          <= BigInt(Long.MaxValue),
        s"trustRank: (dampDen-dampNum) * totalUnits * max(seed weight) = " +
          s"${dampDen - dampNum} * $totalUnits * $maxTw overflows Long " +
          "(2^63): scale seed weights down by a common factor " +
          "(bit-identical, since (k*a) div (k*b) = a div b)")
      // the r0 numerator totalUnits·tw is NOT implied by the base-mass
      // guard when dampNum = dampDen (its factor degenerates to 0)
      require(BigInt(totalUnits) * BigInt(maxTw) <= BigInt(Long.MaxValue),
        s"trustRank: totalUnits * max(seed weight) = $totalUnits * $maxTw " +
          "overflows Long (2^63): scale seed weights down by a common factor")
    }
    // the baseCol/r0Col DENOMINATOR dampDen·TW is plain Long arithmetic in
    // the plan; a very large aggregate seed-weight sum (many seeds, each
    // individually under max(tw)) would wrap it silently even when every
    // per-seed product passes — BigInt-checked so the guard cannot wrap,
    // on all paths (unweighted TW = n is safe until 9·10¹⁶ nodes, but the
    // check is one driver comparison)
    require(BigInt(dampDen) * BigInt(twTotal) <= BigInt(Long.MaxValue),
      s"rank: dampDen * total teleport weight = $dampDen * $twTotal " +
        "overflows Long (2^63): scale seed weights down by a common " +
        "factor (bit-identical, since (k*a) div (k*b) = a div b)")
    // initial and teleport mass split across targets proportional to tw
    // (uniform tw ∈ {0,1} reduces to the classic totalUnits div m and
    // ((dampDen−dampNum)·totalUnits) div (dampDen·m) — same operands,
    // bit-identical)
    val r0Col = expr(s"(${totalUnits}L * tw) div ${twTotal}L")
    val baseCol = expr(
      s"(${dampDen - dampNum}L * ${totalUnits}L * tw) div (${dampDen}L * ${twTotal}L)")

    var ranks = initOpt match {
      case None =>
        nodes.withColumn("r", r0Col)
      case Some(init) =>
        // warm start: provided ranks win; nodes absent from the table
        // (new to the graph) cold-start at the teleport value.
        // Uniqueness was enforced by the fused scalar job above.
        nodes.join(init, Seq("node"), "left")
          .select(col("node"), col("tw"),
            coalesce(col("__init"), r0Col).as("r"))
          .localCheckpoint(false)
    }
    var i = 0
    while (i < iterations) {
      // integer per-edge contribution: exact, order-free. Both joins
      // carry a node-sized side (n is exact, from the aggregate above):
      // under the bar they hash-broadcast, so the edge table is neither
      // shuffled nor re-sorted in ANY round (r17, guide §3.1)
      val rh = hintNodeSide(ranks, n)
      val inSum = eo.join(rh, eo("src") === rh("node"))
        .select(col("dst"), expr("r * w div outw").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("insum")) // Long sum: order-independent
      ranks = nodes.join(hintNodeSide(inSum, n), Seq("node"), "left")
        .select(col("node"), col("tw"),
          (baseCol +
            expr(s"$dampNum * coalesce(insum, 0L) div $dampDen"))
            .as("r"))
        // LAZY lineage truncation (r17, guide §1.2): the plan is cut to
        // a LogicalRDD at every round either way, but eager=false defers
        // materialization to the ONE action that consumes the final
        // ranks instead of dispatching a job per round — same blocks,
        // iterations-many fewer job round-trips
        .localCheckpoint(false)
      i += 1
    }
    ranks.select(col("node"), col("r").as("rank_units"),
      round(col("r") / lit(totalUnits.toDouble), 6).as("rank"))
  }

  /** Label propagation / label spreading (Zhu & Ghahramani 2002; Zhou
    * et al. 2004) in the same exact integer fixed-point: a small SEED
    * set carries ground-truth labels (human quality ratings, vetted
    * spam/ham, language tags) and mass diffuses over the graph so every
    * reachable node acquires a label distribution — the semi-supervised
    * corpus-labeling primitive (label 0.1% by hand, propagate over the
    * near-dup/link/similarity graph, threshold the argmax).
    *
    * Recurrence (per node v and label l):
    * `m'(v,l) = (alphaNum · Σ_{u→v} m(u,l) div outdeg_u) div alphaDen
    *            + clamp(v,l)` where `clamp(v,l) = ((alphaDen−alphaNum) ·
    * unitsPerSeed) div alphaDen` for seed pairs and 0 otherwise, with
    * m₀ = clamp — the standard clamped label-spreading update in
    * integer micro-units, so every iteration is order-free,
    * bit-deterministic, and SQL-replayable (the q107 argument).
    *
    * Scale shape: masses are SPARSE (node, label, mass>0) rows — after
    * K iterations only (node, label) pairs within K hops of a
    * same-label seed exist, so the shuffle per iteration carries the
    * reachable sparse mass table keyed by dst, with map-side combine;
    * the edge table is materialized once like pageRank's. Returns the
    * argmax label per node: (node, label, mass_units, n_labels) with
    * ties broken toward the smallest label; unreached nodes are absent
    * (no mass ⇒ no claim — the honest semi-supervised contract).
    *
    * Weighted edges (`weightCol`): integer weights, parallel edges ADD,
    * contribution becomes `(m·w) div W_src` — similarity-graph edges
    * (near-dup counts, link multiplicities) pull labels proportionally.
    * Same overflow rule as pageRank: keep mass·maxWeight under 2^63 and
    * scale weights DOWN by a common factor when needed (bit-identical,
    * since (k·a) div (k·b) = a div b).
    *
    * `maxLabelsPerNode` is the web-scale knob: per iteration keep only
    * each node's top-L labels by (mass DESC, label ASC) — the standard
    * sparsification for label propagation over open label sets (user
    * tags, host ids), where the honest per-iteration volume is
    * |E|·labels-per-src and an uncapped run with thousands of live
    * labels per node would shuffle the cross product. The cap is a
    * DETERMINISTIC window filter, so a capped run is still
    * bit-identical across partitionings and still SQL-replayable
    * (row_number ≤ L per round); L ≥ the total label count is exactly
    * the uncapped path (spec-asserted). Capping changes semantics only
    * when a label outside a node's top-L would later overtake — the
    * usual beam-search contract.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, seedNodeCol: String, seedLabelCol: String,
                       iterations: Int = 4,
                       alphaNum: Long = 80, alphaDen: Long = 100,
                       unitsPerSeed: Long = 1000000L,
                       weightCol: Option[String] = None,
                       maxLabelsPerNode: Option[Int] = None): DataFrame =
    labelArgmax(labelPropagationMasses(edges, srcCol, dstCol, seeds,
      seedNodeCol, seedLabelCol, iterations, alphaNum, alphaDen,
      unitsPerSeed, weightCol, maxLabelsPerNode))

  /** Resume label propagation from a persisted sparse (node, label,
    * mass) table — the recurrence is memoryless given the current mass
    * table (clamp derives from the seeds, constants from the edges), so
    * resuming R iterations from a K-iteration mass table is
    * BIT-IDENTICAL to running K+R cold (spec-asserted; the q118
    * argument applied to the label family). The incremental use: a
    * corpus-labeling job persists [[labelPropagationMasses]], a crawl
    * increment arrives, and the pipeline resumes diffusion on the new
    * graph from labeled equilibrium instead of replaying from the
    * seeds. Same seeds must be supplied (they are the clamp, part of
    * the recurrence, not the state).
    */
  def labelPropagationResume(edges: DataFrame, srcCol: String, dstCol: String,
                             seeds: DataFrame, seedNodeCol: String, seedLabelCol: String,
                             masses: DataFrame, iterations: Int,
                             alphaNum: Long = 80, alphaDen: Long = 100,
                             unitsPerSeed: Long = 1000000L,
                             weightCol: Option[String] = None,
                             maxLabelsPerNode: Option[Int] = None): DataFrame =
    labelArgmax(labelPropagationMasses(edges, srcCol, dstCol, seeds,
      seedNodeCol, seedLabelCol, iterations, alphaNum, alphaDen,
      unitsPerSeed, weightCol, maxLabelsPerNode, initMasses = Some(masses)))

  /** The raw sparse (node, label, mass) table after `iterations` rounds
    * — the persistable state behind [[labelPropagation]] (which is just
    * this plus the deterministic argmax). Checkpoint/restart and
    * incremental warm-start both go through here.
    */
  def labelPropagationMasses(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: DataFrame, seedNodeCol: String, seedLabelCol: String,
                       iterations: Int = 4,
                       alphaNum: Long = 80, alphaDen: Long = 100,
                       unitsPerSeed: Long = 1000000L,
                       weightCol: Option[String] = None,
                       maxLabelsPerNode: Option[Int] = None,
                       initMasses: Option[DataFrame] = None): DataFrame = {
    require(maxLabelsPerNode.forall(_ >= 1), "maxLabelsPerNode must be >= 1")
    require(iterations >= 1 && alphaNum >= 0,
      "labelPropagation needs iterations >= 1 and alphaNum >= 0")
    // alphaNum == alphaDen would zero every clamp: no label mass could
    // ever exist and the result would be silently empty — fail loudly
    require(alphaNum < alphaDen,
      "alphaNum must be < alphaDen: the (alphaDen-alphaNum) share is the seed clamp mass")
    // (src, dst, w, outw), src-partitioned, lazily checkpointed (r18,
    // see prepEdges — the shared biasedRank edge-prep shape)
    val eo = prepEdges(edges, srcCol, dstCol, weightCol)
    // clamp table: the (1-alpha) share of a seed's unit mass, on its label
    val clampUnits = ((alphaDen - alphaNum) * unitsPerSeed) / alphaDen
    val clamp = seeds
      .select(col(seedNodeCol).cast("long").as("node"),
        col(seedLabelCol).cast("long").as("label"))
      .where(col("node").isNotNull && col("label").isNotNull)
      .distinct()
      .withColumn("clamp", lit(clampUnits))
      .localCheckpoint(false)
    val stOpt = initMasses.map(m => // warm start: the provided table IS the state
      m.select(col("node").cast("long").as("node"),
        col("label").cast("long").as("label"),
        col("mass").cast("long").as("mass"))
        .where(col("mass") > 0)
        .localCheckpoint(false))
    // EVERY driver scalar in ONE action (r18, the biasedRank shape):
    // seed-pair count + live label universe, the graph's node count
    // (with the seed and state row counts, prices the per-round
    // broadcast below), the weighted path's max edge weight, and the
    // resume path's worst duplicate-key count and row count — one job
    // materializes the lazy checkpoints and feeds every guard.
    var scalars = clamp.agg(count(lit(1)).as("__seeds"),
        count_distinct(col("label")).as("__labels"))
      .crossJoin(eo.select(col("src").as("node"))
        .union(eo.select(col("dst").as("node")))
        .distinct().agg(count(lit(1)).as("__nodes")))
      .crossJoin(if (weightCol.isDefined)
          eo.agg(coalesce(max(col("w")), lit(0L)).as("__maxw"))
        else edges.sparkSession.range(1).select(lit(1L).as("__maxw")))
    stOpt.foreach { st =>
      scalars = scalars.crossJoin(st.groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .agg(coalesce(max(col("__c")), lit(0L)).as("__dup"),
          coalesce(sum(col("__c")), lit(0L)).as("__strows")))
    }
    val srow = scalars.head()
    val (seedPairs, labelUniverse, nNodes, maxW) =
      (srow.getLong(0), srow.getLong(1), srow.getLong(2), srow.getLong(3))
    val stateRows = if (stOpt.isDefined) srow.getLong(5) else 0L
    stOpt.foreach { st =>
      if (srow.getLong(4) > 1L) {
        val dup = st.groupBy(col("node"), col("label"))
          .agg(count(lit(1)).as("__c")).where(col("__c") > 1)
        require(false,
          "labelPropagationResume: the supplied state table has duplicate " +
            s"rows per (node, label) — e.g. ${dup.take(3).mkString("; ")} — " +
            "which would silently inflate every iteration's sums: " +
            "aggregate the state to one row per key before resuming")
      }
    }
    // loud overflow guard (see requireLabelMassFits)
    requireLabelMassFits(seedPairs, clampUnits, alphaNum, alphaDen,
      if (weightCol.isDefined) maxW else 1L, "labelPropagation")
    // per-round broadcast bar (r18, guide §3.1 — the r17 rank treatment
    // applied to the label family, which was left sort-merge): the mass
    // table is bounded by graph nodes × live-labels-per-node rows (the
    // label universe is CLOSED — clamp is the only label source — and
    // the beam caps it further), plus the clamp rows, which every round's
    // full join carries even for seeds outside the edge list, plus the
    // state rows round 1 starts from on resume. All three are exact
    // counts from the scalar job above. Under the bar the src-partitioned
    // edge table is never re-sorted or re-shuffled in any round; above it
    // sort-merge survives any size.
    val liveLabels = math.max(1L,
      maxLabelsPerNode.fold(labelUniverse)(l => math.min(labelUniverse, l.toLong)))
    val massBroadcastable = BigInt(nNodes) * BigInt(liveLabels) +
      seedPairs + stateRows <= BigInt(BroadcastNodesMax)

    var mass = stOpt.getOrElse(
      clamp.select(col("node"), col("label"), col("clamp").as("mass")))
    var i = 0
    while (i < iterations) {
      val mh = if (massBroadcastable) broadcast(mass) else mass
      val in = eo.join(mh, eo("src") === mh("node"))
        .select(col("dst"), col("label"), expr("mass * w div outw").as("c"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum(col("c")).as("insum")) // Long sum: order-free
      val updated = in
        .join(clamp, Seq("node", "label"), "full")
        .select(col("node"), col("label"),
          (expr(s"$alphaNum * coalesce(insum, 0L) div $alphaDen") +
            coalesce(col("clamp"), lit(0L))).as("mass"))
        .where(col("mass") > 0) // keep the table sparse
      mass = (maxLabelsPerNode match {
        case None => updated
        case Some(1) =>
          // the argmax beam is a min-struct AGGREGATION, not a window
          // sort (r18, guide §2.3): min over struct(-mass, label)
          // encodes the (mass DESC, label ASC) tie-break — mass > 0, so
          // the negation cannot overflow — and reconstructs the
          // identical winner row. The struct buffer plans as a
          // SortAggregate, but its map-side PARTIAL reduces every
          // partition to ≤ 1 row per node BEFORE the exchange, where
          // row_number shuffled and sorted the whole table
          updated.groupBy(col("node"))
            .agg(min(struct((-col("mass")).as("__nm"),
              col("label").as("label"))).as("__t"))
            .select(col("node"), col("__t.label").as("label"),
              (-col("__t.__nm")).as("mass"))
        case Some(l) => // beam cut: deterministic, replayable window
          val wTop = org.apache.spark.sql.expressions.Window
            .partitionBy(col("node")).orderBy(col("mass").desc, col("label").asc)
          updated.withColumn("__rn", row_number().over(wTop))
            .where(col("__rn") <= l).drop("__rn")
      }).localCheckpoint(false) // lazy lineage truncation (r17, see biasedRank)
      i += 1
    }
    mass
  }

  /** The deterministic argmax over a sparse mass table: top label per
    * node (mass DESC, label ASC) + the per-node label count — shared by
    * every label-propagation entry point.
    */
  private def labelArgmax(mass: DataFrame): DataFrame =
    // ONE aggregation replaces the pre-r18 two window passes (a
    // per-node sort + a second windowed count over the same partition):
    // min over struct(-mass, label) encodes the (mass DESC, label ASC)
    // tie-break exactly — mass > 0 by the sparse-table contract, so the
    // negation cannot overflow — and the winner row is reconstructed
    // from the struct. The struct buffer plans as a SortAggregate, but
    // its map-side PARTIAL reduces every partition to ≤ 1 row per node
    // BEFORE the exchange (guide §2.3): the shuffle carries node-sized
    // data where the window shuffled and twice-sorted every mass row
    mass.groupBy(col("node"))
      .agg(min(struct((-col("mass")).as("__nm"),
          col("label").as("label"))).as("__t"),
        count(lit(1)).as("n_labels"))
      .select(col("node"), col("__t.label").as("label"),
        (-col("__t.__nm")).as("mass_units"), col("n_labels"))

  /** A label universe at or under this size runs the dense vector path
    * — small enough that the L per-slot codegen'd sums stay cheap and a
    * length-L Long vector per node is a few hundred bytes.
    */
  val DenseLabelUniverseMax = 64

  /** Default beam cap for the open-label-set sparse path: wide enough
    * that a realistic per-node label distribution is exact (a node
    * rarely holds mass from > a handful of labels after α-damping),
    * finite so the per-iteration shuffle volume is bounded by
    * |E|·DefaultLabelBeam instead of |E|·|labels| — the configuration
    * that measured a 16×-corpus spill when left uncapped.
    */
  val DefaultLabelBeam = 16

  /** The ROUTED label-propagation entry point — call this one unless you
    * need a specific path. The live label universe of the clamped
    * recurrence is CLOSED BY CONSTRUCTION (clamp mass is the only label
    * source, so exactly the distinct seed labels can ever hold mass), so
    * routing is decidable from the seed table alone: a universe of at
    * most [[DenseLabelUniverseMax]] labels runs [[labelPropagationDense]]
    * (bit-identical to uncapped sparse by spec, and the scale-safe shape
    * — the sparse path's |E|·labels-per-src row stream is what spills at
    * 16× corpus on one box), anything larger runs the sparse path with
    * `maxLabelsPerNode` DEFAULTED to a finite [[DefaultLabelBeam]]
    * (uncapped open-set propagation is exactly the spilling
    * configuration; pass `maxLabelsPerNode = Some(n)` to widen, with
    * n ≥ |labels| provably equal to uncapped). The same threshold-routing
    * pattern as `Similarity.cosinePairsAuto`. The probe collects at most
    * DenseLabelUniverseMax+1 label ids (bounded driver state).
    */
  def labelPropagationAuto(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedNodeCol: String, seedLabelCol: String,
                           iterations: Int = 4,
                           alphaNum: Long = 80, alphaDen: Long = 100,
                           unitsPerSeed: Long = 1000000L,
                           weightCol: Option[String] = None,
                           maxLabelsPerNode: Option[Int] = Some(DefaultLabelBeam)): DataFrame = {
    val universe = seeds
      .select(col(seedLabelCol).cast("long").as("label"))
      .where(col("label").isNotNull)
      .distinct().orderBy(col("label"))
      .limit(DenseLabelUniverseMax + 1)
      .collect().map(_.getLong(0)).toSeq // bounded: ≤ DenseLabelUniverseMax+1 rows
    if (universe.nonEmpty && universe.size <= DenseLabelUniverseMax)
      labelPropagationDense(edges, srcCol, dstCol, seeds, seedNodeCol,
        seedLabelCol, labels = universe, iterations = iterations,
        alphaNum = alphaNum, alphaDen = alphaDen, unitsPerSeed = unitsPerSeed,
        weightCol = weightCol)
    else
      labelPropagation(edges, srcCol, dstCol, seeds, seedNodeCol,
        seedLabelCol, iterations = iterations, alphaNum = alphaNum,
        alphaDen = alphaDen, unitsPerSeed = unitsPerSeed,
        weightCol = weightCol, maxLabelsPerNode = maxLabelsPerNode)
  }

  /** The ROUTED label-propagation RESUME entry point — the warm-start
    * twin of [[labelPropagationAuto]], closing the r8 seam where the
    * scale-safe path and the restartable path were different paths: a
    * restarted job probes the seed-label universe exactly like the cold
    * auto entry (bounded ≤[[DenseLabelUniverseMax]]+1-row collect) and
    * routes the SAME way — ≤64 labels warm-start [[labelPropagationDense]]
    * from the persisted sparse state, larger open sets warm-start the
    * sparse path with the same finite default beam. Routing is decided
    * by the seeds alone (the clamp is the recurrence's only label
    * source, so the state's label universe is the seed universe when
    * the seeds are unchanged — and an unchanged seed set is already the
    * resume contract), so cold and resumed runs of the same job always
    * take the same shape. Both routes are bit-identical to K+R cold
    * rounds (spec-asserted; shares q120's oracle).
    */
  def labelPropagationAutoResume(edges: DataFrame, srcCol: String, dstCol: String,
                                 seeds: DataFrame, seedNodeCol: String, seedLabelCol: String,
                                 masses: DataFrame, iterations: Int,
                                 alphaNum: Long = 80, alphaDen: Long = 100,
                                 unitsPerSeed: Long = 1000000L,
                                 weightCol: Option[String] = None,
                                 maxLabelsPerNode: Option[Int] = Some(DefaultLabelBeam)): DataFrame = {
    val universe = seeds
      .select(col(seedLabelCol).cast("long").as("label"))
      .where(col("label").isNotNull)
      .distinct().orderBy(col("label"))
      .limit(DenseLabelUniverseMax + 1)
      .collect().map(_.getLong(0)).toSeq // bounded: ≤ DenseLabelUniverseMax+1 rows
    if (universe.nonEmpty && universe.size <= DenseLabelUniverseMax)
      labelPropagationDense(edges, srcCol, dstCol, seeds, seedNodeCol,
        seedLabelCol, labels = universe, iterations = iterations,
        alphaNum = alphaNum, alphaDen = alphaDen, unitsPerSeed = unitsPerSeed,
        weightCol = weightCol, initMasses = Some(masses))
    else
      labelPropagationResume(edges, srcCol, dstCol, seeds, seedNodeCol,
        seedLabelCol, masses, iterations, alphaNum = alphaNum,
        alphaDen = alphaDen, unitsPerSeed = unitsPerSeed,
        weightCol = weightCol, maxLabelsPerNode = maxLabelsPerNode)
  }

  /** [[labelPropagation]] for a CLOSED label universe, carried as a
    * dense length-L Long vector per node instead of (node, label) rows
    * — the scale path when L is small and known (languages, nations,
    * quality tiers, topic taxonomies). The sparse path's per-iteration
    * shuffle is |E|·live-labels-per-src ROWS (~25× |E| here), and at
    * 16× corpus on one box that row stream is what spills; the dense
    * path ships ONE array row per edge and aggregates with L codegen'd
    * `sum`s per destination, so map-side combine actually combines
    * (~in-degree× reduction) and per-row overhead drops 25×.
    *
    * Bit-identical to the sparse path BY CONSTRUCTION (spec-asserted):
    * a pruned sparse row is exactly a zero vector entry, `(m·w) div W`
    * and the α-damped clamp update are the same integer ops
    * elementwise, and the final posexplode + mass>0 filter reproduces
    * the sparse row set — so q112's DuckDB oracle replays this path
    * verbatim too. Requires `labels` distinct; seeds with labels
    * outside the universe are rejected loudly (a silent drop would
    * un-clamp ground truth).
    *
    * RESUME (`initMasses`): accepts the same persisted SPARSE (node,
    * label, mass) state table as [[labelPropagationResume]] — the
    * checkpoint format is path-independent, so a job that persisted
    * state from either shape warm-starts on the scale-safe dense shape.
    * The sparse rows load into the length-L vectors (absent slots = 0,
    * exactly a pruned sparse row), after which dense ≡ sparse holds
    * elementwise as in the cold case, so R resumed dense rounds on a
    * K-round state are bit-identical to K+R cold rounds of EITHER path
    * (spec-asserted; shares q120's oracle). State labels outside the
    * declared universe are rejected loudly (they cannot exist for an
    * unchanged seed set — the clamp is the only label source — so one
    * present means the seeds changed and the resume is invalid);
    * duplicate (node, label) state rows fail loudly like every resume
    * seam.
    */
  def labelPropagationDense(edges: DataFrame, srcCol: String, dstCol: String,
                            seeds: DataFrame, seedNodeCol: String, seedLabelCol: String,
                            labels: Seq[Long],
                            iterations: Int = 4,
                            alphaNum: Long = 80, alphaDen: Long = 100,
                            unitsPerSeed: Long = 1000000L,
                            weightCol: Option[String] = None,
                            initMasses: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1 && alphaNum >= 0 && alphaNum < alphaDen,
      "labelPropagationDense needs iterations >= 1 and 0 <= alphaNum < alphaDen")
    require(labels.nonEmpty && labels.distinct == labels,
      "labels must be a non-empty distinct universe")
    val L = labels.size
    val labelArr = array(labels.map(lit): _*)

    // (src, dst, w, outw), src-partitioned, lazily checkpointed (r18,
    // see prepEdges — the shared biasedRank edge-prep shape)
    val eo = prepEdges(edges, srcCol, dstCol, weightCol)

    val clampUnits = ((alphaDen - alphaNum) * unitsPerSeed) / alphaDen
    val seedRows = seeds
      .select(col(seedNodeCol).cast("long").as("node"),
        col(seedLabelCol).cast("long").as("label"))
      .where(col("node").isNotNull && col("label").isNotNull)
      .distinct()
    // dense clamp vector per seed node: clampUnits at each seed label's slot
    val clamp = seedRows
      .groupBy(col("node"))
      .agg(array((0 until L).map(i =>
        max(when(col("label") === lit(labels(i)), lit(clampUnits))
          .otherwise(lit(0L)))): _*).as("cv"))
      .localCheckpoint(false)
    val stOpt = initMasses.map(m0 =>
      // warm start from the persisted SPARSE state (loaded into the
      // length-L vectors below once the guards pass)
      m0.select(col("node").cast("long").as("node"),
        col("label").cast("long").as("label"),
        col("mass").cast("long").as("mass"))
        .where(col("mass") > 0)
        .localCheckpoint(false))
    // EVERY driver scalar in ONE action (r18, the biasedRank shape):
    // clamp rows + off-universe seed count, node count (with the clamp
    // and state rows, prices the per-round broadcast), weighted max edge
    // weight, and the resume path's duplicate-key/off-universe/row counts
    var scalars = seedRows.agg(count(lit(1)).as("__pairs"),
        coalesce(sum(when(!col("label").isin(labels: _*), 1L)
          .otherwise(0L)), lit(0L)).as("__off"))
      .crossJoin(clamp.agg(count(lit(1)).as("__clamps")))
      .crossJoin(eo.select(col("src").as("node"))
        .union(eo.select(col("dst").as("node")))
        .distinct().agg(count(lit(1)).as("__nodes")))
      .crossJoin(if (weightCol.isDefined)
          eo.agg(coalesce(max(col("w")), lit(0L)).as("__maxw"))
        else edges.sparkSession.range(1).select(lit(1L).as("__maxw")))
    stOpt.foreach { st =>
      scalars = scalars.crossJoin(st
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("__c"))
        .agg(coalesce(max(col("__c")), lit(0L)).as("__dup"),
          coalesce(sum(when(!col("label").isin(labels: _*), 1L)
            .otherwise(0L)), lit(0L)).as("__offst"),
          coalesce(sum(col("__c")), lit(0L)).as("__strows")))
    }
    val srow = scalars.head()
    val (offSeeds, clampRows, nNodes, maxW) =
      (srow.getLong(1), srow.getLong(2), srow.getLong(3), srow.getLong(4))
    if (offSeeds > 0) {
      val offUniverse = seedRows.filter(!col("label").isin(labels: _*))
      require(false,
        s"seed labels outside the declared universe: ${offUniverse.take(5).mkString(", ")}")
    }
    stOpt.foreach { st =>
      if (srow.getLong(5) > 1L) {
        val dup = st.groupBy(col("node"), col("label"))
          .agg(count(lit(1)).as("__c")).where(col("__c") > 1)
        require(false,
          "labelPropagationDense resume: the supplied state table has " +
            s"duplicate rows per (node, label) — e.g. " +
            s"${dup.take(3).mkString("; ")} — which would silently inflate " +
            "every iteration's sums: aggregate the state to one row per " +
            "key before resuming")
      }
      if (srow.getLong(6) > 0L) {
        val offState = st.filter(!col("label").isin(labels: _*))
        require(false,
          "labelPropagationDense resume: state labels outside the declared " +
            s"universe: ${offState.take(5).mkString(", ")} — the clamped " +
            "recurrence cannot produce them, so the state was built with " +
            "DIFFERENT seeds and resuming it here would be wrong")
      }
    }
    // same loud overflow guard as the sparse path: a seed node clamps at
    // most L slots, so seed PAIRS ≤ clamp rows · L bounds the mass total
    requireLabelMassFits(clampRows * L, clampUnits, alphaNum, alphaDen,
      if (weightCol.isDefined) maxW else 1L, "labelPropagationDense")
    // per-round broadcast bar (r18, guide §3.1): the dense mass table is
    // ≤ one row per graph node or clamped seed node (the full join keeps
    // seeds outside the edge list), plus the state rows round 1 starts
    // from on resume, each carrying a length-L Long vector — the bar
    // scales down by the row width (see denseBar); above it the
    // per-round join stays sort-merge
    val stateRows = if (stOpt.isDefined) srow.getLong(7) else 0L
    val massBroadcastable = nNodes + clampRows + stateRows <= denseBar(L)

    var mass = stOpt match {
      case None => clamp.select(col("node"), col("cv").as("m"))
      case Some(st) =>
        // load each node's sparse rows into its length-L vector (absent
        // slot ≡ pruned sparse row ≡ 0 — the same identity the
        // cold-path equivalence rests on)
        st.groupBy(col("node"))
          .agg(array((0 until L).map(i =>
            max(when(col("label") === lit(labels(i)), col("mass"))
              .otherwise(lit(0L)))): _*).as("m"))
          .localCheckpoint(false)
    }
    var i = 0
    while (i < iterations) {
      // ONE row per (edge × mass-carrying src): the dense win
      val mh = if (massBroadcastable) broadcast(mass) else mass
      val contrib = eo.join(mh, eo("src") === mh("node"))
        .select(col("dst"), array((0 until L).map(j =>
          expr(s"element_at(m, ${j + 1}) * w div outw")): _*).as("c"))
      val in = contrib.groupBy(col("dst").as("node"))
        .agg(array((0 until L).map(j =>
          sum(col("c")(j))): _*).as("iv")) // L codegen'd Long sums
      mass = in
        .join(clamp, Seq("node"), "full")
        .select(col("node"), array((0 until L).map(j =>
          (expr(s"$alphaNum * coalesce(element_at(iv, ${j + 1}), 0L) div $alphaDen") +
            coalesce(col("cv")(j), lit(0L)))): _*).as("m"))
        .where(expr("exists(m, x -> x > 0)"))
        .localCheckpoint(false) // lazy lineage truncation (r17, see biasedRank)
      i += 1
    }
    // final argmax computed PER ROW (r18): a dense mass row already
    // holds its node's whole label distribution, so the winner and the
    // label count are array expressions — no explode, no exchange, no
    // window sort (the pre-r18 shape posexploded to sparse rows and ran
    // two window passes over a node-keyed shuffle). Tie-break identical
    // to the sparse path's: min over struct(-mass, label) ≡ (mass DESC,
    // label ASC); mass > 0, so the negation cannot overflow.
    val pairs = filter(
      zip_with(col("m"), labelArr, (mv, lb) =>
        struct(mv.as("mass"), lb.as("label"))),
      p => p("mass") > 0)
    mass
      .select(col("node"),
        array_min(transform(pairs, p =>
          struct((-p("mass")).as("__nm"), p("label").as("label")))).as("__t"),
        size(pairs).cast("long").as("n_labels"))
      .where(col("n_labels") > 0) // no positive slot ⇒ no claim (the
                                  // sparse-row-set honesty convention)
      .select(col("node"), col("__t.label").as("label"),
        (-col("__t.__nm")).as("mass_units"), col("n_labels"))
  }

  /** HITS (Kleinberg 1999) in the same exact integer fixed-point: per
    * iteration, authority(v) = Σ_{u→v} hub(u) and hub(u) = Σ_{u→v}
    * authority(v), each renormalized to ~`totalUnits` total mass by the
    * integer contraction `x div max(T div totalUnits, 1)` where T is the
    * raw total — a 1-row aggregate attached by broadcast, so the
    * normalizer is part of the plan, not driver state. All sums are
    * Longs: order-free, bit-deterministic, SQL-replayable (the q107
    * argument). Raw totals are bounded by edges·totalUnits, so
    * totalUnits·|E| < 2⁶³ is ENFORCED at entry (at 10⁹ edges use
    * totalUnits = 1e6 — the knob exists for exactly this reason).
    *
    * The per-phase renormalizer T is computed from the PREVIOUS node
    * table degree-weighted (T_a = Σ_u h_u·outdeg(u), T_h = Σ_v
    * a_v·indeg(v)) — mathematically identical to summing the raw phase
    * output (every edge delivers its source's score exactly once), but
    * the total comes from a node-sized join against the once-computed
    * degree tables instead of re-running the edge join+aggregate
    * subtree a second time per phase for the broadcast.
    *
    * Hub scores surface link CURATORS (pages whose out-links point at
    * authorities) — the crawl-seed-list signal next to pageRank's
    * authority signal. Returns (node, auth_units, hub_units, authority,
    * hub) with the unit columns exact and the doubles rounded 6 dp.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 5,
           totalUnits: Long = DefaultUnits): DataFrame = {
    require(iterations >= 1)
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(false)
    // node count + edge count in ONE action (r18): the job also
    // materializes the two lazy checkpoints above. The edge count feeds
    // the loud overflow guard — raw phase totals are bounded by
    // |E|·totalUnits (every edge delivers ≤ totalUnits of score).
    val srow = nodes.agg(count(lit(1)).as("__n"))
      .crossJoin(e.agg(count(lit(1)).as("__e"))).head()
    val (n, nEdges) = (srow.getLong(0), srow.getLong(1))
    require(n > 0, "hits on an empty edge list")
    requireProductFits(nEdges, totalUnits, "hits: totalUnits * |E|")
    val r0 = totalUnits / n

    // degree tables, computed once (lazily checkpointed: the first
    // round's consumers materialize them; every later phase reuses the
    // cached blocks): the renorm totals are degree-weighted node sums
    // (see class doc), so no phase re-runs its edge aggregate
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("odeg")).localCheckpoint(false)
    val indeg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("ideg")).localCheckpoint(false)

    // renormalize raw integer scores to ~totalUnits total mass; the
    // 1-row total is broadcast so both engines divide by the same T
    def rescale(raw: DataFrame, t: DataFrame, cName: String): DataFrame =
      raw.crossJoin(broadcast(t))
        .select(col("node"),
          expr(s"$cName div greatest(__t div $totalUnits, 1L)").as(cName))

    var hubs = nodes.withColumn("h", lit(r0))
    var auths = nodes.withColumn("a", lit(r0))
    var i = 0
    while (i < iterations) {
      // every join here carries a node-sized side (n is exact):
      // broadcast under the bar (r17, guide §3.1)
      val hh = hintNodeSide(hubs, n)
      val aRaw = nodes.join(hintNodeSide(
        e.join(hh, e("src") === hh("node"))
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a_raw")), n),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("a_raw"), lit(0L)).as("a"))
      // T_a = Σ_u h_u·outdeg(u): exactly Σ_v a_raw(v), from node-sized input
      val tA = hubs.join(hintNodeSide(outdeg, n), "node")
        .agg(coalesce(sum(col("h") * col("odeg")), lit(0L)).as("__t"))
      // lazy lineage truncation (r17, see biasedRank): the two phase
      // tables still cache on first use, so the twice-per-iteration
      // consumers (next phase's raw join + its degree-weighted total)
      // compute them once — without a dispatched job per phase
      auths = rescale(aRaw, tA, "a").localCheckpoint(false)
      val ah = hintNodeSide(auths, n)
      val hRaw = nodes.join(hintNodeSide(
        e.join(ah, e("dst") === ah("node"))
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("h_raw")), n),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("h_raw"), lit(0L)).as("h"))
      val tH = auths.join(hintNodeSide(indeg, n), "node")
        .agg(coalesce(sum(col("a") * col("ideg")), lit(0L)).as("__t"))
      hubs = rescale(hRaw, tH, "h").localCheckpoint(false)
      i += 1
    }
    auths.join(hubs, "node")
      .select(col("node"), col("a").as("auth_units"), col("h").as("hub_units"),
        round(col("a") / lit(totalUnits.toDouble), 6).as("authority"),
        round(col("h") / lit(totalUnits.toDouble), 6).as("hub"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, the near-linear-time community algorithm): every node starts
    * in its own community (label = node id); per round each node adopts
    * the MODE of its neighbors' labels plus its own current label (the
    * self-vote — the standard damping that keeps sync LPA from
    * oscillating on bipartite structure), ties broken toward the
    * smallest label. All votes are integer counts and the tie rule is
    * total, so every round — unlike classic random-order LPA — is
    * bit-deterministic, partitioning-independent, and SQL-replayable;
    * the cost is the known sync-LPA caveat that label flows can trade
    * places between rounds, which the self-vote damps but bounded
    * `iterations` does not fully eliminate (the R-round answer IS the
    * contract, exactly like pageRank's fixed-iteration contract).
    *
    * The LLM-pipeline use: domain/host community discovery on crawl
    * graphs (template farms and mirror networks collapse into one
    * community long before they are exact dupes) and topic-cluster
    * discovery over near-dup/similarity graphs — the unsupervised
    * sibling of [[labelPropagation]]'s seeded labeling.
    *
    * Scale shape: edges are symmetrized, dedup'd, and materialized
    * ONCE; per round ONE join of the (node, label) table (one row per
    * node) against the edge list + ONE (node, label) count shuffle +
    * one per-node argmax window over ≤distinct-neighbor-labels rows.
    * Labels are node ids (Longs) — no strings move. Returns (node,
    * community, csize) where community = the final label and csize =
    * community population.
    *
    * Weighted votes (`weightCol`): integer weights, a neighbor's vote
    * counts `w` instead of 1 — on a similarity graph, communities form
    * along STRONG near-dup ties rather than mere adjacency. Parallel
    * edges add; the symmetrized weight of an undirected pair is the sum
    * over both directions. The self-vote then carries `selfWeight`
    * (default 1) so its damping stays proportionate — all still integer
    * sums, still bit-deterministic, and scaling all weights AND
    * selfWeight by a common factor leaves every argmax unchanged
    * (spec-asserted).
    */
  def labelCommunities(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int = 4,
                       weightCol: Option[String] = None,
                       selfWeight: Long = 1L): DataFrame =
    communityLabels(edges, srcCol, dstCol, iterations, weightCol, selfWeight)

  /** Resume sync-LPA community detection from a persisted (node, label)
    * table — the recurrence is memoryless given current labels (votes
    * derive from labels + edges alone), so resuming R rounds from a
    * K-round label table is BIT-IDENTICAL to K+R cold rounds
    * (spec-asserted; the q118/q120 argument, completing the resume
    * seam across all three iterative families). Nodes absent from the
    * table (new to the graph) cold-start in their own community.
    */
  def labelCommunitiesResume(edges: DataFrame, srcCol: String, dstCol: String,
                             labels: DataFrame, iterations: Int,
                             weightCol: Option[String] = None,
                             selfWeight: Long = 1L): DataFrame =
    communityLabels(edges, srcCol, dstCol, iterations, weightCol, selfWeight,
      initLabels = Some(labels))

  private def communityLabels(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int,
                       weightCol: Option[String],
                       selfWeight: Long,
                       initLabels: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, "labelCommunities needs iterations >= 1")
    require(selfWeight >= 0, "selfWeight must be >= 0")
    val e = (weightCol match {
      case None =>
        // unweighted: symmetrize THEN dedup, so an input listing both
        // directions of a pair still casts ONE vote per neighbor
        val raw = edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"))
          .where(col("src").isNotNull && col("dst").isNotNull &&
            col("src") =!= col("dst"))
        // ONE exchange (r17, guide §2.4): partition by src first — it
        // clusters (src, dst), so the dedup runs on the same layout
        raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(col("src"))
          .dropDuplicates("src", "dst")
          .withColumn("w", lit(1L))
      case Some(wc) =>
        // weighted: parallel edges ADD; the undirected pair weight is
        // the sum over both listed directions
        val raw = edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"), col(wc).cast("long").as("w"))
          .where(col("src").isNotNull && col("dst").isNotNull &&
            col("w") > 0 && col("src") =!= col("dst"))
        raw.unionAll(raw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
          .repartition(col("src"))
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    })
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node")).distinct()
      .localCheckpoint(false)
    // the resume table may use the public output's `community` column
    // name or the raw `label`; normalized before the scalar job so its
    // duplicate-key guard rides the same action
    val initOpt = initLabels.map { il =>
      val lcol = if (il.columns.contains("label")) "label" else "community"
      il.select(col("node").cast("long").as("node"),
        col(lcol).cast("long").as("__init"))
    }
    // node count (the per-round broadcast bar, r17 guide §3.1) and the
    // resume path's duplicate-key guard in ONE action (r18): the count
    // also materializes the lazy edge/node checkpoints
    var scalars = nodes.agg(count(lit(1)).as("__n"))
    initOpt.foreach { init =>
      scalars = scalars.crossJoin(init.groupBy(col("node"))
        .agg(count(lit(1)).as("__c"))
        .agg(coalesce(max(col("__c")), lit(0L)).as("__dup")))
    }
    val srow = scalars.head()
    val n = srow.getLong(0)
    initOpt.foreach { init =>
      if (srow.getLong(1) > 1L) {
        val dup = init.groupBy(col("node")).agg(count(lit(1)).as("__c"))
          .where(col("__c") > 1)
        require(false,
          "labelCommunitiesResume: the supplied state table has duplicate " +
            s"rows per (node) — e.g. ${dup.take(3).mkString("; ")} — which " +
            "would silently inflate every iteration's sums: aggregate the " +
            "state to one row per key before resuming")
      }
    }

    var labels = initOpt match {
      case None => nodes.withColumn("label", col("node"))
      case Some(init) =>
        // warm start: provided labels win; nodes new to the graph
        // cold-start in their own community
        nodes.join(init, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__init"), col("node")).as("label"))
          .localCheckpoint(false)
    }
    var i = 0
    while (i < iterations) {
      // votes = every neighbor's label at edge weight + the self-vote
      val lh = hintNodeSide(labels, n)
      val votes = e.join(lh, e("src") === lh("node"))
        .select(e("dst").as("node"), col("label"), col("w").as("v"))
        .unionAll(labels.select(col("node"), col("label"),
          lit(selfWeight).as("v")))
      // per-round argmax as a second min-struct aggregation instead of
      // a window sort (r18, guide §2.3): min over struct(-c, label)
      // encodes the (votes DESC, label ASC) tie-break exactly — vote
      // sums are ≥ 0, so the negation cannot overflow. The struct
      // buffer plans as a SortAggregate, but its map-side partial
      // reduces each partition to ≤ 1 row per node before the
      // exchange, where row_number shuffled + sorted every vote row
      // per round
      labels = votes
        .groupBy(col("node"), col("label")).agg(sum(col("v")).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("__nc"),
          col("label").as("label"))).as("__t"))
        .select(col("node"), col("__t.label").as("label"))
        .localCheckpoint(false) // lazy lineage truncation (r17, see biasedRank)
      i += 1
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    labels.join(hintNodeSide(sizes, n), "label")
      .select(col("node"), col("label").as("community"), col("csize"))
  }

  /** Exact triangle counting with DEGREE ORIENTATION (Suri &
    * Vassilvitskii 2011's "curse of the last reducer" fix; Chiba &
    * Nishizeki 1985): each undirected edge is directed from its
    * lower-(degree, id) endpoint to its higher one, which makes the
    * orientation acyclic with out-degree bounded by O(√|E|) on ANY
    * graph — so the wedge join (the quadratic step in a naive
    * neighbor-join) is capped per node even when a hub has 10⁸
    * neighbors. Every triangle {u,v,w} then appears exactly once as
    * the oriented wedge u→v→w closed by u→w.
    *
    * Returns (node, degree, triangles, coeff): per-node triangle
    * counts and the local clustering coefficient `2T/(deg·(deg−1))`
    * (0 when degree < 2), rounded 6 dp — the graph-cohesion signal
    * used for spam detection (link farms have near-zero clustering
    * while organic neighborhoods are dense) and community quality.
    * All counts are integers over deterministic joins: bit-identical
    * across partitionings and fully SQL-replayable.
    *
    * Scale shape: symmetrize+dedup once; one degree aggregate; the
    * oriented edge list is a projection (degrees joined in, tuple
    * comparison); wedges = one self-equi-join on the middle node with
    * the √|E| out-degree bound; closure = one more equi-join against
    * the oriented list; per-node counts = one explode + count. No
    * iteration, no driver state.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val e = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    // orient each edge toward the higher (degree, id) endpoint
    val o = e
      .join(deg.select(col("node").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("degree").as("dd")), "dst")
      .where(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint()
    // wedges u→v→w closed by u→w: each triangle counted exactly once
    val tri = o.as("e1")
      .join(o.select(col("u").as("v"), col("v").as("w")).as("e2"), "v")
      .join(o.select(col("u"), col("v").as("w")).as("e3"), Seq("u", "w"), "semi")
      .select(col("u"), col("v"), col("w"))
    val perNode = tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6)).as("coeff"))
  }

  /** Bounded k-core peel (Seidman 1983): symmetrize + dedup the edge
    * list, then `rounds` synchronous peels — drop every node whose
    * current degree is below `k`, restrict the edge list to surviving
    * endpoints, repeat. When the peel converges within `rounds` (no
    * node dropped in the last round — true for any graph whose peel
    * depth ≤ rounds), the survivors are EXACTLY the k-core: the maximal
    * subgraph with all degrees ≥ k. Unconverged peels return the
    * R-round upper bound (a superset of the core) — the same
    * fixed-round contract as pageRank, chosen so the whole computation
    * is action-free and SQL-replayable (a fixpoint loop would make the
    * round count data-dependent). Returns surviving (node, degree,
    * converged) with degree measured in the final subgraph and
    * `converged` a constant flag the caller can gate on.
    *
    * The LLM-pipeline use: crawl-graph quality tiers — pages/hosts in a
    * high-k core sit in densely interlinked regions (established
    * sites), while spam farms and orphan clusters peel away at low k;
    * k-core is the standard cheap prefilter before PageRank-weighting a
    * frontier. On similarity graphs it isolates dense near-dup cliques.
    *
    * Scale shape: per round one degree count (map-side combined) + one
    * semi-join of edges against survivors on each endpoint; the edge
    * table shrinks monotonically, lineage is truncated per round, and
    * nothing but (node, degree) pairs ever shuffles.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int = 6,
            weightCol: Option[String] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore needs k >= 1 and rounds >= 1")
    // WEIGHTED peel (`weightCol` — the s-core / weighted-degree variant,
    // Garas et al. 2012): degree = Σ of incident edge weights, so the
    // survival bar measures tie STRENGTH, not tie count — on a
    // similarity graph the core keeps densely-AND-strongly connected
    // near-dup cliques while weakly-linked hubs peel. Parallel edges
    // ADD; the symmetrized weight of an undirected pair is the sum over
    // both listed directions (the labelCommunities rule). Unweighted
    // (w = 1) is bit-identical to the classic count path.
    val raw0 = edges
      .select((col(srcCol).cast("long").as("src") ::
        col(dstCol).cast("long").as("dst") ::
        weightCol.map(wc => col(wc).cast("long").as("w")).toList): _*)
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    var e = (weightCol match {
      case None =>
        // ONE exchange (r17, guide §2.4): partition by src first — it
        // clusters (src, dst), so the dedup runs on the same layout
        raw0.union(raw0.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(col("src"))
          .dropDuplicates("src", "dst")
          .withColumn("w", lit(1L))
      case Some(_) =>
        val raw = raw0.where(col("w") > 0)
        raw.unionAll(raw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
          .repartition(col("src"))
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    })
      .localCheckpoint(false) // lazy: the count below materializes it (r18)
    // exact node count (symmetrized: every node appears as a src) for
    // the broadcast bar — under it, both per-round survivor semi-joins
    // hash-broadcast `alive` and the edge table is NEVER re-shuffled
    // (the dst-side semi-join otherwise exchanges the whole edge table
    // by dst every round — r17, guide §3.1)
    val n = e.select(col("src")).distinct().count()
    var i = 0
    while (i < rounds) {
      val alive = e.groupBy(col("src").as("node"))
        .agg(sum(col("w")).as("deg"))
        .where(col("deg") >= k)
        .select(col("node"))
      e = e
        .join(hintNodeSide(alive.withColumnRenamed("node", "src"), n),
          Seq("src"), "semi")
        .join(hintNodeSide(alive.withColumnRenamed("node", "dst"), n),
          Seq("dst"), "semi")
        .select(col("src"), col("dst"), col("w"))
        .localCheckpoint(false) // lazy lineage truncation (r17, see biasedRank)
      i += 1
    }
    val deg = e.groupBy(col("src").as("node")).agg(sum(col("w")).as("degree"))
    // converged ⇔ the last peel dropped nobody ⇔ all final degrees ≥ k
    val conv = deg.agg((min(col("degree")) >= k).as("converged"))
    // no coalesce: an empty deg crossJoins to zero rows, and a non-empty
    // 1-row aggregate's flag is never null
    deg.crossJoin(broadcast(conv))
      .select(col("node"), col("degree"), col("converged"))
  }

  /** Quotient (community-level) graph — graph coarsening over a node→
    * community assignment (typically [[labelCommunities]]' output):
    * every edge maps to its endpoints' communities and collapses into
    * ONE super-edge per (src_comm, dst_comm) carrying the edge count
    * and summed weight; src_comm = dst_comm rows are the INTRA-community
    * mass (cohesion numerator). The multi-level primitive: host-level
    * crawl graphs coarsen to domain/community level, so the next
    * pageRank/trustRank pass runs on thousands of super-nodes instead
    * of billions of pages — the standard multilevel scheme (METIS /
    * Louvain aggregation step).
    *
    * Nodes absent from `labels` quotient to themselves (the d17
    * coalesce convention). Scale shape: two hash joins of the edge list
    * against the (node, community) table + one map-side-combined
    * aggregate — no iteration; output is community-pair-sized.
    * Integer counts/sums over deterministic joins: fully hash-oracled.
    */
  def quotientGraph(edges: DataFrame, srcCol: String, dstCol: String,
                    labels: DataFrame, nodeCol: String, communityCol: String,
                    weightCol: Option[String] = None): DataFrame = {
    val e = normalizeEdges(edges, srcCol, dstCol, weightCol)
    val lab = labels.select(col(nodeCol).cast("long").as("node"),
      col(communityCol).cast("long").as("comm"))
      .where(col("node").isNotNull && col("comm").isNotNull)
      .distinct()
    e.join(lab.select(col("node").as("src"), col("comm").as("__cs")),
        Seq("src"), "left")
      .join(lab.select(col("node").as("dst"), col("comm").as("__cd")),
        Seq("dst"), "left")
      .select(coalesce(col("__cs"), col("src")).as("src_comm"),
        coalesce(col("__cd"), col("dst")).as("dst_comm"), col("w"))
      .groupBy(col("src_comm"), col("dst_comm"))
      .agg(count(lit(1)).as("edges"), sum(col("w")).as("weight"))
  }

  /** Multi-source BFS hop distance from a seed set, bounded at
    * `maxHops` — the link-distance signal: how many forward hops
    * separate a node from the nearest trusted seed (Gyöngyi et al.'s
    * seed-distance spam heuristic, and the cheap reachability check
    * before a trustRank run: unreachable ⇒ rank exactly zero). Returns
    * (node, hop) with the MINIMUM hop, deterministically; nodes beyond
    * `maxHops` (or unreachable) are ABSENT — the labelPropagation
    * honesty convention. Seeds absent from the graph still report hop 0
    * if they appear as any endpoint. Fixed hop count ⇒ action-free per
    * ring, unrolled-CTE replayable (the kCore argument); per hop ONE
    * ring join against the src-partitioned edge list + one min-agg —
    * frontier rows only.
    */
  def hopDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, maxHops: Int,
                   weightCol: Option[String] = None): DataFrame = {
    require(maxHops >= 0, "hopDistances needs maxHops >= 0")
    val eNew = normalizeEdges(edges, srcCol, dstCol, weightCol)
      .select(col("src"), col("dst"))
      .repartition(col("src"))
      .localCheckpoint(false) // lazy: the count below materializes it (r18)
    val nodes = eNew.select(col("src").as("node"))
      .union(eNew.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val seedSet = seeds.select(col(seeds.columns.head).cast("long").as("node"))
      .where(col("node").isNotNull).distinct()
      .join(nodes, Seq("node"), "semi") // seeds outside the graph drop
    // every ring is bounded by the node count — the exact broadcast bar
    // for the per-hop ring joins (r17, guide §3.1)
    expandRings(seedSet, eNew, maxHops, nHint = nodes.count())
  }

  /** Shared bounded ring expansion: `frontier0` at hop 0, then `hops`
    * rounds of (ring ⋈ edges on src) + min-hop merge, lineage truncated
    * per round. Used by [[staleFrontier]] and [[hopDistances]].
    */
  private def expandRings(frontier0: DataFrame, eNew: DataFrame,
                          hops: Int, nHint: Long = Long.MaxValue): DataFrame = {
    var frontier = frontier0.withColumn("hop", lit(0L)).localCheckpoint(false)
    var i = 1
    while (i <= hops) {
      // the ring is node-bounded — broadcast under the bar so the
      // src-keyed edge table never re-sorts/moves (r17, guide §3.1)
      val ring = hintNodeSide(frontier.where(col("hop") === (i - 1)), nHint)
      val next = eNew.join(ring, eNew("src") === ring("node"))
        .select(eNew("dst").as("node"), lit(i.toLong).as("hop"))
      frontier = frontier.unionByName(next)
        .groupBy(col("node")).agg(min(col("hop")).as("hop"))
        .localCheckpoint(false) // lazy lineage truncation (r17, see biasedRank)
      i += 1
    }
    frontier
  }

  /** Connected components by bounded synchronous min-label propagation —
    * the SCALE path for component finding (Kiveris et al. 2014's
    * connected-components-in-MapReduce family, the simple label-
    * propagation member): every node starts labeled with its own id;
    * per round each node takes the MIN of its own label and its
    * neighbors' labels. After rounds ≥ component diameter the labels
    * are exactly the min-reachable-id components (`Dedup.
    * connectedComponents`' contract — spec-asserted equal when
    * converged); an unconverged run returns the R-round labels with
    * `converged = false` (the kCore bounded-round contract, so the
    * whole computation stays action-free and SQL-replayable where the
    * recursive-CTE closure is neither available nor bounded at 100 TB).
    * `converged` ⇔ no surviving edge joins two labels — checked as one
    * broadcast 1-row aggregate, not a fixpoint loop.
    *
    * Scale shape: symmetrize+dedup once; per round ONE (edges ⋈ labels
    * on src) join + ONE map-side-combined min shuffle keyed node —
    * label rows only (one per node), lineage truncated per round.
    */
  def minLabelComponents(edges: DataFrame, srcCol: String, dstCol: String,
                         rounds: Int = 8): DataFrame = {
    require(rounds >= 1, "minLabelComponents needs rounds >= 1")
    val raw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // ONE exchange (r17, guide §2.4): partition by src first — it
    // clusters (src, dst), so the dedup runs on the same layout
    val e = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .localCheckpoint(false) // lazy: the count below materializes it (r18)
    var lab = e.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(false)
    // exact node count for the broadcast bar (r17, guide §3.1); the one
    // action also materializes both lazy checkpoints above
    val n = lab.count()
    var i = 0
    while (i < rounds) {
      val lh = hintNodeSide(lab, n)
      lab = e.join(lh, e("src") === lh("node"))
        .select(e("dst").as("node"), col("comp"))
        .unionByName(lab.select(col("node"), col("comp")))
        .groupBy(col("node")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(false) // lazy lineage truncation (r17, see biasedRank)
      i += 1
    }
    // converged ⇔ every edge's endpoints agree — 1-row broadcast flag
    val conv = e
      .join(lab.select(col("node").as("src"), col("comp").as("__cs")), "src")
      .join(lab.select(col("node").as("dst"), col("comp").as("__cd")), "dst")
      .agg(coalesce(min(col("__cs") === col("__cd")), lit(true)).as("converged"))
    lab.crossJoin(broadcast(conv))
      .select(col("node"), col("comp").as("component"), col("converged"))
  }

  /** Normalize an edge list the way every iterative operator here does:
    * unweighted → distinct (src, dst) with w = 1; weighted → parallel
    * edges ADD, non-positive weights dropped.
    */
  private def normalizeEdges(edges: DataFrame, srcCol: String, dstCol: String,
                             weightCol: Option[String]): DataFrame =
    weightCol match {
      case None =>
        edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"))
          .where(col("src").isNotNull && col("dst").isNotNull)
          .distinct()
          .withColumn("w", lit(1L))
      case Some(wc) =>
        edges
          .select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst"), col(wc).cast("long").as("w"))
          .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    }

  /** Edge-list snapshot diff — the graph sibling of `Dedup.snapshotDiff`
    * (d14) and the "what changed" primitive the incremental-admission
    * family (d07/d14/d16/m08/q106) answers for content: classify every
    * (src, dst) pair across two graph snapshots as `added` / `removed` /
    * `reweighted` / `unchanged` from the normalized weights alone.
    * Unweighted graphs can only produce added/removed/unchanged.
    *
    * Scale shape: both snapshots normalize with ONE map-side-combined
    * aggregate each, then a single full-outer shuffle join keyed
    * (src, dst) — no iteration, no driver state; the output is one row
    * per surviving pair, and the typical incremental caller immediately
    * filters `status <> 'unchanged'`, which pushes down to the join
    * output before anything else moves.
    *
    * Returns (src, dst, w_old, w_new, status); w_old/w_new are null on
    * the side the pair is absent from, exactly like d14's md5 columns.
    */
  def edgeDelta(oldEdges: DataFrame, newEdges: DataFrame,
                srcCol: String, dstCol: String,
                weightCol: Option[String] = None): DataFrame = {
    val eo = normalizeEdges(oldEdges, srcCol, dstCol, weightCol)
      .withColumnRenamed("w", "w_old")
    val en = normalizeEdges(newEdges, srcCol, dstCol, weightCol)
      .withColumnRenamed("w", "w_new")
    eo.join(en, Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"), col("w_old"), col("w_new"),
        when(col("w_old").isNull, lit("added"))
          .when(col("w_new").isNull, lit("removed"))
          .when(col("w_old") === col("w_new"), lit("unchanged"))
          .otherwise(lit("reweighted")).as("status"))
  }

  /** Which nodes' ranks are STALE after an edge delta — the bounded
    * forward-reachability frontier that makes the graph family
    * incremental-aware: recompute (or re-verify) only the frontier
    * instead of re-ranking the whole corpus after a crawl increment.
    *
    * Contract: a changed edge (u→v, any status ≠ unchanged) perturbs
    * v's in-sum directly AND u's out-weight W_u — so every out-neighbor
    * of u in the NEW graph is perturbed too. That dirty set is hop 0;
    * influence then propagates one out-hop per rank iteration, so after
    * K iterations of [[pageRank]]/[[trustRank]]/[[labelPropagation]] on
    * the new graph, every node whose rank can differ from the old-graph
    * run lies in the frontier at `hops = K − 1` (hop h = first
    * iteration, 0-based, at which the node's value can diverge;
    * reported as the MINIMUM such hop, deterministically).
    *
    * The containment bound holds for a FIXED node universe (the typical
    * crawl increment: links move between known hosts). If the delta
    * adds or removes nodes, pageRank's teleport base `f(N)` shifts for
    * every node — a global uniform rescale on top of the structural
    * divergence this frontier tracks; label propagation (no teleport
    * term) keeps the containment bound even then, provided the seed
    * set is unchanged. BOTH claims are spec-asserted exactly:
    * GraphRankSpec proves the fixed-universe rank bound (ranks outside
    * the frontier bit-identical) AND the node-churn label bound (nodes
    * added and removed between snapshots, seeds unchanged — label
    * masses outside the frontier bit-identical per (node, label),
    * including identical absence).
    *
    * Scale shape: the delta is one full-outer join (see [[edgeDelta]]);
    * each hop is one join of the current frontier ring against the
    * src-keyed new edge list + one min-aggregate — frontier rows only,
    * never the corpus; lineage truncated per hop. Fixed `hops`, so the
    * whole computation is action-free and SQL-replayable as unrolled
    * CTEs (the kCore argument).
    *
    * Returns (node, hop).
    */
  def staleFrontier(oldEdges: DataFrame, newEdges: DataFrame,
                    srcCol: String, dstCol: String,
                    hops: Int,
                    weightCol: Option[String] = None): DataFrame =
    staleFrontierImpl(oldEdges, newEdges, srcCol, dstCol, hops, weightCol,
      preppedNew = None)

  /** [[staleFrontier]] on a pre-built (src, dst, w, …) normalized new
    * graph (see [[prepEdges]]) — the continuous loop hands its boundary
    * graph to the frontier AND the resume so the normalization exchange
    * is paid once per boundary (r18).
    */
  private[graft] def staleFrontierPrepped(oldEdges: DataFrame,
                    prepped: DataFrame,
                    srcCol: String, dstCol: String,
                    hops: Int,
                    weightCol: Option[String]): DataFrame =
    staleFrontierImpl(oldEdges, prepped, srcCol, dstCol, hops, weightCol,
      preppedNew = Some(prepped))

  private def staleFrontierImpl(oldEdges: DataFrame, newEdges: DataFrame,
                    srcCol: String, dstCol: String,
                    hops: Int,
                    weightCol: Option[String],
                    preppedNew: Option[DataFrame]): DataFrame = {
    require(hops >= 0, "staleFrontier needs hops >= 0")
    // normalize the NEW graph ONCE (r17, guide §1.2): the delta join
    // and the ring expansion both consume it — the pre-r17 shape ran
    // the normalization aggregate twice (once inside edgeDelta, once
    // for the ring edge list). src-partitioned so the rings reuse the
    // layout; the delta's (src, dst) full-outer join is satisfied by
    // the src subset partitioning. A caller-supplied prepped graph
    // (the continuous loop) skips the build entirely; the lazy
    // checkpoint (r18) folds materialization into the first consumer.
    val eNewW = preppedNew.map(_.select(col("src"), col("dst"), col("w")))
      .getOrElse(normalizeEdges(newEdges, srcCol, dstCol, weightCol)
        .repartition(col("src"))
        .localCheckpoint(false))
    val eo = normalizeEdges(oldEdges, srcCol, dstCol, weightCol)
      .withColumnRenamed("w", "w_old")
    val delta = eo
      .join(eNewW.select(col("src"), col("dst"), col("w").as("w_new")),
        Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"), col("w_old"), col("w_new"),
        when(col("w_old").isNull, lit("added"))
          .when(col("w_new").isNull, lit("removed"))
          .when(col("w_old") === col("w_new"), lit("unchanged"))
          .otherwise(lit("reweighted")).as("status"))
    val changed = delta.where(col("status") =!= "unchanged")
      .select(col("src"), col("dst"))
      .localCheckpoint(false) // lazy (r18): the nHint count materializes it
    val eNew = eNewW.select(col("src"), col("dst"))
    // hop 0: dst of every changed edge + (new-graph) out-neighbors of
    // every changed src — the nodes whose iteration-1 in-sum differs
    val dirty0 = changed.select(col("dst").as("node"))
      .union(eNew.join(changed.select(col("src")).distinct(), Seq("src"), "semi")
        .select(col("dst").as("node")))
      .distinct()
    // every ring is bounded by the new graph's node count — the exact
    // broadcast bar for the per-hop ring joins (r17, guide §3.1)
    val nHint = eNew.select(col("src").as("node"))
      .union(eNew.select(col("dst").as("node"))).distinct().count()
    expandRings(dirty0, eNew, hops, nHint = nHint)
  }
}
