package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.GraphRank

/** The continuous crawl-increment loop the r8 incremental-graph family
  * exists for, composed end-to-end: micro-batched link deltas stream in,
  * each batch boundary computes the [[GraphRank.staleFrontier]] against
  * the graph served at the previous boundary, and — only when the
  * frontier is non-empty — warm-starts a BOUNDED re-rank
  * ([[GraphRank.pageRankResume]], `resumeIterations` rounds from the last
  * full equilibrium) instead of re-ranking the corpus cold.
  *
  * Contract (the q125 two-phase contract, made continuous):
  *  - `oldEdges` is the last fully-ranked snapshot; its
  *    `oldIterations`-round equilibrium is computed ONCE and is the
  *    warm-start state at every boundary.
  *  - The stream carries (src, dst, weight) link-count PARTIALS of the
  *    REPLACEMENT snapshot. Partials are a monoid under (src, dst)
  *    weight-sum (the q119 argument), so the accumulated table at any
  *    boundary normalizes to exactly the links seen so far, regardless
  *    of how the stream was batched — which is what makes the drained
  *    result equal the one-shot batch run (spec-asserted).
  *  - At each boundary the accumulated graph REPLACES the old snapshot
  *    (the q116/q125 snapshot semantics), and the published ranks are
  *    `pageRankResume(accumulated, oldEquilibrium, resumeIterations)` —
  *    so after the final batch the result is BIT-IDENTICAL to the q125
  *    two-phase gate and replays its unrolled-CTE oracle verbatim.
  *
  * What the frontier is FOR here: (1) a boundary whose delta is empty
  * (no link changed since the last boundary — e.g. a heartbeat or
  * duplicate-suppressed batch) has an empty frontier, and the loop
  * provably skips the re-rank (empty delta ⇔ identical normalized
  * graphs ⇔ the resume would reproduce the published ranks bit-for-bit
  * — no containment assumption needed); (2) the per-boundary frontier
  * size is the operational staleness signal (how much of the served
  * ranking moved this increment), recorded in [[Boundary]]. The loop
  * deliberately does NOT publish old values for non-frontier nodes:
  * that shortcut is only sound on a FIXED node universe (the teleport
  * base shifts with N — see the staleFrontier doc and its churn specs),
  * and snapshot replacement churns nodes by construction.
  *
  * Scale shape: the one-time old-equilibrium rank is the q107 shape;
  * per boundary ONE append of pre-aggregated batch partials (map-side
  * combined, batch-sized), one full-outer delta join + `resumeIterations
  * − 1` frontier ring joins (frontier-sized), and a bounded
  * `resumeIterations`-round resume whose per-round cost is the
  * broadcastable rank join + one dst-keyed sum shuffle. Driver state:
  * the boundary stats and one pinned reference per boundary to the
  * accumulated graph (row data lives in block storage via
  * localCheckpoint, not on the driver).
  *
  * Reference analog: none — the reference's incremental story is
  * at-most-once task re-ingestion (worker/.../JobRunner semantics); a
  * continuously-maintained link-graph ranking has no counterpart there.
  */
object ContinuousGraphMaintenance {

  /** One batch boundary's maintenance record: the frontier size measured
    * against the previously served graph, and whether the bounded
    * re-rank ran (`recomputed = false` ⇔ empty frontier ⇔ provably
    * nothing to do).
    */
  final case class Boundary(batchId: Long, frontierSize: Long,
                            recomputed: Boolean)

  /** The drained run: the final published ranks (the pageRank output
    * contract: node, rank_units, rank) and the per-boundary stats.
    */
  final case class Run(ranks: DataFrame, boundaries: Seq[Boundary])

  /** Drain `linkStream` (a STREAMING DataFrame of (srcCol, dstCol,
    * weightCol) link partials, e.g. `readStream.parquet(...)` over
    * staged increment files) with `Trigger.AvailableNow`, maintaining
    * the rank equilibrium at every batch boundary as described in the
    * class doc. Returns the final boundary's published ranks — or the
    * old equilibrium itself when the stream delivered no batches (no
    * increment ⇒ the old snapshot is still the snapshot).
    *
    * Production callers that need RESTART resumption must pass stable
    * `accumDir`/`ranksDir` AND a `checkpointLocation` (all default to
    * fresh temp/none, the one-shot drain shape): the checkpoint is what
    * makes Structured Streaming redeliver only uncommitted batches, and
    * the stable dirs are what the Loop's redelivery idempotence is
    * measured against. With the defaults a driver restart silently
    * loses the accumulated graph and re-baselines — fine for a
    * drain-once job, wrong for a service.
    *
    * An `accumDir`/`ranksDir` pair belongs to ONE stream lineage (the
    * checkpoint that numbers its batches) — the same rule as
    * [[ContinuousIndexMaintenance.drain]]'s stateDir: `result` serves
    * whatever ranks are on disk in `ranksDir`, which is correct for
    * every restart of the same lineage but undefined if the dirs are
    * reused with a different `oldEdges`/source/checkpoint — stale
    * ranks (and accumulated partials) from the old lineage would be
    * served as if current. Start a new lineage in new dirs.
    */
  def continuousRank(spark: SparkSession,
                     oldEdges: DataFrame,
                     linkStream: DataFrame,
                     srcCol: String, dstCol: String, weightCol: String,
                     oldIterations: Int = 5,
                     resumeIterations: Int = 2,
                     dampNum: Long = 85, dampDen: Long = 100,
                     totalUnits: Long = GraphRank.DefaultUnits,
                     accumDir: Option[String] = None,
                     ranksDir: Option[String] = None,
                     checkpointLocation: Option[String] = None): Run = {
    require(resumeIterations >= 1,
      "continuousRank needs resumeIterations >= 1")
    // the last full equilibrium, computed once — every boundary's
    // warm-start state AND the no-increment fallback result. Lazy
    // checkpoint (r18): the first boundary's resume materializes it;
    // no job is dispatched when the stream turns out to be empty until
    // the fallback itself is consumed.
    val warmFull = GraphRank.pageRank(oldEdges, srcCol, dstCol,
      oldIterations, dampNum, dampDen, totalUnits, Some(weightCol))
      .localCheckpoint(false)
    val warmState = warmFull.select(col("node"), col("rank_units"))

    val loop = new Loop(spark, oldEdges, warmFull, warmState,
      srcCol, dstCol, weightCol, resumeIterations, dampNum, dampDen,
      totalUnits,
      accumDir.getOrElse(java.nio.file.Files
        .createTempDirectory("graft_cgm_accum").toString),
      ranksDir.getOrElse(java.nio.file.Files
        .createTempDirectory("graft_cgm_ranks").toString))
    ContinuousIndexMaintenance.drain(linkStream, checkpointLocation, loop)
  }

  /** The per-boundary state machine, extracted from the foreachBatch
    * closure so the REDELIVERY contract is spec-assertable rather than
    * asserted in prose: `accumDir`/`ranksDir` outlive a query restart,
    * and [[processBatch]] is idempotent per batchId — each batch's
    * partials land in a batchId-keyed subdirectory with OVERWRITE, so
    * when Structured Streaming redelivers the last uncommitted batchId
    * after a failure, the rewrite REPLACES the earlier attempt instead
    * of double-counting its weights into every later boundary (the
    * failure mode an append-mode accumulator has).
    *
    * After a restart the in-memory seam state is conservative, never
    * lossy: `served` re-baselines to `oldEdges` (frontier measured too
    * LARGE, so the first boundary re-ranks when it could have skipped)
    * and `published` re-arms (the first non-empty boundary republishes)
    * — both re-converge at that boundary because the accumulated graph
    * on disk is the ground truth.
    */
  private[graft] final class Loop(spark: SparkSession,
      oldEdges: DataFrame, warmFull: DataFrame, warmState: DataFrame,
      srcCol: String, dstCol: String, weightCol: String,
      resumeIterations: Int, dampNum: Long, dampDen: Long,
      totalUnits: Long, accumDir: String, ranksDir: String)
      extends ContinuousIndexMaintenance.StreamLoop[Run] {
    val boundaries = scala.collection.mutable.ArrayBuffer.empty[Boundary]
    // the graph the CURRENT published ranks were measured against —
    // oldEdges until the first increment lands
    private var served: DataFrame = oldEdges
    private var published = false
    // the accumulated partials table, composed IN MEMORY between
    // boundaries (r18): None until this incarnation's first boundary,
    // which reads the FULL accumDir (disk stays the ground truth, so a
    // restarted/redelivering loop re-baselines from the artifacts);
    // after that each boundary extends the chain with its own
    // just-written batch partials instead of re-reading O(total
    // accumulated) parquet per boundary. Sound because batchIds are
    // strictly increasing within one incarnation (foreachBatch never
    // redelivers without a restart, and a restart builds a fresh Loop
    // with accum = None), so the in-memory union is byte-equal to the
    // on-disk union at every boundary.
    private var accum: Option[DataFrame] = None

    def processBatch(batch: DataFrame, batchId: Long): Unit = {
      // map-side-combined partials, keyed by batchId (see class doc);
      // the weight monoid makes the accumulated table (the union of
      // the subdirectories) batching-invariant
      batch.groupBy(col(srcCol), col(dstCol))
        .agg(sum(col(weightCol)).as(weightCol))
        .write.mode("overwrite").parquet(s"$accumDir/batch=$batchId")
      // pin the boundary's accumulated snapshot (the parquet reads list
      // their files NOW, so later batches cannot leak into this
      // boundary's delta); lazy checkpoint (r18) — the frontier count
      // below materializes the blocks, where the pre-r18 eager
      // checkpoint of a full accumDir re-read dispatched an extra
      // O(total)-read job per boundary
      val current = (accum match {
        case Some(prev) => prev.unionAll(
          spark.read.parquet(s"$accumDir/batch=$batchId")
            .select(col(srcCol), col(dstCol), col(weightCol)))
        case None => spark.read.parquet(accumDir)
          .select(col(srcCol), col(dstCol), col(weightCol))
      }).localCheckpoint(false)
      accum = Some(current)
      // normalize the boundary graph ONCE (r18): the frontier
      // measurement and the resume consume the same prepped table —
      // previously each normalized `current` separately per boundary
      val prepped = GraphRank.prepEdges(current, srcCol, dstCol,
        Some(weightCol))
      val frontierSize = GraphRank.staleFrontierPrepped(served, prepped,
        srcCol, dstCol, hops = resumeIterations - 1, Some(weightCol))
        .count()
      // skip-check order (r18): the common skip (empty delta on an
      // already-published lineage) is decided from the frontier scalar
      // alone; the raw-emptiness probe (one cached-block limit-1 job)
      // only runs when the frontier says something changed
      if ((frontierSize == 0 && published) || current.isEmpty) {
        // empty delta ⇔ identical normalized graphs ⇔ the resume
        // would republish the same ranks bit-for-bit: skip it. An
        // EMPTY accumulated graph (only empty batches so far) also
        // skips: there is no snapshot to replace the old one with
        // yet, and rank on an empty edge list is a loud contract
        // violation, not a publishable equilibrium.
        boundaries += Boundary(batchId, frontierSize, recomputed = false)
      } else {
        GraphRank.pageRankResumePrepped(prepped, warmState,
          resumeIterations, dampNum, dampDen, totalUnits)
          .write.mode("overwrite").parquet(ranksDir)
        published = true
        boundaries += Boundary(batchId, frontierSize, recomputed = true)
      }
      served = current
    }

    /** Published ranks are detected ON DISK, not via the in-memory
      * `published` flag: a restarted loop over a stable ranksDir whose
      * stream had nothing left to redeliver must serve the ranks the
      * previous incarnation drained, not silently re-baseline to the
      * old equilibrium (the same disk-is-truth rule as
      * [[ContinuousIndexMaintenance]]'s version resolution).
      */
    def result: Run = {
      val onDisk = java.nio.file.Files.exists(
        java.nio.file.Paths.get(ranksDir, "_SUCCESS"))
      Run(if (published || onDisk) spark.read.parquet(ranksDir)
          else warmFull,
        boundaries.toSeq)
    }
  }
}
