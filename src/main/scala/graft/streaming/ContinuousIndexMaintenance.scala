package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Dedup, IndexMaintenance, Multimodal, Similarity}

/** The continuous form of the [[graft.operators.IndexMaintenance]] seam
  * — the q128 pattern for per-id derived state: corpus version deltas
  * stream in as micro-batches of (id, payload…, status) rows (the d14
  * snapshot-diff vocabulary: added / changed / removed, with the
  * payload columns carrying the NEW value for added/changed and ignored
  * for removed), and each batch boundary advances the persisted state
  * with the family maintainer's movement (anti-join the touched ids,
  * kernel the delta rows only — the unchanged corpus is never re-read
  * at any boundary).
  *
  * Two per-boundary state machines, both drained by the one
  * AvailableNow [[drain]] (which [[ContinuousGraphMaintenance]] shares):
  *  - [[Loop]], for a FIXED kernel: [[continuousIndex]] (q129 — the d19
  *    banded near-dup index), [[continuousPhash]] (m10 — the m09 media
  *    fingerprint table), [[continuousAssignments]] (s21 — the s18 ANN
  *    assignment state) and [[continuousIvfPq]] (s26 — the s24 IVFADC
  *    index under fixed codebooks). One state lineage per loop.
  *  - [[RetrainLoop]], for a kernel whose codebook the loop itself
  *    retrains and cuts: [[continuousAssignmentsWithRetrain]] (s25) and
  *    [[continuousIvfPqWithRetrain]] (s27). Five lineages per root
  *    (corpus, state, codebooks, census, norm) and three monitors
  *    (drift, census, norm). What differs between the two quantizer
  *    families — encode kernel, retrain, census cut, state dir and
  *    partitioning — is one [[Quantizer]] value with two instances;
  *    the boundary itself exists once.
  * Both machines share the [[Lineage]] versioning, the stats pass with
  * its duplicate-id guard, and their one-shot maintainer's rebuild
  * oracle.
  *
  * Contract (spec-asserted; the gates share the one-shot rebuild
  * oracles):
  *  - Batches apply SEQUENTIALLY: boundary k's state =
  *    maintain(boundary k−1's state, batch k). For batchings whose
  *    batches touch DISJOINT ids, the drained state is bit-identical to
  *    the one-shot batch maintenance of the union (and hence to a
  *    from-scratch rebuild of the final corpus). When the SAME id
  *    appears in several batches, later batches override earlier ones
  *    (last-writer-wins, the natural crawl semantics) — also
  *    spec-asserted.
  *  - State versions are written to batchId-KEYED directories: version
  *    k is a pure function of the on-disk chain below k and batch k, so
  *    Structured Streaming's redelivery of an uncommitted batchId
  *    REWRITES the same artifact (overwrite mode) instead of corrupting
  *    the chain — the same restart-idempotence argument as
  *    [[ContinuousGraphMaintenance]]'s accumulator, for REPLACED rather
  *    than accumulated state.
  *  - Ordinary boundaries persist O(DELTA), not O(corpus): a `d<k>/`
  *    delta version (kernel rows + per-id tombstones); a full `v<k>/`
  *    base lands only per [[LineagePolicy]] (every compactEvery-th
  *    boundary, or at boundaries that already pay a corpus-scale pass —
  *    retrain, census cut), and the vacuum retires superseded chains
  *    (r16 verdict #1 — the pre-r17 full-rewrite-per-boundary shape was
  *    the one 100 TB scale-killer the r16 audit found).
  *
  * Scale shape: per boundary the family kernel over the batch's
  * added/changed rows only and one DELTA-sized state write; reads
  * compose the latest base with ≤ compactEvery trailing deltas (one
  * window + one anti-join, all delta-sized). Driver state: the boundary
  * stats — row data lives in the versioned parquet state, not on the
  * driver.
  *
  * Reference analog: none — the reference re-ingests fixed task
  * partitions at-most-once (worker/.../JobRunner semantics); a
  * continuously-maintained derived index has no counterpart there.
  */
object ContinuousIndexMaintenance {

  /** One boundary's record: rows touched (removed ∪ changed) and rows
    * the kernel ran over (added ∪ changed) at that boundary.
    */
  final case class Boundary(batchId: Long, touched: Long, signatured: Long)

  /** The drained run: the final state and per-boundary stats. For the
    * near-dup index, serve via [[Dedup.cappedIndexView]] (the cap stays
    * a view — capping is not closed under deletion, d19's argument).
    */
  final case class Run(state: DataFrame, boundaries: Seq[Boundary])

  /** Storage policy for a loop's versioned state lineage (r16 verdict
    * #1 — r17's 100 TB scale fix). Before it, EVERY boundary wrote the
    * FULL state as a new version and nothing ever vacuumed the lineage:
    * O(corpus) write amplification per micro-batch and
    * O(corpus × boundaries) retained storage — untenable at a
    * minutes-cadence over 100 TB. With it, an ordinary boundary
    * persists only its DELTA (the family kernel's rows for the batch's
    * added∪changed ids plus one tombstone per touched id — O(batch),
    * the boundary's entire information content per the maintenance
    * theorem), and a FULL base version is written only (a) when the
    * chain below the boundary already trails `compactEvery − 1` deltas,
    * or (b) at boundaries that pay a corpus-scale pass by definition
    * (retrain, census cut — their outputs ARE full states), the natural
    * compaction points. State at any boundary = latest base + trailing
    * deltas composed last-writer-wins per id ([[Lineage.stateBelow]] —
    * ≤ compactEvery delta reads, one window, one anti-join; bounded,
    * never a history walk).
    *
    * The load-bearing restart rule is UNCHANGED: artifacts (base or
    * delta) land in batchId-keyed directories with overwrite; a batch's
    * bases are the latest ON-DISK artifacts strictly below its id; and
    * every artifact — INCLUDING the compact-or-delta decision, which
    * counts on-disk deltas strictly below k — is a pure function of
    * (chain below k, batch k), so Structured Streaming's redelivery of
    * an uncommitted batch rewrites byte-compatibly, whether the
    * boundary was a delta, a compaction, or a retrain.
    *
    * `vacuum` bounds retained storage at O(2·corpus +
    * 2·compactEvery·delta): at the end of every boundary k each
    * lineage deletes artifacts strictly below the latest BASE strictly
    * below k. Safety (the referenced-ness rule of
    * [[graft.operators.Similarity.vacuumIndexVersioned]] specialized to
    * a linear chain): batch k is the ONLY batch that can ever be
    * redelivered (k fires only after k−1 committed), and its recompute
    * resolves exactly the latest base below k plus the deltas between —
    * preserved by construction (k's own freshly-written base is never
    * the horizon). Long-horizon readers serve from the
    * manifest-committed serving layout
    * ([[graft.operators.Similarity.applyMovementVersioned]] +
    * [[graft.operators.Similarity.vacuumIndexVersioned]]'s pinned
    * `keepVersions`), not the loop lineage; `vacuum = false` retains
    * every version for forensics.
    */
  final case class LineagePolicy(compactEvery: Int = 8,
                                 vacuum: Boolean = true) {
    require(compactEvery >= 1,
      s"LineagePolicy: compactEvery $compactEvery must be ≥ 1 " +
        "(1 = every boundary writes a full base, the pre-r17 shape)")
  }

  private[graft] object Lineage {
    val BaseDir = "^v(\\d+)$".r
    val DeltaDir = "^d(\\d+)$".r
    /** Delta-row disposition column: "u" = upsert rows (the kernel's
      * output for the batch), "r" = tombstone. EVERY touched id gets a
      * tombstone — added and changed too, not just removed — because a
      * kernel may legitimately emit ZERO rows for an id (a text too
      * short to band, say) and the compose must still evict that id's
      * base rows, exactly as [[graft.operators.IndexMaintenance.upsert]]'s
      * anti-join does in the one-shot form.
      */
    val Status = "__g_status"
    private[streaming] val Ver = "__g_v"
    private[streaming] val MaxVer = "__g_maxv"
  }

  /** One versioned state directory on the Hadoop FS API (r16 verdict
    * #4: `java.nio.file` tied the loops to the local filesystem while
    * the serving layout and JobRunner spoke Hadoop FS; every
    * create/list/delete here resolves through
    * `path.getFileSystem(conf)` — the registry seam the s3a contract
    * spec exercises, so the loops run against `s3a://` roots
    * unchanged). Artifacts: `v<k>/` full base versions, `d<k>/` delta
    * versions. Only those two name shapes are lineage-owned: stray
    * entries in a caller-supplied dir (checkpoint crumbs, editor
    * droppings) are ignored by resolution and untouched by the vacuum.
    */
  private[graft] final class Lineage(spark: SparkSession, val dir: String) {
    import org.apache.hadoop.fs.Path
    private val root = new Path(dir)
    private val fs =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)

    private def entries(): Seq[String] =
      fs.listStatus(root).toSeq.map(_.getPath.getName)

    /** (latest base strictly below `b`, delta ids strictly between that
      * base and `b`, ascending). No base yet → (None, every delta < b).
      */
    def chainBelow(b: Long): (Option[Long], Seq[Long]) = {
      val names = entries()
      val base = names.collect {
        case Lineage.BaseDir(n) if n.toLong < b => n.toLong }.maxOption
      val lo = base.getOrElse(Long.MinValue)
      (base, names.collect {
        case Lineage.DeltaDir(n) if n.toLong < b && n.toLong > lo =>
          n.toLong
      }.sorted)
    }

    def writeBase(df: DataFrame, v: Long,
                  partitionCols: Seq[String] = Nil): Unit = {
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$dir/v$v")
    }

    /** Deltas are written UNPARTITIONED on purpose: they are
      * batch-sized (a scan costs nothing to prune), and partitioning
      * them would route null-keyed tombstones through the Hive default
      * partition and erase the key's type for no read benefit.
      */
    def writeDelta(df: DataFrame, v: Long): Unit =
      df.write.mode("overwrite").parquet(s"$dir/d$v")

    def readBase(v: Long): DataFrame = spark.read.parquet(s"$dir/v$v")

    /** Persist boundary `b` — the compact-or-delta step every lineage
      * shares: a full `base` (partitioned by `partitionCols`) when
      * `compact` is set or the chain below b already trails
      * compactEvery − 1 deltas, else the O(batch) delta of the kernel's
      * `rows` plus one tombstone per id in `diff`. The decision counts
      * on-disk deltas strictly below b — a pure function of disk below
      * b (a boundary's own writes never change it), so redelivery
      * re-decides identically.
      */
    def writeBoundary(b: Long, policy: LineagePolicy, diff: DataFrame,
        partitionCols: Seq[String] = Nil, compact: Boolean = false)(
        base: => DataFrame, rows: => DataFrame): Unit =
      if (compact || chainBelow(b)._2.size + 1 >= policy.compactEvery)
        writeBase(base, b, partitionCols)
      else writeDelta(deltaRows(rows, diff), b)

    /** The composed state strictly below boundary `b`: the latest base
      * (or `initial`) minus every id the trailing deltas touched, plus
      * each touched id's upsert rows from the LATEST delta touching it
      * (last-writer-wins — the cross-batch override contract). One
      * window over the ≤ compactEvery unioned deltas + one anti-join,
      * all delta-sized; the base is never re-read beyond the anti-join.
      */
    def stateBelow(b: Long, initial: => DataFrame,
                   idCol: String = "id"): DataFrame = {
      val (baseV, deltaVs) = chainBelow(b)
      val base = baseV.map(readBase).getOrElse(initial)
      if (deltaVs.isEmpty) base
      else {
        val deltas = deltaVs.map(v => spark.read.parquet(s"$dir/d$v")
          .withColumn(Lineage.Ver, lit(v))).reduce(_ unionByName _)
        val winners = deltas.withColumn(Lineage.MaxVer,
            max(col(Lineage.Ver)).over(org.apache.spark.sql.expressions
              .Window.partitionBy(col(idCol))))
          .filter(col(Lineage.Ver) === col(Lineage.MaxVer))
        base.join(winners.select(col(idCol)).distinct(),
            Seq(idCol), "left_anti")
          .unionByName(winners.filter(col(Lineage.Status) === "u")
            .drop(Lineage.Status, Lineage.Ver, Lineage.MaxVer))
      }
    }

    /** The retention sweep: delete every lineage artifact strictly
      * below the latest BASE strictly below `b`. Preserves exactly the
      * chain batch b's redelivery resolves against; owns only
      * `v<k>`/`d<k>` names. Returns artifacts deleted.
      */
    def vacuumBelow(b: Long): Long =
      chainBelow(b)._1.fold(0L) { horizon =>
        var n = 0L
        entries().foreach { name =>
          val id = name match {
            case Lineage.BaseDir(v) => Some(v.toLong)
            case Lineage.DeltaDir(v) => Some(v.toLong)
            case _ => None
          }
          if (id.exists(_ < horizon)) {
            fs.delete(new Path(root, name), true); n += 1
          }
        }
        n
      }
  }

  /** One delta-sized pass for EVERY per-boundary monitor statistic
    * (r17, guide §1.2/§3.2): the drift moved-share, the census
    * landings, and the vacated seats were three separate jobs — a
    * fresh-kernel⋈state join, a kernel aggregate, and a diff⋈state
    * join — each shuffling the corpus-sized state table by id. This
    * computes all three from ONE aggregated collect: the state side is
    * reduced to the touched ids first with a broadcast LEFT-SEMI join
    * (the batch's id set is micro-batch-bounded by construction — the
    * IndexMaintenance "broadcastable touched-id set" contract), so the
    * state is scanned once and never shuffled, and the collect is
    * bounded by |statuses| · (nLists+1)² rows, driver-safe at any
    * corpus scale. Rows: (status, fresh cid or null, stored cid or
    * null, count).
    */
  private def monitorStats(diff: DataFrame, enc: DataFrame,
      base: DataFrame): Array[(String, Long, Long, Long)] = {
    val touchedOld = base
      .select(col("id"), col("cid").cast("long").as("__old"))
      .join(broadcast(diff.select(col("id"))), Seq("id"), "left_semi")
    diff
      .join(enc.select(col("id"), col("cid").cast("long").as("__new")),
        Seq("id"), "left")
      .join(touchedOld, Seq("id"), "left")
      .groupBy(col("status"), col("__new"), col("__old"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) Long.MinValue else r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2),
        r.getLong(3)))
  }

  /** [[monitorStats]] readers — Long.MinValue encodes "absent". */
  private def statEncoded(st: Array[(String, Long, Long, Long)]) =
    st.filter { case (s, nw, _, _) =>
      (s == "added" || s == "changed") && nw != Long.MinValue }
  private def statMoved(st: Array[(String, Long, Long, Long)]): (Long, Long) = {
    val enc = statEncoded(st)
    (enc.collect { case (_, nw, old, n)
        if old != Long.MinValue && nw != old => n }.sum,
      enc.map(_._4).sum)
  }
  private def statLanded(st: Array[(String, Long, Long, Long)]): Array[(Long, Long)] =
    statEncoded(st).groupBy(_._2).view.mapValues(_.map(_._4).sum).toArray
  private def statVacated(st: Array[(String, Long, Long, Long)]): Array[(Long, Long)] =
    st.filter(_._3 != Long.MinValue)
      .groupBy(_._3).view.mapValues(_.map(_._4).sum).toArray

  /** Assemble a boundary's delta version: the kernel's upsert rows plus
    * one tombstone per touched id, shaped to the kernel's schema
    * (payload columns null). See [[Lineage.Status]] for why added and
    * changed ids are tombstoned too.
    */
  private def deltaRows(kernelRows: DataFrame, diff: DataFrame): DataFrame = {
    val fields = kernelRows.schema.fields.toSeq
    val tomb = diff
      .filter(col("status").isin("removed", "changed", "added"))
      .select(fields.map { f =>
        if (f.name == "id") col("id").cast(f.dataType).as("id")
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      .withColumn(Lineage.Status, lit("r"))
    kernelRows.withColumn(Lineage.Status, lit("u")).unionByName(tomb)
  }

  /** ONE stats pass per boundary, shared by both state machines: the
    * duplicate-id guard (one diff row per id per boundary —
    * last-writer-wins applies ACROSS batches; within one batch two rows
    * per id are order-ambiguous and would emit conflicting state rows,
    * so fail loudly — the requireUniqueKeys convention) folds into the
    * same aggregation as the boundary counts and the retrain-marker
    * count, keeping the per-boundary job count at one action. Marker
    * rows (`status = "retrain"`, null id) never count toward the guard.
    * Returns (touched, signatured, markers).
    */
  private def boundaryCounts(batch: DataFrame, idCol: String,
                             batchId: Long): (Long, Long, Long) = {
    val marker = coalesce(col("status") === "retrain", lit(false))
    def perId = batch.groupBy(col(idCol)).agg(
      count(when(!marker, 1)).as("__n"), count(when(marker, 1)).as("__m"),
      first(when(!marker, col("status")), ignoreNulls = true).as("__st"))
    val s = perId.agg(max(col("__n")),
      sum(when(col("__st").isin("removed", "changed"), 1L).otherwise(0L)),
      sum(when(col("__st").isin("added", "changed"), 1L).otherwise(0L)),
      sum(col("__m"))).head()
    if (s.isNullAt(0)) return (0L, 0L, 0L) // an empty batch
    require(s.getLong(0) <= 1L, {
      // examples recomputed on the error path only
      val dup = perId.where(col("__n") > 1).select(col(idCol), col("__n"))
      s"continuous maintenance: batch $batchId carries duplicate rows " +
        s"per '$idCol' — e.g. ${dup.take(3).mkString("; ")} — the " +
        "boundary contract is one diff row per id; pre-aggregate " +
        "the batch to its final per-id status upstream"
    })
    (s.getLong(1), s.getLong(2), s.getLong(3))
  }

  /** The d14 diff vocabulary arrives as rows; rebuild the two sides the
    * maintenance seam expects: its (id, status) `diff` and the
    * added∪changed delta docs with payload columns.
    */
  private def diffAndDocs(batch: DataFrame,
                          idCol: String): (DataFrame, DataFrame) =
    (batch.select(col(idCol).as("id"), col("status")),
      batch.filter(col("status").isin("added", "changed")).drop("status"))

  /** Drain `deltaStream` of (idCol, textCol, status) rows through
    * [[Dedup.maintainMinhashIndex]] — q129. See [[drain]] for the
    * restart contract.
    */
  def continuousIndex(spark: SparkSession,
                      initialState: DataFrame,
                      deltaStream: DataFrame,
                      textCol: String, idCol: String,
                      k: Int = 32, bands: Int = 8,
                      shingleN: Int = 3,
                      stateDir: Option[String] = None,
                      checkpointLocation: Option[String] = None,
                      lineagePolicy: LineagePolicy = LineagePolicy()): Run =
    drain(deltaStream, checkpointLocation,
      minhashLoop(spark, initialState, textCol, idCol, k, bands, shingleN,
        resolve(stateDir), lineagePolicy))

  /** Drain `deltaStream` of (idCol, payload binary, status) rows through
    * [[Multimodal.maintainPhashState]] — m10, the continuous form of
    * m09. The payload kernel (a full media decode in production) runs
    * over each batch's added/changed payloads only.
    */
  def continuousPhash(spark: SparkSession,
                      initialState: DataFrame,
                      deltaStream: DataFrame,
                      idCol: String,
                      stateDir: Option[String] = None,
                      checkpointLocation: Option[String] = None,
                      lineagePolicy: LineagePolicy = LineagePolicy()): Run =
    drain(deltaStream, checkpointLocation,
      phashLoop(spark, initialState, idCol, resolve(stateDir),
        lineagePolicy))

  /** Drain `deltaStream` of (idCol, groupCol, vecCol, status) rows
    * through [[Similarity.maintainAssignments]] under the FIXED
    * codebook `cents` — s21, the continuous form of s18 (retrains are
    * the separate rare event, [[Similarity.retrainReassign]]).
    */
  def continuousAssignments(spark: SparkSession,
                            initialState: DataFrame,
                            deltaStream: DataFrame,
                            cents: DataFrame,
                            idCol: String, groupCol: String, vecCol: String,
                            stateDir: Option[String] = None,
                            checkpointLocation: Option[String] = None,
                            lineagePolicy: LineagePolicy = LineagePolicy())
      : Run =
    drain(deltaStream, checkpointLocation,
      assignLoop(spark, initialState, cents, idCol, groupCol, vecCol,
        resolve(stateDir), lineagePolicy))

  /** Drain `deltaStream` of (idCol, vecCol, status) rows through
    * [[Similarity.maintainIvfPqIndex]] under FIXED two-stage codebooks —
    * s26, the continuous form of the s24 IVFADC index build (codebook
    * retrains stay the separate rare event: s20 one-shot, s25's loop).
    */
  def continuousIvfPq(spark: SparkSession,
                      initialState: DataFrame,
                      deltaStream: DataFrame,
                      coarseCb: Array[Array[Long]],
                      pqCbs: Array[Array[Array[Long]]],
                      idCol: String, vecCol: String,
                      scale: Long = 1000000L,
                      stateDir: Option[String] = None,
                      checkpointLocation: Option[String] = None,
                      lineagePolicy: LineagePolicy = LineagePolicy()): Run =
    drain(deltaStream, checkpointLocation,
      ivfPqLoop(spark, initialState, coarseCb, pqCbs, idCol, vecCol,
        scale, resolve(stateDir), lineagePolicy))

  // The Loop factories hand the family KERNEL (docs → fresh state rows
  // for the batch's added∪changed ids) — the exact function their
  // one-shot maintainer (maintainMinhashIndex / maintainPhashState /
  // maintainAssignments / maintainIvfPqIndex) hands to
  // IndexMaintenance.upsert — so a delta boundary can persist the
  // kernel's O(batch) output directly, and a compaction boundary runs
  // the identical upsert the one-shot form does. The rebuild theorems
  // carry unchanged: compose(base, deltas) ≡ upsert-folding the same
  // batches (spec-asserted against the one-shot oracles).

  private[graft] def ivfPqLoop(spark: SparkSession, initialState: DataFrame,
      coarseCb: Array[Array[Long]], pqCbs: Array[Array[Array[Long]]],
      idCol: String, vecCol: String, scale: Long, stateDir: String,
      policy: LineagePolicy = LineagePolicy()): Loop =
    new Loop(spark, initialState, idCol, stateDir,
      docs => Similarity.ivfPqEncodeFixedPoint(
        docs.select(col(idCol), col(vecCol)), coarseCb, pqCbs, scale,
        idCol, vecCol),
      // the served index is PHYSICALLY partitioned by list id, so
      // ivfPqSearchIndexed's probed-list filter prunes at the file
      // index — the s28 serving contract (Similarity.buildIvfPqIndex's
      // layout, kept by every BASE version write; deltas are
      // batch-sized and scanned whole by construction)
      partitionCols = Seq("cid"), policy = policy)

  private[graft] def minhashLoop(spark: SparkSession, initialState: DataFrame,
      textCol: String, idCol: String, k: Int, bands: Int, shingleN: Int,
      stateDir: String, policy: LineagePolicy = LineagePolicy()): Loop =
    new Loop(spark, initialState, idCol, stateDir,
      docs => Dedup.bandedSigs(
        docs.select(col(idCol), col(textCol)), textCol, idCol,
        k, bands, shingleN),
      policy = policy)

  private[graft] def phashLoop(spark: SparkSession, initialState: DataFrame,
      idCol: String, stateDir: String,
      policy: LineagePolicy = LineagePolicy()): Loop =
    new Loop(spark, initialState, idCol, stateDir,
      docs => Multimodal.perceptualHash(
        docs.select(col(idCol), col("payload")), idCol),
      policy = policy)

  private[graft] def assignLoop(spark: SparkSession, initialState: DataFrame,
      cents: DataFrame, idCol: String, groupCol: String, vecCol: String,
      stateDir: String, policy: LineagePolicy = LineagePolicy()): Loop =
    new Loop(spark, initialState, idCol, stateDir,
      docs => Similarity.assignVectors(
        docs.select(col(idCol), col(groupCol), col(vecCol)),
        cents, idCol, groupCol, vecCol),
      policy = policy)

  private def resolve(stateDir: Option[String]): String =
    stateDir.getOrElse(java.nio.file.Files
      .createTempDirectory("graft_cim_state").toString)

  /** One boundary's drift measurement (s29): of `measured` delta
    * vectors, `moved` had a prior assignment and a DIFFERENT fresh
    * argmax list — the integer pair the [[graft.operators.Similarity.DriftPolicy]]
    * cross-product decides on.
    */
  final case class DriftStat(batchId: Long, moved: Long, measured: Long)

  /** One boundary's census reading (s34): the hottest list's size and
    * the total — the exact integers the rebalance decision consumed.
    */
  final case class CensusStat(batchId: Long, hottest: Long, total: Long)

  /** One boundary's norm-envelope reading (r16, the norm-collapse
    * tripwire): the corpus's squared-norm envelope AFTER this
    * boundary's delta widened it — the exact integers
    * [[graft.operators.Similarity.NormPolicy]] decided on.
    */
  final case class NormStat(batchId: Long, minN2: Long, maxN2: Long)

  /** The s25 run record: the drained assignment state, per-boundary
    * stats, which boundaries retrained the codebook, and — when the
    * respective monitor ran — each boundary's measured drift statistic
    * (s29) / census reading + the boundaries the census monitor split
    * at (s34).
    */
  final case class RetrainRun(state: DataFrame, boundaries: Seq[Boundary],
                              retrainedAt: Seq[Long],
                              drift: Seq[DriftStat] = Nil,
                              rebalancedAt: Seq[Long] = Nil,
                              census: Seq[CensusStat] = Nil,
                              norms: Seq[NormStat] = Nil,
                              normFlaggedAt: Seq[Long] = Nil,
                              normRecoveredAt: Seq[Long] = Nil)

  /** s25: drift AND retrain composed through one continuous loop — the
    * two seams the one-shot gates exercise separately (s21's corpus
    * drift under a fixed codebook; s20's rare retrain under a fixed
    * corpus) driven through a single stream. `deltaStream` carries the
    * d14 diff vocabulary of (idCol, vecCol, status) rows, plus the
    * RETRAIN EVENT AS A SPECIAL ROW: a batch containing a
    * `status = "retrain"` marker first applies its corpus delta, then
    * re-trains the fixed-point codebook on the post-delta corpus
    * ([[graft.operators.Similarity.kmeansTrainFixedPoint]], the
    * deterministic capped trainer) and rewrites the assignment state
    * through [[graft.operators.Similarity.retrainReassign]] — whose
    * contract makes the post-boundary state ≡ a from-scratch
    * assignment of the boundary corpus under the new codebook,
    * REGARDLESS of any drift the maintained state carried in.
    * Subsequent batches maintain under the new codebook (delta-only
    * argmin upserts, s18's movement).
    *
    * Restart contract = the Loop's, for every state: corpus version,
    * assignment version, and codebook version (plus the census and
    * norm monitors' versions) each land in
    * batchId-keyed dirs under `stateRoot` with overwrite, and a batch's
    * bases are the latest ON-DISK versions strictly below its id — so a
    * redelivered uncommitted batch (even a retrain batch: training is a
    * pure function of the on-disk corpus base + the batch) REWRITES its
    * versions byte-compatibly instead of re-applying. The marker
    * travels IN the stream, so the retrain event itself is redelivered
    * with its batch — no driver-side trigger state to lose. Same
    * one-lineage-per-stateRoot rule as [[drain]].
    *
    * Scale shape per boundary: the s21 movement (anti-join + delta
    * argmin) plus, at retrain boundaries only, the s20 movement (one
    * capped training + one full scoring scan, write volume = moved
    * rows). The corpus-version upsert adds one payload-sized anti-join;
    * at 100 TB the corpus state is the existing lakehouse table, not a
    * per-loop copy — here it is materialized per version so training is
    * a pure function of on-disk state.
    *
    * The retrain trigger has two paths (s29 closes the r12 verdict's
    * "fixture-injected marker" note): the `status='retrain'` MARKER ROW
    * stays as the manual override, and `driftPolicy` — when supplied —
    * is the drift MONITOR: at every boundary the loop measures the
    * delta's MOVED-share (delta vectors whose fresh exact-integer
    * argmax under the CURRENT codebook differs from their stored
    * assignment — one delta-sized assignment scan + one id-join
    * against the assignment state, never a corpus pass) and retrains
    * when it crosses the policy's integer ratio
    * ([[graft.operators.Similarity.DriftPolicy]]; the distance-based
    * statistic was measured BLIND to sign-flip drift on this corpus —
    * [[graft.operators.Similarity.assignmentDist2]]'s caveat). Every
    * number the decision consumes is an exact integer, so the boundary
    * CHOICE is oracle-replayable, not just the retrain it triggers.
    * The statistic is a pure function of (on-disk codebook base,
    * on-disk assignment base, batch), so redelivery re-decides
    * identically — the restart contract is unchanged.
    *
    * `rebalancePolicy` (s34) is the third monitor, for the drift axis
    * neither of the other two sees: list-size SKEW. At every
    * non-retrain boundary the loop maintains an exact-integer census
    * of list sizes INCREMENTALLY — base census (a bounded nLists-row
    * version under `stateRoot/census`) plus this delta's landings and
    * vacated seats, both delta-sized aggregates; the state is never
    * re-scanned (the one exception: the first boundary of a lineage
    * baselines from the initial state, and a retrain boundary
    * re-baselines from the state its retrain already rewrote). When
    * any list crosses the policy, the boundary runs
    * [[graft.operators.Similarity.splitListsEven]] — the load-balanced
    * splitter, whose every child is ≤ the ceiling average, so the
    * monitor QUIESCES after one pass instead of re-triggering (the
    * 2-means splitter measurably does not settle on a tight clump —
    * graft.ListSkewProbe) — and versions the EXPANDED codebook like a
    * retrain would. Census, decision, cut, and landings are exact
    * integers: the oracle replays which boundary rebalances and where
    * every member lands. Pure function of on-disk bases + batch, so
    * redelivery re-decides identically. A marker/drift retrain
    * supersedes the census monitor at its boundary (the retrain
    * rewrites the codebook wholesale anyway).
    *
    * `normPolicy` (r16) is the fourth monitor, the NORM-COLLAPSE
    * tripwire for the failure mode r15 measured to be invisible to
    * every other signal ([[graft.operators.Similarity.NormPolicy]]):
    * the loop maintains the corpus's exact-integer squared-norm
    * ENVELOPE (baselined from the initial corpus at the lineage's
    * first boundary, widened by each delta's
    * [[graft.operators.Similarity.normEnvelope]] — delta-sized after
    * the baseline, versioned like the census) and records the
    * boundaries where the envelope ratio crosses the policy. The flag
    * is ADVISORY — it names the recovery ("L2-normalize ingest or
    * retrain quantizers") rather than triggering one, because the
    * measured collapse is NOT recoverable by any movement this loop
    * can take (the cut holds 0.235 recall, a full retrain 0.485,
    * normalized ingest 0.920 — RECALL.json `postRebalanceAdc`).
    * Monotone by design: removals never narrow the envelope, so the
    * tripwire stays tripped until the operator re-baselines a new
    * lineage. `NormPolicy(recover = true)` is REJECTED here: this
    * family has no normalized encode space to recover into, and a
    * flag the loop would ignore must fail loudly — the s41 recovery
    * lives on [[continuousIvfPqWithRetrain]].
    *
    * The boundary itself is [[RetrainLoop]]'s, shared with
    * [[continuousIvfPqWithRetrain]] through an [[AssignQuantizer]].
    */
  def continuousAssignmentsWithRetrain(
      spark: SparkSession,
      initialCorpus: DataFrame,
      initialState: DataFrame,
      initialCb: Array[Array[Long]],
      deltaStream: DataFrame,
      k: Int, maxIter: Int,
      scale: Long = 1000000L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      stateRoot: Option[String] = None,
      checkpointLocation: Option[String] = None,
      driftPolicy: Option[Similarity.DriftPolicy] = None,
      rebalancePolicy: Option[Similarity.RebalancePolicy] = None,
      normPolicy: Option[Similarity.NormPolicy] = None,
      lineagePolicy: LineagePolicy = LineagePolicy())
      : RetrainRun =
    drain(deltaStream, checkpointLocation,
      assignRetrainLoop(spark, initialCorpus, initialState, initialCb, k,
        maxIter, scale, idCol, vecCol, resolve(stateRoot), driftPolicy,
        rebalancePolicy, normPolicy, lineagePolicy))

  /** s27: drift AND retrain composed through one continuous loop for the
    * COMPOSED IVFADC index — [[continuousAssignmentsWithRetrain]]'s
    * machinery with the (id, list, residual codes) state of s24/s26 and
    * BOTH quantizer stages retrained at the marker boundary. Non-retrain
    * boundaries run s26's movement (delta-only encode upsert under the
    * current codebooks); a `status = "retrain"` marker boundary applies
    * its delta, re-trains coarse + residual-PQ on the post-delta corpus
    * ([[graft.operators.Similarity.ivfPqTrainFixedPoint]], both stages
    * capped/deterministic), and re-encodes the WHOLE corpus — under new
    * codebooks essentially every row's list or codes move, so a
    * moved-only write (s20's seam for assignments) has no volume to
    * save; the full index rewrite IS the production movement for a
    * quantizer swap. The boundary is [[RetrainLoop]]'s through an
    * [[IvfPqQuantizer]], so the restart contract is the assignment
    * loop's, with both codebook stages in the one staged
    * [[Codebooks]] format: every base resolves strictly below the
    * batch id, so redelivery — even of the retrain boundary — rewrites
    * byte-compatibly.
    *
    * `rebalancePolicy` (s39, r16 — the r15 verdict's #1) lifts the s34
    * census monitor to THIS composed loop, closing the serving story's
    * last seam: s37/s38 were one-shot offline repairs, while the
    * production IVFADC index drifts hot lists under a live stream. At
    * every non-retrain boundary the loop maintains the exact-integer
    * census of the PHYSICAL (id, cid, codes) lists incrementally (base
    * census + this delta's encode landings and vacated seats, all
    * delta-sized — the same shared-kernel trick as the assignment
    * loop: ONE delta encode feeds the census landings AND the upsert
    * kernel); when a list crosses the bar, the boundary runs the s37
    * cut ([[graft.operators.Similarity.rebalanceIvfPqIndex]]'s
    * movement form) over the post-delta physical state — splitting by
    * rank chunks AND re-encoding every split-list member's residual
    * codes against its chunk centroid (the r14 ADC lesson, met by
    * construction in the streaming path too) — then versions the
    * EXPANDED coarse codebook so later boundaries encode deltas under
    * it. Census, decision, cut, landings, and codes are exact
    * integers end to end (the s39 oracle replays decision AND
    * effect); the divergence guard is the assignment loop's: a
    * census-crossed boundary whose physical cut moves nothing fails
    * loud. A marker retrain supersedes the census at its boundary and
    * re-baselines it from the retrained index. `normPolicy` is the
    * same norm-collapse tripwire as the assignment loop's — it
    * matters MOST here, since the measured 0.235-recall collapse is
    * an ADC property ([[graft.operators.Similarity.NormPolicy]]) —
    * and with `recover = true` (s41, r17) it stops being advisory ON
    * THIS LOOP: the first flagged boundary re-trains both stages on
    * the fixed-point-NORMALIZED post-delta corpus
    * ([[graft.operators.Similarity.l2NormalizeFixedPoint]] — the
    * measured 0.92-recall recipe, RECALL.json `normRecovery`),
    * re-encodes the whole corpus, and persists the encode-space mode
    * in the norm lineage so every later boundary's delta encode,
    * drift statistic, and retrain run in normalized space (the corpus
    * lineage stays RAW — normalization is an encode-path property).
    * Pure function of on-disk bases + batch, so a redelivered
    * recovery boundary re-decides and rewrites identically; fires at
    * most once per lineage, reported in
    * [[RetrainRun.normRecoveredAt]].
    *
    * `lineagePolicy` (r17) governs the state lineage's storage shape
    * — O(delta) boundary writes, compaction cadence, vacuum; see
    * [[LineagePolicy]].
    *
    * `driftPolicy` (s40, r16) completes the monitor parity with the
    * assignment loop: the composed loop's retrain was marker-only
    * (s27 — fixture-injected, the exact note the r12 verdict raised
    * for s25 and s29 closed). The statistic is s29's, measured on the
    * composed state: the boundary's delta ENCODE (already computed —
    * its cid IS the fresh exact-integer coarse argmax) left-joins the
    * stored (id, cid) index rows; moved-share ≥ the policy's integer
    * cross-product triggers the TWO-STAGE retrain (coarse + residual
    * PQ on the post-delta corpus) and the full re-encode — s27's
    * marker movement, now chosen by measurement. Because the coarse
    * stage IS kmeansTrainFixedPoint, the statistic's integers are
    * bit-identical to the assignment loop's on the same staging — the
    * s29 margins (0% / ~39% / 100% at the 3/5 bar, measured at all
    * three SFs by graft.DriftProbe) carry verbatim. A drift retrain
    * supersedes the census monitor at its boundary exactly as a
    * marker does (and re-baselines the census from the retrained
    * index); the marker stays the manual override.
    *
    * POST-CUT SEMANTICS (shared with the assignment loop, deliberate):
    * the statistic measures against the PHYSICAL stored seats, and
    * after a census cut those are rank chunks, not Voronoi cells — a
    * delta re-touching a previously split region reads as moved even
    * where values barely changed, biasing the monitor TOWARD retrain
    * on post-cut churn. That bias is the s36 composition's
    * load-bearing behavior (the cut is the stopgap, the retrain the
    * recovery — RECALL.json pins that post-cut mid-range recall wants
    * the retrain), and the delta contract is the d14 diff vocabulary:
    * "changed" rows changed. A deployment replaying unchanged rows as
    * "changed" should expect the retrain to fire early, not never —
    * the conservative direction for retrieval quality.
    */
  def continuousIvfPqWithRetrain(
      spark: SparkSession,
      initialCorpus: DataFrame,
      initialState: DataFrame,
      initialCoarse: Array[Array[Long]],
      initialPq: Array[Array[Array[Long]]],
      deltaStream: DataFrame,
      dim: Int, nLists: Int, m: Int, codebookSize: Int,
      maxIterCoarse: Int, maxIterPq: Int,
      scale: Long = 1000000L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      stateRoot: Option[String] = None,
      checkpointLocation: Option[String] = None,
      driftPolicy: Option[Similarity.DriftPolicy] = None,
      rebalancePolicy: Option[Similarity.RebalancePolicy] = None,
      normPolicy: Option[Similarity.NormPolicy] = None,
      lineagePolicy: LineagePolicy = LineagePolicy()): RetrainRun =
    drain(deltaStream, checkpointLocation,
      ivfPqRetrainLoop(spark, initialCorpus, initialState, initialCoarse,
        initialPq, dim, nLists, m, codebookSize, maxIterCoarse, maxIterPq,
        scale, idCol, vecCol, resolve(stateRoot), driftPolicy,
        rebalancePolicy, normPolicy, lineagePolicy))

  /** A per-boundary state machine [[drain]] runs: `processBatch` is
    * the foreachBatch body, `result` what the drained run serves.
    */
  private[graft] trait StreamLoop[R] {
    def processBatch(batch: DataFrame, batchId: Long): Unit
    def result: R
  }

  /** Run the AvailableNow drain — the one drain every continuous entry
    * point goes through (the six here and
    * [[ContinuousGraphMaintenance.continuousRank]]). Production callers
    * that need RESTART resumption must pass a stable `stateDir` AND a
    * `checkpointLocation` (both default to fresh temp/none, the
    * one-shot test shape): the checkpoint is what makes Structured
    * Streaming redeliver only uncommitted batches, and the stable state
    * dir is what the redelivered batch's base is resolved against. With
    * the defaults a driver restart silently re-baselines from
    * `initialState` — fine for a drain-once job, wrong for a service.
    *
    * A stateDir belongs to ONE stream lineage (the checkpoint that
    * numbers its batches): served state is the HIGHEST on-disk version,
    * which is correct for every restart of the same lineage but
    * undefined if a stateDir is reused with a different source or a
    * fresh checkpoint whose batch ids restart from 0 — stale
    * higher-numbered versions from the old lineage would win. Start a
    * new lineage in a new stateDir.
    */
  private[streaming] def drain[R](deltaStream: DataFrame,
      checkpointLocation: Option[String], loop: StreamLoop[R]): R = {
    val w = deltaStream.writeStream
      .foreachBatch(loop.processBatch _)
      .trigger(Trigger.AvailableNow())
    checkpointLocation.fold(w)(cp => w.option("checkpointLocation", cp))
      .start().awaitTermination()
    loop.result
  }

  /** The per-boundary state machine, extracted (the q128 Loop pattern)
    * so the redelivery contract is spec-assertable, generic over the
    * family KERNEL: `kernel(docs)` derives fresh state rows from a
    * batch's added/changed rows with payload columns. Artifact k lands
    * in a batchId-keyed directory with OVERWRITE, and — the
    * load-bearing rule — batch k's BASE is always resolved from the
    * on-disk chain strictly BELOW k (falling back to the initial
    * state), never an in-memory pointer: after a failure, Structured
    * Streaming redelivers only the uncommitted batch k, and a loop that
    * resumed from memory (or from a half-written artifact k) would lose
    * or double-apply deltas. Batch k fires only after k−1 committed, so
    * every artifact below k is fully written; a partial directory can
    * only be k itself, which the `< k` rule excludes and the overwrite
    * rewrite repairs. Artifact k — a delta (kernel rows + tombstones),
    * or a full base when [[LineagePolicy.compactEvery]] says so — is
    * thus a pure function of (chain below k, batch k): redelivery
    * REWRITES it byte-compatibly, including the compact-or-delta
    * decision itself (it counts on-disk deltas strictly below k).
    */
  private[graft] final class Loop(spark: SparkSession,
      initialState: DataFrame, idCol: String, val stateDir: String,
      kernel: DataFrame => DataFrame,
      partitionCols: Seq[String] = Nil,
      policy: LineagePolicy = LineagePolicy()) extends StreamLoop[Run] {
    val boundaries = scala.collection.mutable.ArrayBuffer.empty[Boundary]

    private val lin = new Lineage(spark, stateDir)

    def processBatch(batch: DataFrame, batchId: Long): Unit = {
      val (touched, signatured, _) = boundaryCounts(batch, idCol, batchId)
      val (diff, docs) = diffAndDocs(batch, idCol)
      // a compaction folds the chain + this batch into a full base — the
      // identical upsert the one-shot maintainer runs; an ordinary
      // boundary persists O(batch): the kernel's rows plus tombstones,
      // the unchanged corpus neither read nor written
      lin.writeBoundary(batchId, policy, diff, partitionCols)(
        base = IndexMaintenance.upsert(lin.stateBelow(batchId, initialState),
          diff, docs, idCol)(_ => kernel(docs)),
        rows = kernel(docs))
      if (policy.vacuum) lin.vacuumBelow(batchId)
      boundaries += Boundary(batchId, touched, signatured)
    }

    /** The served state is composed from the latest ON-DISK chain — not
      * an in-memory pointer — so a restarted Loop over a stable
      * stateDir whose stream had nothing left to redeliver still serves
      * the drained state rather than silently re-baselining.
      */
    def result: Run =
      Run(lin.stateBelow(Long.MaxValue, initialState), boundaries.toSeq)
  }

  /** The codebooks a [[RetrainLoop]] versions: the coarse lists and, for
    * the IVF-PQ family, the residual-PQ codebooks per subspace (empty
    * for assignments). Persisted as one parquet of (stage, sub, cid,
    * pos, c) rows: stage 0 = coarse rows (sub pinned 0), stage 1 =
    * residual-PQ rows keyed by subspace.
    */
  private[graft] final case class Codebooks(coarse: Array[Array[Long]],
      pq: Array[Array[Array[Long]]] = Array.empty)

  /** Everything that differs between the two quantizer families a
    * [[RetrainLoop]] maintains; the boundary itself exists once: `dir`
    * names the state lineage under the loop root, `partitionCols` its
    * base versions' physical partitioning. Every method is a pure
    * function of its inputs, so the loop's redelivery argument carries
    * to both families unchanged.
    */
  private[graft] sealed abstract class Quantizer(val dir: String,
      val partitionCols: Seq[String]) {
    /** Fresh state rows (id, cid, …) for `docs` under `cb`. */
    def encode(docs: DataFrame, cb: Codebooks, scale: Long, idCol: String,
               vecCol: String): DataFrame
    /** Retrain on the post-delta (id, vecCol) `corpus`: (new codebooks,
      * the full new state).
      */
    def retrain(state: DataFrame, corpus: DataFrame, scale: Long,
                vecCol: String): (Codebooks, DataFrame)
    /** The census cut over the post-delta physical `state`: (expanded
      * codebooks, the full new state, the checkpointed (id, old_cid,
      * cid) movement). An uncut census returns `cb` unchanged.
      */
    def cut(state: DataFrame, corpus: DataFrame, cb: Codebooks,
            pol: Similarity.RebalancePolicy, scale: Long, vecCol: String)
        : (Codebooks, DataFrame, DataFrame)
  }

  /** s25's family: (id, cid) assignments under one k-means codebook,
    * retrained through [[graft.operators.Similarity.retrainReassign]]
    * (write volume = moved rows) and cut by
    * [[graft.operators.Similarity.splitListsEven]] — the load-balanced
    * splitter, whose every child is ≤ the ceiling average, so the
    * census monitor QUIESCES after one pass instead of re-triggering
    * (the 2-means splitter measurably does not settle on a tight
    * clump — graft.ListSkewProbe).
    */
  private[graft] final case class AssignQuantizer(k: Int, maxIter: Int)
      extends Quantizer("assign", Nil) {
    def encode(docs: DataFrame, cb: Codebooks, scale: Long, idCol: String,
               vecCol: String): DataFrame =
      Similarity.assignFixedPoint(docs, cb.coarse, scale, idCol, vecCol)
    def retrain(state: DataFrame, corpus: DataFrame, scale: Long,
                vecCol: String): (Codebooks, DataFrame) = {
      val cb = Similarity.kmeansTrainFixedPoint(corpus, k, maxIter, scale,
        idCol = "id", vecCol = vecCol)
      (Codebooks(cb), Similarity.retrainReassign(
          state.select(col("id"), col("cid")), corpus, cb, scale,
          idCol = "id", vecCol = vecCol)
        .select(col("id"), col("cid")))
    }
    def cut(state: DataFrame, corpus: DataFrame, cb: Codebooks,
            pol: Similarity.RebalancePolicy, scale: Long, vecCol: String)
        : (Codebooks, DataFrame, DataFrame) = {
      val (movement, coarse) = Similarity.splitListsEven(corpus, cb.coarse,
        pol, scale, idCol = "id", vecCol = vecCol, state = Some(state))
      // lazy (r18): the state write materializes it, the census movers
      // collect reuses the cached blocks
      val mv = movement.localCheckpoint(false)
      (Codebooks(coarse), mv.select(col("id"), col("cid")), mv)
    }
  }

  /** s27's family: the composed (id, cid, codes) IVFADC index, BOTH
    * stages retrained and the WHOLE corpus re-encoded — under new
    * codebooks essentially every row's list or codes move, so a
    * moved-only write has no volume to save; the full index rewrite IS
    * the production movement for a quantizer swap. The cut is s37's
    * ([[graft.operators.Similarity.rebalanceIvfPqMovement]]): rank-chunk
    * split AND every split-list member's residual codes re-encoded
    * against its chunk centroid (the r14 ADC lesson). Base versions are
    * PHYSICALLY partitioned by list id, so ivfPqSearchIndexed's
    * probed-list filter prunes at the file index — the s28 serving
    * contract (deltas are batch-sized and scanned whole by design).
    */
  private[graft] final case class IvfPqQuantizer(dim: Int, nLists: Int,
      m: Int, codebookSize: Int, maxIterCoarse: Int, maxIterPq: Int)
      extends Quantizer("index", Seq("cid")) {
    def encode(docs: DataFrame, cb: Codebooks, scale: Long, idCol: String,
               vecCol: String): DataFrame =
      Similarity.ivfPqEncodeFixedPoint(docs, cb.coarse, cb.pq, scale,
        idCol, vecCol)
    def retrain(state: DataFrame, corpus: DataFrame, scale: Long,
                vecCol: String): (Codebooks, DataFrame) = {
      val (coarse, pq) = Similarity.ivfPqTrainFixedPoint(corpus, dim,
        nLists, m, codebookSize, maxIterCoarse, maxIterPq, scale,
        idCol = "id", vecCol = vecCol)
      val cb = Codebooks(coarse, pq)
      (cb, encode(corpus, cb, scale, "id", vecCol))
    }
    def cut(state: DataFrame, corpus: DataFrame, cb: Codebooks,
            pol: Similarity.RebalancePolicy, scale: Long, vecCol: String)
        : (Codebooks, DataFrame, DataFrame) = {
      val (idx, coarse, movement) = Similarity.rebalanceIvfPqMovement(
        state, corpus, cb.coarse, cb.pq, pol, scale, idCol = "id",
        vecCol = vecCol)
      // lazy (r18): the census movers collect materializes it
      (Codebooks(coarse, cb.pq), idx, movement.localCheckpoint(false))
    }
  }

  /** The s25 loop ([[continuousAssignmentsWithRetrain]]). The
    * assignment family has no normalized encode space, so a
    * `NormPolicy(recover = true)` — which only the IVF-PQ family acts
    * on — is rejected here rather than silently ignored.
    */
  private[graft] def assignRetrainLoop(spark: SparkSession,
      initialCorpus: DataFrame, initialState: DataFrame,
      initialCb: Array[Array[Long]], k: Int, maxIter: Int, scale: Long,
      idCol: String, vecCol: String, root: String,
      driftPolicy: Option[Similarity.DriftPolicy] = None,
      rebalancePolicy: Option[Similarity.RebalancePolicy] = None,
      normPolicy: Option[Similarity.NormPolicy] = None,
      policy: LineagePolicy = LineagePolicy()): RetrainLoop = {
    require(!normPolicy.exists(_.recover),
      "continuousAssignmentsWithRetrain: NormPolicy(recover = true) is " +
        "not supported — the assignment family has no normalized encode " +
        "space to recover into, so the flag would be ignored; use " +
        "continuousIvfPqWithRetrain for the s41 recovery, or " +
        "recover = false for the advisory tripwire")
    new RetrainLoop(spark, initialCorpus, initialState, Codebooks(initialCb),
      AssignQuantizer(k, maxIter), scale, idCol, vecCol, root,
      driftPolicy, rebalancePolicy, normPolicy, policy)
  }

  /** The s27 loop ([[continuousIvfPqWithRetrain]]). */
  private[graft] def ivfPqRetrainLoop(spark: SparkSession,
      initialCorpus: DataFrame, initialState: DataFrame,
      initialCoarse: Array[Array[Long]], initialPq: Array[Array[Array[Long]]],
      dim: Int, nLists: Int, m: Int, codebookSize: Int,
      maxIterCoarse: Int, maxIterPq: Int, scale: Long,
      idCol: String, vecCol: String, root: String,
      driftPolicy: Option[Similarity.DriftPolicy] = None,
      rebalancePolicy: Option[Similarity.RebalancePolicy] = None,
      normPolicy: Option[Similarity.NormPolicy] = None,
      policy: LineagePolicy = LineagePolicy()): RetrainLoop =
    new RetrainLoop(spark, initialCorpus, initialState,
      Codebooks(initialCoarse, initialPq),
      IvfPqQuantizer(dim, nLists, m, codebookSize, maxIterCoarse, maxIterPq),
      scale, idCol, vecCol, root, driftPolicy, rebalancePolicy, normPolicy,
      policy)

  /** The retrain state machine for both quantizer families (see
    * [[continuousAssignmentsWithRetrain]] and
    * [[continuousIvfPqWithRetrain]]): the Loop's disk-is-truth
    * versioning applied to five lineages under `root` — corpus payload
    * and the quantizer's state (delta-chained, O(batch) at ordinary
    * boundaries), codebooks, census and norm (bounded-size snapshots:
    * k·dim / nLists / 1 rows, written as bases) — all on the Hadoop FS
    * API (r16 verdict #4) and vacuumed on one sweep. A marker row, the
    * drift monitor, or the norm recovery selects the retrain movement
    * over the delta upsert at its boundary; the census monitor selects
    * the cut. Write order is norm → corpus → codebooks → state →
    * census, and every artifact resolves strictly below the batch id,
    * so a crash between any two writes redelivers into byte-compatible
    * rewrites — the order inside a boundary does not matter.
    */
  private[graft] final class RetrainLoop(spark: SparkSession,
      initialCorpus: DataFrame, initialState: DataFrame,
      initialCb: Codebooks, quantizer: Quantizer, scale: Long,
      idCol: String, vecCol: String, val root: String,
      driftPolicy: Option[Similarity.DriftPolicy] = None,
      rebalancePolicy: Option[Similarity.RebalancePolicy] = None,
      normPolicy: Option[Similarity.NormPolicy] = None,
      policy: LineagePolicy = LineagePolicy())
      extends StreamLoop[RetrainRun] {
    import spark.implicits._

    val boundaries = scala.collection.mutable.ArrayBuffer.empty[Boundary]
    val retrainedAt = scala.collection.mutable.ArrayBuffer.empty[Long]
    val driftStats = scala.collection.mutable.ArrayBuffer.empty[DriftStat]
    val rebalancedAt = scala.collection.mutable.ArrayBuffer.empty[Long]
    val censusStats = scala.collection.mutable.ArrayBuffer.empty[CensusStat]
    val normStats = scala.collection.mutable.ArrayBuffer.empty[NormStat]
    val normFlaggedAt = scala.collection.mutable.ArrayBuffer.empty[Long]
    val normRecoveredAt = scala.collection.mutable.ArrayBuffer.empty[Long]

    private val corpusLin = new Lineage(spark, s"$root/corpus")
    private val stateLin = new Lineage(spark, s"$root/${quantizer.dir}")
    private val cbLin = new Lineage(spark, s"$root/cb")
    private val censusLin = new Lineage(spark, s"$root/census")
    private val normLin = new Lineage(spark, s"$root/norm")

    // normalized (id, vecCol) corpus-state view of the caller's corpus
    private val initCorpusN = initialCorpus
      .select(col(idCol).as("id"), col(vecCol))

    private def writeCb(cb: Codebooks, v: Long): Unit = {
      def rows(stage: Int, sub: Int, lists: Array[Array[Long]]) =
        lists.zipWithIndex.flatMap { case (c, cid) =>
          c.zipWithIndex.map { case (x, pos) =>
            (stage, sub, cid.toLong, pos.toLong, x) } }
      cbLin.writeBase((rows(0, 0, cb.coarse) ++
          cb.pq.zipWithIndex.flatMap { case (p, s) => rows(1, s, p) })
        .toSeq.toDF("stage", "sub", "cid", "pos", "c"), v)
    }

    private def readCb(v: Long): Codebooks = {
      val rows = cbLin.readBase(v)
        .select(col("stage"), col("sub"), col("cid"), col("pos"), col("c"))
        .collect()
      def lists(rs: Array[org.apache.spark.sql.Row]) =
        rs.groupBy(_.getLong(2)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getLong(3)).map(_.getLong(4)).toArray).toArray
      Codebooks(lists(rows.filter(_.getInt(0) == 0)),
        rows.filter(_.getInt(0) == 1).groupBy(_.getInt(1)).toSeq
          .sortBy(_._1).map { case (_, sub) => lists(sub) }.toArray)
    }

    private def writeCensus(c: Iterable[(Long, Long)], b: Long): Unit =
      censusLin.writeBase(
        c.toSeq.sortBy(_._1).toDF("cid", "n").coalesce(1), b)

    // index versions are read back through a cid= partition layout, so
    // the partition column may come back INT — normalize before getLong
    private def censusOf(state: DataFrame): Map[Long, Long] =
      state.groupBy(col("cid").cast("long").as("cid")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    /** The norm-collapse tripwire (see [[continuousAssignmentsWithRetrain]])
      * PLUS the s41 recovery decision (r17): widen the on-disk envelope
      * with this boundary's delta (the lineage's first boundary
      * baselines from the corpus base — the one corpus-scale pass),
      * version it with the lineage's encode-space MODE ("raw" | "l2"),
      * and record the flag. A [[graft.operators.Similarity.NormPolicy]]
      * with `recover` set (IVF-PQ family only — the assignment factory
      * rejects it) transitions raw → l2 at the first flagged boundary.
      * Returns (mode this boundary operates under, whether THIS boundary
      * executes the recovery). Pure function of (norm chain below k,
      * corpus base, batch) — redelivery re-decides identically, the
      * loops' standing restart contract. The envelope itself stays the
      * RAW ingest envelope in both modes (the anomaly is real and
      * monotone; `recover` changes the encode space, not the monitor).
      */
    private def normTick(docs: DataFrame, corpusBase: DataFrame,
                         batchId: Long): (String, Boolean) =
      normPolicy match {
        case None => ("raw", false)
        case Some(pol) =>
          // select by NAME before the positional reads (r16 advice):
          // correctness must not hinge on the write's column order
          val (bMin, bMax, bMode) = normLin.chainBelow(batchId)._1
            .map(v => normLin.readBase(v).select(col("minN2"), col("maxN2"),
              col("mode")).as[(Long, Long, String)].head())
            .getOrElse {
              val e = Similarity.normEnvelope(corpusBase, scale,
                idCol = "id", vecCol = vecCol)
                .getOrElse((Long.MaxValue, Long.MinValue))
              (e._1, e._2, "raw")
            }
          val env = Similarity.normEnvelope(docs, scale, idCol, vecCol)
            .fold((bMin, bMax)) { case (dmin, dmax) =>
              (math.min(bMin, dmin), math.max(bMax, dmax)) }
          val flagged = pol.flags(env._1, env._2)
          val recoverNow = pol.recover && bMode == "raw" && flagged
          val mode = if (recoverNow || bMode == "l2") "l2" else "raw"
          normLin.writeBase(Seq((env._1, env._2, mode))
            .toDF("minN2", "maxN2", "mode").coalesce(1), batchId)
          normStats += NormStat(batchId, env._1, env._2)
          if (flagged) normFlaggedAt += batchId
          (mode, recoverNow)
      }

    def processBatch(batch: DataFrame, batchId: Long): Unit = {
      val (touched, signatured, markers) =
        boundaryCounts(batch, idCol, batchId)
      val (diff, docs) =
        diffAndDocs(batch.filter(col("status") =!= "retrain"), idCol)
      val corpusBase = corpusLin.stateBelow(batchId, initCorpusN)
      val stateBase = stateLin.stateBelow(batchId, initialState)
      val cbBase = cbLin.chainBelow(batchId)._1.map(readCb)
        .getOrElse(initialCb)
      // the tripwire + RECOVERY decision + encode-space mode (s41) —
      // decided FIRST so every kernel below runs in the right space
      val (encMode, recoverNow) = normTick(docs, corpusBase, batchId)
      // lift a corpus-shaped frame into the boundary's encode space:
      // in "l2" mode, fixed-point-normalized values fed at scale 1
      // (already quantized — the trainers' ⌊x·1⌋ is the identity)
      def inMode(df: DataFrame, id: String): (DataFrame, Long) =
        if (encMode == "l2")
          (Similarity.l2NormalizeFixedPoint(df, scale, id, vecCol), 1L)
        else (df, scale)
      // the delta's fresh exact-integer encode under the CURRENT
      // codebooks — computed ONCE and shared by the drift monitor's
      // moved-share, the census monitor's landings, AND the
      // non-retrain upsert's kernel (all delta-sized; checkpointed so
      // none re-runs the scan — the kernel would otherwise recompute
      // the identical encode per the maintenance theorem). Its cid IS
      // the fresh coarse argmax.
      lazy val fresh = {
        val (dm, sc) = inMode(docs, idCol)
        quantizer.encode(dm, cbBase, sc, idCol, vecCol)
          .localCheckpoint(false) // lazy (r18): the first consumer (the
          // monitor collect or the upsert write) materializes the
          // blocks — no dedicated job per boundary
      }
      // ONE delta-sized pass feeds the drift moved-share AND the census
      // landings/vacated seats (r17 — see monitorStats: they were three
      // separate state-shuffling jobs per boundary)
      lazy val mstats = monitorStats(diff, fresh, stateBase)
      // the drift MONITOR (s29/s40): this boundary's MOVED-share — delta
      // rows whose fresh argmax list differs from their stored seat,
      // over all added∪changed delta rows. One delta-sized encode + one
      // id-join against the state; exact integers end to end, so the
      // boundary CHOICE replays in the oracle. Decided BEFORE the
      // corpus write so a retrain boundary compacts the corpus in the
      // same pass it trains over (r17). The marker row stays the manual
      // override; a recovery boundary supersedes it (the recovery
      // retrains anyway, in the new space).
      val drifted = markers == 0 && !recoverNow && driftPolicy.exists { p =>
        val (nMoved, nTot) = statMoved(mstats)
        driftStats += DriftStat(batchId, nMoved, nTot)
        p.triggers(nMoved, nTot)
      }
      // 1. corpus version: O(batch) delta at ordinary boundaries; a full
      // base at RETRAIN/RECOVERY boundaries (training scans the corpus
      // anyway — the natural compaction point) or when the chain
      // trailed compactEvery−1 deltas. The corpus lineage stores RAW
      // vectors in every mode — normalization is an encode-path
      // property, not a corpus rewrite.
      val willRetrain = recoverNow || markers > 0 || drifted
      corpusLin.writeBoundary(batchId, policy, diff, compact = willRetrain)(
        base = IndexMaintenance.upsert(corpusBase, diff, docs, idCol)(
          _.select(col(idCol).as("id"), col(vecCol))),
        rows = docs.select(col(idCol).as("id"), col(vecCol)))
      val corpusV = corpusLin.stateBelow(batchId + 1, initCorpusN)
      // 2 + 3. codebooks + state under this boundary's movement
      if (willRetrain) {
        // a RECOVERY boundary is the retrain movement in the NEW encode
        // space (inMode already reads "l2" at it): the measured
        // 0.920-recall recipe executed, not just named (s41)
        val (tc, sc) = inMode(corpusV, "id")
        val (newCb, newState) = quantizer.retrain(stateBase, tc, sc, vecCol)
        writeCb(newCb, batchId)
        stateLin.writeBase(newState, batchId, quantizer.partitionCols)
        if (recoverNow) normRecoveredAt += batchId
        else retrainedAt += batchId
        // a retrain rewrote every state row, so the incremental census
        // re-baselines from the state the retrain already produced (one
        // aggregate over a boundary that pays a corpus-scale pass by
        // definition)
        if (rebalancePolicy.isDefined)
          writeCensus(censusOf(stateLin.readBase(batchId)), batchId)
      } else {
        // the post-delta state: a compaction's base, and what a census
        // cut splits — it must base on what is PHYSICALLY in each list
        // (after a previous split the state is rank-chunked, not the
        // fresh argmax). Kernel = the already-checkpointed `fresh`:
        // `docs` IS the added∪changed delta, so upsert's semi-join
        // passes it through and the kernel is deterministically `fresh`
        val upserted = IndexMaintenance.upsert(stateBase, diff, docs,
          idCol)(_ => fresh)
        def advance(): Unit =
          stateLin.writeBoundary(batchId, policy, diff,
            quantizer.partitionCols)(base = upserted, rows = fresh)
        rebalancePolicy match {
          case None => advance()
          case Some(pol) =>
            // the census MONITOR (s34/s39): exact-integer list sizes of
            // the PHYSICAL state, maintained INCREMENTALLY — base
            // version + this delta's landings and vacated seats (both
            // from the shared monitorStats pass); the state is only
            // scanned to baseline a lineage (or re-baseline after a
            // retrain). Every touched id that EXISTS in the state
            // vacates its seat, any status: the upsert replaces a
            // re-"added" existing row too, and a status filter would
            // leave it a phantom seat
            val base = censusLin.chainBelow(batchId)._1
              .map(v => censusLin.readBase(v).collect()
                .map(r => r.getLong(0) -> r.getLong(1)).toMap)
              .getOrElse(censusOf(stateBase))
            val census = (base.toSeq ++ statLanded(mstats) ++
              statVacated(mstats).map { case (c, n) => c -> -n })
              .groupBy(_._1).view.mapValues(_.map(_._2).sum)
              .filter(_._2 > 0L).toMap
            val nTot = census.values.sum
            censusStats += CensusStat(batchId,
              if (census.isEmpty) 0L else census.values.max, nTot)
            if (census.exists { case (_, n) =>
                pol.splits(n, cbBase.coarse.length, nTot) }) {
              // the cut runs in the boundary's ENCODE SPACE (r17): in
              // l2 mode the stored codes and codebooks are normalized,
              // so the split members' re-encode must read the
              // normalized corpus at scale 1. Pure function of (corpus
              // version, state version, codebook base, policy) —
              // redelivery recuts identically
              val (cutCorpus, cutScale) = inMode(corpusV, "id")
              val (newCb, newState, mv) = quantizer.cut(upserted,
                cutCorpus, cbBase, pol, cutScale, vecCol)
              // the incremental census said SOME list crossed the bar;
              // an identity cut means the cut's own census — taken over
              // the physical state — disagreed with the maintained one:
              // the exact divergence class the r14 review chased.
              // Versioning the unchanged codebook and recording
              // rebalancedAt would mask it silently; fail loud.
              require(newCb.coarse.length > cbBase.coarse.length,
                s"census monitor: boundary $batchId crossed the split " +
                  "bar on the incremental census, but the cut over the " +
                  "physical state split nothing — the maintained census " +
                  s"has diverged from the ${quantizer.dir} state")
              writeCb(newCb, batchId)
              // the cut rewrites the full state by definition — a
              // natural compaction point, landed as a base
              stateLin.writeBase(newState, batchId, quantizer.partitionCols)
              rebalancedAt += batchId
              // post-split census from the movement's mover counts —
              // the split lists' members, never a state scan
              val movers = mv.filter(col("cid") >= cbBase.coarse.length.toLong)
                .groupBy(col("old_cid"), col("cid")).count().collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
              writeCensus(movers.foldLeft(census) { case (c, (o, nw, n)) =>
                c.updated(o, c.getOrElse(o, 0L) - n).updated(nw, n)
              }.filter(_._2 > 0L), batchId)
            } else {
              advance()
              writeCensus(census, batchId)
            }
        }
      }
      if (policy.vacuum) Seq(corpusLin, stateLin, cbLin, censusLin, normLin)
        .foreach(_.vacuumBelow(batchId))
      boundaries += Boundary(batchId, touched, signatured)
    }

    def result: RetrainRun =
      RetrainRun(stateLin.stateBelow(Long.MaxValue, initialState),
        boundaries.toSeq, retrainedAt.toSeq,
        driftStats.toSeq, rebalancedAt.toSeq, censusStats.toSeq,
        normStats.toSeq, normFlaggedAt.toSeq, normRecoveredAt.toSeq)
  }
}
